"""Micro-batch replay harness for the `events` table (SURVEY.md §2B
"Streaming — source/sink for tests", Phase 6).

The corpus `events` table is a bounded snapshot of an unbounded
stream; this harness replays it through a REAL Structured Streaming
file source so the streaming operators run the genuine incremental
path (state store, watermark advancement, append finalization), not a
batch shortcut:

- the table is split into N chunk files in event-time order (ts is
  monotone in event_id), each chunk's mtime strictly increasing, so
  the file source + ``maxFilesPerTrigger=1`` processes them as N
  ordered micro-batches — watermarks advance between batches exactly
  as they would on a live stream. Chunk assignment is equal-width
  event_id ranges from one min/max aggregate (two scalars to the
  driver, staging-only) — never a global window, which would drag the
  whole table through a single partition once per chunk;
- ``Trigger.AvailableNow`` terminates after the backlog drains, which
  makes the run a finite, deterministic function of the input — the
  batch-equivalent SQL over the same parquet is therefore a valid
  DuckDB oracle (hash-matched, not rows-only);
- chunk/checkpoint/sink dirs are wiped per call: every invocation is
  a fresh stream, never a checkpoint resume.

At production scale the same query text runs unchanged against a real
unbounded source (kafka/files); only this fixture staging is
test-local.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etfconstituentextractor_spark.sources.fingerprint import cached_dir, table_fingerprint
from etfconstituentextractor_spark.sources.tables import load

#: schema of the staged chunk files (ts already normalized to
#: timestamp_ntz by the typed loader).
EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _corpus_fingerprint(sf_dir: str) -> str:
    """Identity of the corpus `events` table: per-file (name, size,
    mtime_ns), so an in-place corpus refresh (new mtime) or rewrite
    (new size) invalidates every staged layout derived from it.

    Round-4 postmortem: the reuse marker was content-blind
    (``tag|n_chunks|sf_dir``), so chunk files staged BEFORE a corpus
    refresh kept replaying afterward — four red driver rows traced to
    one missing term in this signature. Every layout recipe here
    (plain chunks, the q58 doubled stream, hardlinked extra-chunk
    dirs) is a deterministic function of (tag, corpus), so tag +
    corpus identity is a COMPLETE cache key.
    """
    return table_fingerprint(sf_dir, "events")


def work_dir(sf_dir: str, tag: str) -> str:
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"etfce_stream_{tag}_{sf}")


def _write_chunk(df: DataFrame, base: str, idx: int, mtime: float) -> None:
    """One chunk = one parquet file with a pinned mtime.

    ``repartition(1)``, NOT ``coalesce(1)``: collapsing a unioned /
    multi-source plan into the write task with coalesce(1) defeats the
    scan's split planning and measured 6x slower on exactly the
    staging shapes used here; the one-partition shuffle of a chunk's
    rows is trivial by comparison.
    """
    tmp = os.path.join(base, f"_stage_{idx}")
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    src_file = next(
        f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith("_")
    )
    dst = os.path.join(base, f"chunk_{idx:03d}.parquet")
    shutil.move(os.path.join(tmp, src_file), dst)
    _clean(tmp)
    os.utime(dst, (mtime, mtime))


def stage_chunks(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    n_chunks: int = 4,
    source: DataFrame | None = None,
    extra_last_chunk: DataFrame | None = None,
    reuse: bool = False,
) -> str:
    """Write `events` (or ``source``) as ``n_chunks`` single parquet
    files in event-time order with increasing mtimes; returns the
    directory to stream from.

    Chunk i holds the i-th equal-width ``event_id`` range (ts is
    monotone in event_id, so id ranges ARE event-time ranges). The
    min/max come from one aggregate — two scalars to the driver,
    acceptable in staging-only code; per-chunk writes are then plain
    pushed-filter scans. The previous spelling
    (``ntile().over(W.orderBy(...))``) dragged the full table through
    ONE partition once per chunk and spammed every bench log with
    `WindowExec: No Partition Defined`.

    ``extra_last_chunk`` rows become their OWN final chunk (one extra
    micro-batch after the data batches) — the late-arrival / sentinel
    fixture: by the time they arrive, the watermark has advanced past
    the data's event time. Writing them as a separate file (rather
    than unioning into the last data chunk) keeps the data chunks
    identical to the plain layout, so the query dir is built from
    HARDLINKS to the shared ``plain{n}`` staging plus one tiny write —
    per-query staging cost drops from two full scans+writes to a
    marker check.

    ``reuse=True`` serves the layout from the shared corpus-artifact
    cache (``sources/fingerprint.py:cached_dir``) keyed by (tag,
    n_chunks, sf_dir, corpus fingerprint) — every layout recipe is a
    deterministic function of its tag plus the corpus, so identical
    layouts are shared across queries and runs, and a corpus refresh
    (changed size/mtime of events.parquet) stages a new generation.
    (If a tag's recipe ever changes in code, bump the tag. A caller
    passing a ``source`` NOT derived from the corpus events table must
    not set reuse.) Not honored for ``extra_last_chunk`` callers:
    extras frames can embed query-specific values, and their staging
    is near-free anyway.
    """
    if reuse and extra_last_chunk is None:
        key = f"{tag}|{n_chunks}|{sf_dir}|{_corpus_fingerprint(sf_dir)}"
        return cached_dir(
            f"stream_{tag}",
            key,
            lambda d: _write_chunks(spark, sf_dir, d, n_chunks, source),
        )

    base = work_dir(sf_dir, tag)
    if source is None and extra_last_chunk is not None:
        # data chunks == the shared plain layout: link, don't re-stage
        shared = stage_chunks(spark, sf_dir, f"plain{n_chunks}", n_chunks, reuse=True)
        _clean(base)
        os.makedirs(base, exist_ok=True)
        for f in sorted(os.listdir(shared)):
            if f.endswith(".parquet"):
                try:
                    os.link(os.path.join(shared, f), os.path.join(base, f))
                except OSError:  # cross-device fallback
                    shutil.copy2(os.path.join(shared, f), os.path.join(base, f))
        # shared chunk mtimes are ~an hour in the past; "now" is
        # strictly later, so the extra chunk is the final micro-batch
        _write_chunk(extra_last_chunk, base, n_chunks, time.time())
        return base

    _clean(base)
    os.makedirs(base, exist_ok=True)
    _write_chunks(spark, sf_dir, base, n_chunks, source)
    return base


def _write_chunks(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    n_chunks: int,
    source: DataFrame | None,
) -> None:
    """Stage ``source`` (default: corpus `events`) into ``base`` as
    ``n_chunks`` equal-width event_id ranges with increasing mtimes."""
    ev = source if source is not None else load(spark, sf_dir, "events")
    ev = ev.select(*[f.split(" ")[0] for f in EVENTS_DDL.split(", ")])
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    width = max(1, (int(hi) - int(lo) + n_chunks) // n_chunks)  # ceil
    t0 = time.time() - 3600
    for i in range(n_chunks):
        cond = F.col("event_id") >= int(lo) + i * width
        if i < n_chunks - 1:
            cond = cond & (F.col("event_id") < int(lo) + (i + 1) * width)
        _write_chunk(ev.filter(cond), base, i, t0 + i * 10)


def read_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


#: state-store partition count for replay runs. A stateful streaming
#: op creates shuffle.partitions state partitions PER BATCH; at replay
#: volume (1e5-ish rows over a handful of micro-batches) the per-
#: partition fixed cost dominates — 8 vs 32 partitions is ~2x wall
#: time. A production deployment sizes this to sustained throughput
#: instead (the count is frozen into the checkpoint at first start).
REPLAY_SHUFFLE_PARTITIONS = 8


class _replay_shuffle:
    """Temporarily pin shuffle.partitions for a stream start (the
    query captures the value at planning time), then restore.

    ``n`` overrides the replay default: JVM-side stateful ops want FEW
    partitions (per-partition state-store fixed cost dominates at
    replay volume), but a PYTHON-side stateful op
    (applyInPandasWithState) is throughput-bound on Python workers —
    its wall time scales with partition count up to the core count, so
    those callers pass a higher n."""

    def __init__(self, spark, n: int | None = None):
        self.spark = spark
        self.n = n or REPLAY_SHUFFLE_PARTITIONS

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def run_to_memory(sdf: DataFrame, name: str, mode: str, sf_dir: str) -> DataFrame:
    """Drain the stream into an in-memory table (bounded aggregate
    results only) and return it as a batch DataFrame."""
    return run_many_to_memory([(sdf, name)], mode, sf_dir)[0]


def run_many_to_memory(
    named: list[tuple[DataFrame, str]], mode: str, sf_dir: str
) -> list[DataFrame]:
    """Drain several independent streams CONCURRENTLY into in-memory
    tables; returns their batch DataFrames in input order. Raises
    ValueError on an empty stream list (rather than a confusing
    IndexError from the session lookup).

    Spark allows one stateful aggregation per stream, so a query
    needing two (q55's tumbling + sliding) runs two streams — but
    sequentially each pays the full micro-batch fixed cost (state
    commits, offset/commit log fsyncs) on a mostly idle pool. Starting
    both before awaiting either overlaps those costs (measured at
    sf0.1: 3.1s → 1.6s for q55); AvailableNow still bounds each run,
    so the result is the same deterministic function of the input."""
    if not named:
        raise ValueError("run_many_to_memory needs at least one stream")
    spark = named[0][0].sparkSession
    qs = []
    with _replay_shuffle(spark):
        for sdf, name in named:
            ckpt = work_dir(sf_dir, f"ckpt_{name}")
            _clean(ckpt)
            qs.append(
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        for q in qs:
            q.awaitTermination()
    return [spark.table(name) for _, name in named]


def run_to_parquet(
    sdf: DataFrame, tag: str, sf_dir: str, shuffle_partitions: int | None = None
) -> DataFrame:
    """Drain the stream into a parquet file sink (append mode — the
    scale-correct sink: nothing collects to the driver) and return the
    sink's contents."""
    return run_many_to_parquet([(sdf, tag)], sf_dir, shuffle_partitions)[0]


def run_many_to_parquet(
    tagged: list[tuple[DataFrame, str]],
    sf_dir: str,
    shuffle_partitions: int | None = None,
) -> list[DataFrame]:
    """Drain several independent append-mode streams CONCURRENTLY into
    parquet file sinks (the run_many_to_memory overlap, for sinks that
    must not collect): all streams start before any is awaited, so the
    per-micro-batch fixed costs overlap on the idle pool."""
    if not tagged:
        raise ValueError("run_many_to_parquet needs at least one stream")
    spark = tagged[0][0].sparkSession
    outs, qs = [], []
    with _replay_shuffle(spark, shuffle_partitions):
        for sdf, tag in tagged:
            out = work_dir(sf_dir, f"sink_{tag}")
            ckpt = work_dir(sf_dir, f"ckpt_{tag}")
            _clean(out)
            _clean(ckpt)
            outs.append(out)
            qs.append(
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        for q in qs:
            q.awaitTermination()
    return [spark.read.parquet(out) for out in outs]
