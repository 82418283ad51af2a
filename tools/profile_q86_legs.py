#!/usr/bin/env python
"""Leg-by-leg timing for q86_snapshot_diff (round-13 verdict ask #3:
attribute the +14% min-to-min drift, 2.57s -> 2.92s across rounds 11
-> 12, which landed with NO new leg).

Decomposition strategy (the decompose_q99 pattern, adapted): q86 is a
UNION of independent legs over two snapshot tables served from the
shared corpus-artifact cache (sources/fingerprint.py:cached_dir), so
instead of cumulative prefixes we time (a) the table cache
resolution (cold vs warm — the '__bytes' stats capture lands at COMMIT
time, i.e. only in the cold build), then (b) each leg's frame with a
noop sink, min-of-3, then (c) the full union as shipped. If the drift
were the round-12 '__bytes' capture, the WARM path would be unchanged
and only the cold build heavier; if it's the virtualized-disk read
throttle the postscript measured (37.5 vs 1345 MB/s back-to-back), the
read-heavy legs (diff/scd2/mv read the parquet corpus 2-3x) drift
together while the manifest-planned snapshot reads stay flat.

Emits one JSON line; archive under bench_runs/ manually if the numbers
decide anything.
"""
from __future__ import annotations

import gc
import json
import os

import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etfconstituentextractor_spark.session import get_session
from etfconstituentextractor_spark.sources.tables import load

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = get_session(app_name="q86-decompose")
spark.range(1_000_000).selectExpr("sum(id)").collect()
load(spark, SF_DIR, "documents").limit(1).write.format("noop").mode(
    "overwrite"
).save()

import etfconstituentextractor_spark.plans.llm_refresh as lr
from etfconstituentextractor_spark.plans.llm_refresh import (
    _INSERT_SHIFT,
    _DV_DELETE_LT,
    _lang_agg,
    _leg_frame,
    _merge_table,
    _timetravel_table,
)
from etfconstituentextractor_spark.operators.incremental_agg import (
    apply_group_delta,
    cdc_group_delta,
)
from etfconstituentextractor_spark.operators.scd2 import scd2_history
from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff
from etfconstituentextractor_spark.sources.snapshot_table import (
    snapshot_changes,
    snapshot_read,
)

results: dict[str, float] = {}


def timed(name, fn, n=3):
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        if out is not None:
            out.write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
        del out
        gc.collect()
    results[name] = min(runs)
    print(f"## {name}: min={min(runs)} runs={runs}", file=sys.stderr)


# ---- table cache: cold build vs warm resolution -------------------------
def _corpus_frames():
    d = load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    survivors = d.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" (rev2)"))
        ).otherwise(F.col("text")),
    )
    inserts = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(_INSERT_SHIFT)).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
        "lang",
    )
    new = survivors.unionByName(inserts)
    late = d.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + F.lit(2 * _INSERT_SHIFT)).alias("doc_id"),
        F.concat(F.lit("late "), F.col("text")).alias("text"),
        "lang",
    )
    return d, new, late


def tt_table():
    d, new, late = _corpus_frames()
    return _timetravel_table(
        spark,
        SF_DIR,
        [
            (d, "overwrite"),
            (new.repartitionByRange(4, "doc_id"), "overwrite"),
            (late, "append"),
        ],
        deletes=[("doc_id", "<", _DV_DELETE_LT)],
    )


# first resolution (cold if the fingerprint cache is absent — the
# container's /tmp is periodically wiped by an external cleanup, so
# never assume the cache survives between tool runs), then a second
# resolution which is warm BY CONSTRUCTION. cold-vs-warm is the
# '__bytes'-capture attribution: the stats capture runs at COMMIT
# time only, so it can only show up in the first number.
t0 = time.perf_counter()
tbl = tt_table()
mtbl = _merge_table(spark, SF_DIR)
results["table_resolve_first"] = round(time.perf_counter() - t0, 3)
t0 = time.perf_counter()
tbl = tt_table()
mtbl = _merge_table(spark, SF_DIR)
results["table_resolve_warm"] = round(time.perf_counter() - t0, 3)
print(
    f"## table_resolve first={results['table_resolve_first']} "
    f"warm={results['table_resolve_warm']}",
    file=sys.stderr,
)

# ---- per-leg frames (mirrors plans/llm_refresh.py:q86 bodies) -----------
d, new, late = _corpus_frames()
d_ck = d
new_ck = new

timed("leg_diff", lambda: _leg_frame(
    snapshot_diff(d_ck, new_ck, keys=["doc_id"], compare_cols=["text", "lang"]),
    "diff", lang=None,
))


def scd2_frame():
    v3 = new_ck.filter(F.col("doc_id") % 19 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" (rev3)"))
        ).otherwise(F.col("text")),
    )
    return _leg_frame(
        scd2_history([(1, d_ck), (2, new_ck), (3, v3)], keys=["doc_id"],
                     compare_cols=["text", "lang"]),
        "scd2", new_hash=F.col("row_hash"),
    )


timed("leg_scd2", scd2_frame)


def mv_frame():
    base = d_ck.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).cast("bigint").alias("m"),
    )
    delta = cdc_group_delta(
        d_ck, new_ck, key_col="doc_id", group_col="lang",
        measure_expr="length(text)",
    )
    return _leg_frame(apply_group_delta(base, delta, group_col="lang"), "mv",
                      n_docs=F.col("n"), sum_chars=F.col("m"))


timed("leg_mv", mv_frame)

for v in (0, 1, 2):
    timed(f"leg_timetravel_v{v}", lambda v=v: _leg_frame(
        _lang_agg(snapshot_read(spark, tbl, v)), "timetravel", valid_from=v))
timed("leg_dv", lambda: _leg_frame(
    _lang_agg(snapshot_read(spark, tbl, 3)), "dv", valid_from=3))
timed("leg_cdf", lambda: _leg_frame(
    snapshot_changes(spark, tbl, 2, 3, keys=["doc_id"]).select("doc_id", "change"),
    "cdf", valid_from=3))
timed("leg_prune", lambda: _leg_frame(
    _lang_agg(snapshot_read(spark, tbl, 2, where=("doc_id", ">=", 2 * _INSERT_SHIFT))),
    "prune", valid_from=2))
timed("leg_merge", lambda: _leg_frame(_lang_agg(snapshot_read(spark, mtbl, 1)), "merge"))
timed("leg_restore", lambda: _leg_frame(_lang_agg(snapshot_read(spark, mtbl, 2)), "restore"))

# ---- the full shipped query --------------------------------------------
from __spark_entry__ import queries

timed("q86_full", lambda: queries()["q86_snapshot_diff"](spark, SF_DIR))

results["sf_dir"] = SF_DIR
print(json.dumps(results))
spark.stop()
