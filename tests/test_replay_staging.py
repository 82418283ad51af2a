"""Staged replay-input tripwires (round-4 postmortem).

Round 4's four red driver rows all traced to ONE cause: the streaming
replay staging cache reused chunk files staged before a corpus
refresh, because the staging marker signature was content-blind
(``tag|n_chunks|sf_dir``). The engine code was correct; the fixture
was stale. These tests make the next corpus refresh a non-event:

1. the marker signature must include corpus identity, and a stale
   marker must force a re-stage (cache-invalidation contract);
2. every staged layout's event-time span must MATCH the corpus span
   (> 1 day, year >= 2020 — the round-3 stale layouts spanned 21
   minutes of 1970), and the q58 doubled layout must hold exactly
   2x the corpus rows (content contract — catches any staleness mode
   the marker can't, e.g. a hand-edited chunk file);
3. the shared publish path behind every corpus-derived cache
   (``sources/fingerprint.py:cached_dir``): hits, new generations,
   inventory loss, publish races and stale targets.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import time

import duckdb
import pytest

from etfconstituentextractor_spark.sources.fingerprint import cached_dir, table_fingerprint
from etfconstituentextractor_spark.sources.tables import load
from etfconstituentextractor_spark.streaming.replay import (
    _corpus_fingerprint,
    stage_chunks,
    work_dir,
)


def _staged_stats(chunk_dir: str):
    """min(ts), max(ts), row count over the staged chunk files."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT min(ts), max(ts), count(*) "
            f"FROM read_parquet('{chunk_dir}/chunk_*.parquet')"
        ).fetchone()
    finally:
        con.close()


def _corpus_stats(sf_dir: str):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT min(ts)::TIMESTAMP, max(ts)::TIMESTAMP, count(*) "
            f"FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()
    finally:
        con.close()


def test_fingerprint_sees_partition_moves(tmp_path):
    """A file moved BETWEEN partition subdirectories with size+mtime
    preserved (rsync -a reshuffle) changes every row's partition
    column — the fingerprint must change (round-8 advice: basename
    keying was blind to this)."""
    import shutil

    root = tmp_path / "t.parquet"
    (root / "lang=en").mkdir(parents=True)
    (root / "lang=de").mkdir()
    f = root / "lang=en" / "part-0.parquet"
    f.write_bytes(b"x" * 64)
    before = table_fingerprint(str(tmp_path), "t")
    st = f.stat()
    dst = root / "lang=de" / "part-0.parquet"
    shutil.move(str(f), str(dst))
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns))  # mtime preserved
    after = table_fingerprint(str(tmp_path), "t")
    assert before != after


def test_reuse_marker_invalidates_on_corpus_change(spark, sf_dir):
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    marker = os.path.join(chunks, "_CACHE_OK")
    doc = json.load(open(marker))
    # the key must carry corpus identity, not just the recipe
    assert _corpus_fingerprint(sf_dir) in doc["key"]
    assert _corpus_fingerprint(sf_dir) != "missing"
    # the hit path stats exactly the two staged chunk files
    assert doc["files"] == ["chunk_000.parquet", "chunk_001.parquet"]

    # a reuse hit must NOT rebuild (same inode set)
    inodes_before = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    again = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    assert again == chunks
    inodes_reuse = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    assert inodes_reuse == inodes_before

    # simulate the round-4 failure: a marker written by an older code
    # version (content-blind key) guarding chunks from an older corpus
    with open(marker, "w") as fh:
        json.dump({"key": f"plain2|2|{sf_dir}", "files": doc["files"]}, fh)
    rebuilt = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    assert rebuilt == chunks
    assert json.load(open(marker)) == doc  # fresh, fingerprint-bearing key
    inodes_after = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    # the whole layout was re-staged (scratch build + claim)
    assert all(
        inodes_after[f] != inodes_before[f]
        for f in inodes_after
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# cached_dir: the one publish path behind every corpus-derived cache


@pytest.fixture
def cache_tmp(tmp_path, monkeypatch):
    """Point the cache root at a private temp dir; returns the root."""
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return tmp_path / f"etfce_cache_u{uid}"


def _builder(calls, payload="built"):
    def build(d):
        calls.append(d)
        os.makedirs(os.path.join(d, "sub"))
        with open(os.path.join(d, "sub", "data.bin"), "w") as fh:
            fh.write(payload)

    return build


def _target(root, name, key):
    return str(root / f"{name}-{hashlib.md5(key.encode()).hexdigest()}")


def test_cached_dir_hit_does_not_build(cache_tmp):
    calls = []
    d1 = cached_dir("t", "k1", _builder(calls))
    assert d1 == _target(cache_tmp, "t", "k1") and len(calls) == 1
    assert open(os.path.join(d1, "sub", "data.bin")).read() == "built"

    def must_not_build(d):
        raise AssertionError("a valid cache must be served, not rebuilt")

    assert cached_dir("t", "k1", must_not_build) == d1
    assert sorted(os.listdir(cache_tmp)) == [os.path.basename(d1)]


def test_cached_dir_corpus_change_builds_new_generation(cache_tmp, tmp_path):
    """A corpus refresh keys a NEW generation dir; the old one stays
    intact on disk for lazy frames still reading it."""
    src = tmp_path / "corpus"
    src.mkdir()
    (src / "t.parquet").write_bytes(b"x" * 16)
    calls = []
    old = cached_dir("t", table_fingerprint(str(src), "t"), _builder(calls, "v1"))
    (src / "t.parquet").write_bytes(b"y" * 32)  # refresh: new size + mtime
    new = cached_dir("t", table_fingerprint(str(src), "t"), _builder(calls, "v2"))
    assert new != old and len(calls) == 2
    assert open(os.path.join(old, "sub", "data.bin")).read() == "v1"
    assert open(os.path.join(new, "sub", "data.bin")).read() == "v2"


def test_cached_dir_missing_inventoried_file_rebuilds(cache_tmp):
    calls = []
    d1 = cached_dir("t", "k", _builder(calls))
    os.remove(os.path.join(d1, "sub", "data.bin"))  # tmp cleanup ate data
    d2 = cached_dir("t", "k", _builder(calls, "again"))
    assert d2 == d1 and len(calls) == 2
    assert open(os.path.join(d2, "sub", "data.bin")).read() == "again"


def test_cached_dir_adopts_prepublished_winner(cache_tmp):
    """A racer that published a valid layout while we were building
    wins: we serve its directory and remove our scratch build."""
    target = _target(cache_tmp, "t", "k")

    def build_and_lose(d):
        _builder([], "ours")(d)
        os.makedirs(os.path.join(target, "sub"))
        with open(os.path.join(target, "sub", "data.bin"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(target, "_CACHE_OK"), "w") as fh:
            json.dump({"key": "k", "files": ["sub/data.bin"]}, fh)

    assert cached_dir("t", "k", build_and_lose) == target
    assert open(os.path.join(target, "sub", "data.bin")).read() == "winner"
    assert [n for n in os.listdir(cache_tmp) if ".build-" in n] == []


def test_cached_dir_stale_target_serves_own_build(cache_tmp, monkeypatch):
    """A stale or partial target (no valid marker) never raises: the
    caller's own build is served — claimed at the target with the
    carcass moved aside, or straight from scratch when even that
    fails. A failing build leaves no scratch behind."""
    target = _target(cache_tmp, "t", "k")
    os.makedirs(target)
    with open(os.path.join(target, "junk.txt"), "w") as fh:
        fh.write("partial build carcass")
    served = cached_dir("t", "k", _builder([], "ours"))
    assert served == target
    assert open(os.path.join(served, "sub", "data.bin")).read() == "ours"
    assert len([n for n in os.listdir(cache_tmp) if ".stale-" in n]) == 1

    # same situation, but every rename fails: serve the scratch build
    os.remove(os.path.join(target, "_CACHE_OK"))

    def no_rename(a, b):
        raise OSError("rename refused")

    monkeypatch.setattr(os, "rename", no_rename)
    served = cached_dir("t", "k", _builder([], "scratch"))
    assert served == f"{target}.build-{os.getpid()}"
    assert open(os.path.join(served, "sub", "data.bin")).read() == "scratch"
    monkeypatch.undo()

    def broken(d):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        cached_dir("t", "other", broken)
    assert not os.path.exists(f"{_target(cache_tmp, 't', 'other')}.build-{os.getpid()}")


def test_staged_plain_layout_span_matches_corpus(spark, sf_dir):
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert (s_min, s_max, s_n) == (c_min, c_max, c_n)
    # the absolute guards the verdicts asked for: a 1000x-compressed
    # 1970-epoch replay (round 3's failure shape) violates both
    assert s_min.year >= 2020
    assert s_max - s_min > datetime.timedelta(days=1)


def test_staged_doubled_layout_is_exactly_twice_corpus(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    chunks = stage_chunks(spark, sf_dir, tag="q58_doubled", source=doubled, reuse=True)
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert s_n == 2 * c_n
    assert (s_min, s_max) == (c_min, c_max)


def test_extra_chunk_layout_spans_corpus_plus_extra(spark, sf_dir):
    """The hardlinked extra-chunk path (q57/q59's recipe) must carry
    the CURRENT corpus chunks — q57/q59 were the round-4 victims."""
    ev = load(spark, sf_dir, "events")
    extra = ev.orderBy("event_id").limit(1).selectExpr(
        "CAST(-1 AS BIGINT) AS event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )
    chunks = stage_chunks(
        spark, sf_dir, tag="tripwire_extra", n_chunks=2, extra_last_chunk=extra
    )
    assert chunks == work_dir(sf_dir, "tripwire_extra")
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert s_n == c_n + 1
    assert (s_min, s_max) == (c_min, c_max)
    assert s_max - s_min > datetime.timedelta(days=1)


def _race_build(d):
    time.sleep(0.2)  # keep every racer's build open past the barrier
    with open(os.path.join(d, "data.bin"), "w") as fh:
        fh.write("built")


def _race_worker(barrier, results):
    barrier.wait(timeout=120)
    results.put(cached_dir("race", "k", _race_build))


def test_cached_dir_concurrent_publishers_agree(tmp_path, monkeypatch):
    """More publishers than cores race one key: every process is served
    the same complete target, and no scratch build is left behind."""
    import multiprocessing

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    n = (os.cpu_count() or 4) + 2
    ctx = multiprocessing.get_context("spawn")
    barrier, results = ctx.Barrier(n), ctx.Queue()
    procs = [ctx.Process(target=_race_worker, args=(barrier, results)) for _ in range(n)]
    for p in procs:
        p.start()
    served = [results.get(timeout=180) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert not p.is_alive() and p.exitcode == 0
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = tmp_path / f"etfce_cache_u{uid}"
    assert set(served) == {_target(root, "race", "k")}
    assert open(os.path.join(served[0], "data.bin")).read() == "built"
    assert os.listdir(root) == [os.path.basename(served[0])]


def test_corpus_text_is_free_of_bpe_separator(sf_dir):
    """q81's BPE oracle folds over a chr(31)-joined symbol string; a
    corpus refresh that introduced that byte into document text would
    make DuckDB mis-split symbols while Spark (array-based) would not
    — a silent hash divergence. Guard the assumption per corpus state,
    alongside this module's other refresh tripwires."""
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE contains(text, chr(31))"
    ).fetchone()[0]
    assert n == 0


def test_committed_bpe_merges_stay_sql_safe():
    """The committed merge list is inlined into oracle SQL as quoted
    literals; symbols must stay free of the separator and of quote
    characters the two engines escape differently."""
    from etfconstituentextractor_spark.plans.llm_text import _BPE_MERGES

    for a, b in _BPE_MERGES:
        for sym in (a, b):
            assert "\x1f" not in sym and "'" not in sym and "\\" not in sym
