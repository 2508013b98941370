"""Round-13 tests.

1. vector_pca_power on a degenerate (zero-covariance) corpus: the
   shrunk iterate collapses to all-zero, den = Σv² = 0 and the trace
   is 0 — both previously divided by zero (and the oracle yielded
   NULL/inf, diverging). Now both sides emit 0.0 rows, hash-matched.
2. stream_dedup_adaptive (VERDICT r12 "missing #1"): ONE dedup whose
   salt engages only on detected key skew — pinned on BOTH regimes:
   uniform keys stay unsalted (decision recorded, output == oracle ==
   the unsalted job), a planted 90%-one-user corpus salts (decision
   recorded, output == oracle == unsalted == always-salted), and
   in-TTL different-ts replays are suppressed under the adaptive
   partial salt exactly as under both fixed forms.
3. connected_components' checkpoint kind follows the session's
   master, and a memory-sink drain that fails leaves no sink name
   or view behind.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY, load_all_operators)
from open_reaction_database_web_scraper_spark.streaming import jobs
from open_reaction_database_web_scraper_spark.testing import compare

load_all_operators()


def run(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


T0 = dt.datetime(2024, 6, 1)


def _m(minutes=0, hours=0):
    return T0 + dt.timedelta(minutes=minutes, hours=hours)


def _ev(eid, ts, uid, val=1.0):
    return (eid, ts, uid, "e", val, "{}")


def _rows4(df):
    return sorted((r.event_id, r.user_id, r.t_us, r.value)
                  for r in df.collect())


def test_pca_degenerate_zero_corpus(spark, tmp_path):
    """All-zero embeddings → zero Gram, zero covariance, all-zero
    iterate: den == 0 and trace == 0. The engine must emit d rows of
    (dim, 0.0, 0.0, 0.0) instead of raising ZeroDivisionError, and
    the oracle's mirrored CASE must produce the identical frame."""
    d = 8
    df = spark.createDataFrame(
        [(int(i), [0.0] * d, 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = run("vector_pca_power", spark, str(tmp_path))
    rows = out.collect()
    assert len(rows) == d
    assert all(r.loading == 0.0 and r.eigenvalue == 0.0
               and r.explained_var == 0.0 for r in rows)
    ok, msg = compare(out, REGISTRY["vector_pca_power"].oracle,
                      str(tmp_path), "pca_degenerate")
    assert ok, msg


# ------------------- adaptive TTL dedup: salt as a policy -----------

def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(rows, jobs._EVENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def test_dedup_adaptive_uniform_stays_unsalted(spark, tmp_path):
    """Uniform keys (12 users, 10 events each — nobody near 16× the
    median) must NOT salt: the detector returns an empty hot set,
    the recorded decision says so, and the output is exactly the
    unsalted job's (same rows, same DISTINCT oracle)."""
    rows = [_ev(i, _m(i), 100 + i % 12, float(i % 5))
            for i in range(120)]
    _write_events(spark, tmp_path, rows)
    out = run("stream_dedup_adaptive", spark, str(tmp_path))
    got = _rows4(out)
    assert jobs.LAST_DEDUP_SALT_DECISION == {
        "salted": False, "n_hot_users": 0}
    ok, msg = compare(out, REGISTRY["stream_dedup_adaptive"].oracle,
                      str(tmp_path), "dedup_adaptive_uniform")
    assert ok, msg
    assert got == _rows4(run("stream_dedup_ttl", spark, str(tmp_path)))


def test_dedup_adaptive_salts_on_hot_key(spark, tmp_path):
    """The planted 90%-one-user corpus (the regime the round-12 skew
    probe measured going superlinear unsalted): the detector must
    find exactly the hot user, the decision must record it, and the
    output must equal the oracle, the unsalted job, AND the
    always-salted job — partial salting is correctness-free.

    Corpus: 90% one hot user, 30 cold users with one event each —
    the median per-user count is the COLD regime (1), so 16× median
    marks exactly the hot user. (A two-user corpus would not
    trigger: with half the users hot, the median IS the hot count —
    the distribution-relative threshold is an outlier detector, not
    a top-1 finder.)"""
    rows = []
    for i in range(300):
        uid = 777 if i % 10 < 9 else 200 + (i // 10) % 30
        rows.append(_ev(i, _m(i), uid, float(i % 7)))
    _write_events(spark, tmp_path, rows)
    adaptive = run("stream_dedup_adaptive", spark, str(tmp_path))
    got = _rows4(adaptive)
    assert jobs.LAST_DEDUP_SALT_DECISION == {
        "salted": True, "n_hot_users": 1}
    ok, msg = compare(adaptive, REGISTRY["stream_dedup_adaptive"].oracle,
                      str(tmp_path), "dedup_adaptive_hotkey")
    assert ok, msg
    assert got == _rows4(run("stream_dedup_ttl", spark, str(tmp_path)))
    assert got == _rows4(run("stream_dedup_salted", spark, str(tmp_path)))


def test_dedup_adaptive_suppresses_in_ttl_replays(spark, tmp_path):
    """Duplicate-bearing hot-key corpus: three different-ts IN-TTL
    replays (hot user 777 shard 5 twice; COLD user 200's id 9 within
    its 1 h TTL — every replayed (user, shard) state is still live
    at replay time) must be suppressed under the adaptive partial
    salt; output = the 300 originals exactly, bit-identical to the
    unsalted job."""
    rows = []
    for i in range(300):
        uid = 777 if i % 10 < 9 else 200 + (i // 10) % 30
        rows.append(_ev(i, _m(i), uid, float(i % 7)))
    replays = [_ev(5, _m(60), 777, 5.0),
               _ev(9, _m(65), 200, 2.0),
               _ev(77, _m(100), 777, 0.0)]
    _write_events(spark, tmp_path, rows + replays)
    adaptive = run("stream_dedup_adaptive", spark, str(tmp_path))
    got = _rows4(adaptive)
    assert jobs.LAST_DEDUP_SALT_DECISION["salted"] is True
    assert len(got) == 300
    assert got == _rows4(run("stream_dedup_ttl", spark, str(tmp_path)))
    # replays carry LATER ts: the emitted t_us per replayed id must
    # be the original's (min over the parquet)
    first = {r.event_id: r.t_us for r in
             spark.read.parquet(f"{tmp_path}/events.parquet")
             .groupBy("event_id")
             .agg((F.min("ts").cast("timestamp_ltz").cast("bigint")
                   * 1_000_000).alias("t_us")).collect()}
    emitted = dict((eid, t) for eid, _u, t, _v in got)
    for eid in (5, 9, 77):
        assert emitted[eid] == first[eid]


def test_drop_drained_memory_sinks_frees_sink_tables(spark, sf_dir):
    """Each _run_to_memory call registers an s<12-hex> temp view whose
    memory sink keeps the drained rows on the driver heap for the
    session's lifetime — three 10 M-row stateful jobs in one sweep
    JVM OOMed the sf10 gate (SCALING.md round 13). Pins: the harness
    cleanup drops EXACTLY the sink views (count matches, none left),
    and an unrelated user temp view survives."""
    from open_reaction_database_web_scraper_spark.testing import (
        _SINK_NAME_RE, drop_drained_memory_sinks)

    drop_drained_memory_sinks(spark)  # start clean of earlier tests'
    spark.range(3).createOrReplaceTempView("keep_me_not_a_sink")
    before = {t.name for t in spark.catalog.listTables()
              if _SINK_NAME_RE.fullmatch(t.name)}
    assert not before
    run("stream_watermark_late", spark, sf_dir).count()
    run("stream_dedup_stateful", spark, sf_dir).count()
    sinks = {t.name for t in spark.catalog.listTables()
             if _SINK_NAME_RE.fullmatch(t.name)}
    assert sinks, "expected at least one drained memory-sink view"
    n = drop_drained_memory_sinks(spark)
    assert n == len(sinks)
    left = {t.name for t in spark.catalog.listTables()}
    assert not any(_SINK_NAME_RE.fullmatch(name) for name in left)
    assert "keep_me_not_a_sink" in left
    spark.catalog.dropTempView("keep_me_not_a_sink")


def test_failed_drain_leaves_no_memory_sink(spark, tmp_path):
    """A drain that raises records no name in jobs.MEMORY_SINKS and
    leaves no sink view behind: the name is recorded only after the
    stream terminates cleanly, and a failed drain drops its view."""
    from open_reaction_database_web_scraper_spark.testing import (
        _SINK_NAME_RE)

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    bad = (spark.readStream.schema("id long").parquet(src)
           .select(F.raise_error(F.lit("planted drain failure"))
                   .alias("x")))

    def sink_views():
        return {t.name for t in spark.catalog.listTables()
                if _SINK_NAME_RE.fullmatch(t.name)}

    names, views = set(jobs.MEMORY_SINKS), sink_views()
    with pytest.raises(Exception, match="planted drain failure"):
        jobs._run_to_memory(bad, "append")
    assert jobs.MEMORY_SINKS == names
    assert sink_views() == views


def test_master_classification():
    """Only local and local[...] count as local masters: local-cluster
    and standalone masters run executors in their own JVMs."""
    from open_reaction_database_web_scraper_spark.operators import dedup

    for m in ("local", "local[4]", "local[*,4]"):
        assert dedup._is_local_master(m), m
    for m in ("local-cluster[2,1,1024]", "spark://h:7077"):
        assert not dedup._is_local_master(m), m


def test_cc_checkpoint_kind_follows_master(spark, tmp_path, monkeypatch):
    """connected_components uses localCheckpoint on the local test
    session and a reliable checkpoint() into the SparkContext's
    checkpoint dir on any other master (a localCheckpoint dies with
    its executor there). Pins: mode recorded per master, identical
    labels, and exactly one rdd-* directory left on disk."""
    import os as _os

    from open_reaction_database_web_scraper_spark.operators import dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "src long, dst long")
    local = sorted(map(tuple,
                       dedup.connected_components(edges).collect()))
    assert dedup.LAST_CC_CHECKPOINT_MODE == "local"
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    monkeypatch.setattr(dedup, "_is_local_master", lambda master: False)
    reliable = sorted(map(tuple,
                          dedup.connected_components(edges).collect()))
    assert dedup.LAST_CC_CHECKPOINT_MODE == "reliable"
    assert reliable == local
    rdd_dirs = [name for _, dirs, _ in _os.walk(ckpt)
                for name in dirs if name.startswith("rdd-")]
    # bounded, not O(rounds): each round deletes the previous round's
    # directory once the new checkpoint is materialized (a CC call
    # over a diameter-3 chain runs ~4 rounds; without cleanup the
    # walk would find one rdd-* dir per round). Only the final
    # round's directory — the one the returned DataFrame reads —
    # may remain.
    assert len(rdd_dirs) == 1, rdd_dirs
