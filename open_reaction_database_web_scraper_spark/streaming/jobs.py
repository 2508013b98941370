"""True Structured Streaming jobs (SURVEY.md §2.9, stateful rows).

Each job replays ``events`` as a file stream (the table split into
time-ordered chunk files with staggered mtimes so micro-batch order
is deterministic), runs a stateful streaming query to completion
with ``availableNow``, and returns the final result as a DataFrame.
In-order replay makes every job's final state deterministic, so each
registers a full DuckDB oracle (the batch-SQL statement of what the
stream must converge to); micro-batch/watermark mechanics are
additionally pinned by tests/test_streaming_equiv.py.

Reference analogs: per-record retry loop (web_scrpaer_2.py:338-385),
seen-set dedup (:422), politeness rate limit (:459).
"""

from __future__ import annotations

import atexit
import decimal
import os
import shutil
import tempfile
import threading
import time
import uuid

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.analytics import FUNNEL_ORACLE_SQL
from ..registry import register

# Raw parquet schema of the chunk files we write (ts kept as NTZ —
# we rewrite the chunks ourselves, so no nanos issue on re-read).
_EVENTS_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                  "event_type string, value double, props string")


_TMPDIRS: list[str] = []

# Names of every memory-sink temp view _run_to_memory has registered
# in this process. testing.drop_drained_memory_sinks drops ONLY names
# recorded here (ADVICE r13 #4): a colliding user temp view that
# merely looks like a sink name is never touched.
MEMORY_SINKS: set[str] = set()


def _tmpdir(prefix: str) -> str:
    """mkdtemp that is actually cleaned up: every streaming job used
    to leak its chunk/checkpoint/sink dirs (each holding a copy of
    the events table) into /tmp on every invocation — repeated
    sweeps accumulated unbounded copies of the dataset. Registered
    for removal at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    if not _TMPDIRS:
        atexit.register(_cleanup_tmpdirs)
    _TMPDIRS.append(d)
    return d


def _cleanup_tmpdirs() -> None:
    for d in _TMPDIRS:
        shutil.rmtree(d, ignore_errors=True)


def _events_stream(spark: SparkSession, src: str,
                   cast_ltz: bool = False) -> DataFrame:
    """The shared replay-source contract: schema-pinned file stream,
    one chunk file per micro-batch (single-sourced here — it was
    repeated at every job). ``cast_ltz`` converts ts NTZ→LTZ for
    jobs that need watermarks (event-time requires TIMESTAMP)."""
    stream = (spark.readStream.schema(_EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    if cast_ltz:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _chunked_events_dir(spark: SparkSession, sf_dir: str, copies: int = 1,
                        n_chunks: int = 4) -> str:
    """Materialize events as n time-ordered chunk files for replay.

    Chunk k holds the k-th quantile of event time; file mtimes are
    staggered ascending so the file-stream source (which orders by
    modification time) replays them in event-time order — a
    deterministic stand-in for an arriving stream.
    """
    ev = load(spark, sf_dir, "events")
    if copies > 1:
        dup = ev
        for _ in range(copies - 1):
            dup = dup.unionByName(ev)
        ev = dup
    # asc_nulls_last pins the NULL-ts convention to the batch twins'
    # and oracles' ORDER BY ts NULLS LAST (DuckDB default): the ntile
    # default is NULLS FIRST, which would replay null-ts events in a
    # DIFFERENT chunk than the batch window visits them — moot on
    # generated data (events.ts is never null at any SF) but a silent
    # stream/batch divergence on hostile input (round-10 advice).
    chunk = F.ntile(n_chunks).over(
        Window.orderBy(F.asc_nulls_last("ts"), "event_id"))
    out = _tmpdir("ordspark_stream_src_")
    chunked = ev.withColumn("chunk", chunk)
    # ONE pass (round-13 optimization; guide §2.4 "remove shuffles
    # outright"): the previous form filtered chunk == k and wrote,
    # k times — and each filter RECOMPUTED the global ntile window,
    # so building the replay source cost 4 window sorts + 4 writes
    # (~2.2 s of every dedup-family invocation at sf0.1,
    # OPTIMIZATION_r13.md "Where the streaming time actually goes").
    # A partitionBy("chunk") write of the single-partition window
    # output materializes the window once and emits exactly one part
    # file per chunk value (one task, the dynamic-partition writer
    # starts a new file per value); the files are then MOVED into the
    # flat replay dir in chunk order.
    # Chunks hold the same ROWS per chunk as the old per-filter form
    # (same window, same ntile assignment); within-chunk row order is
    # not guaranteed (the partition sort is by chunk only) — no
    # consumer depends on intra-micro-batch order (ADVICE r13 #2).
    # The 1-file-per-chunk contract additionally assumes
    # spark.sql.files.maxRecordsPerFile is unset/0 (checked below):
    # a records cap would split a chunk into several files and
    # silently change the replay's batch boundaries.
    if str(chunked.sparkSession.conf.get(
            "spark.sql.files.maxRecordsPerFile", "0")) not in ("0", ""):
        raise RuntimeError(
            "replay builder requires spark.sql.files.maxRecordsPerFile "
            "unset (one chunk must stay one file == one micro-batch)")
    stage = _tmpdir("ordspark_stream_stage_")
    chunked.write.mode("overwrite").partitionBy("chunk").parquet(stage)
    now = time.time()
    for k in range(1, n_chunks + 1):
        cdir = os.path.join(stage, f"chunk={k}")
        parts = sorted(f for f in os.listdir(cdir)
                       if f.endswith(".parquet")) if os.path.isdir(cdir) \
            else []
        if not parts:
            # ntile leaves trailing chunks empty when rows < n_chunks;
            # the old per-chunk-filter builder silently skipped them
            # (an append of zero rows) — keep that behavior (ADVICE
            # r13 #1) instead of blaming the writer's layout.
            continue
        if len(parts) != 1:  # replay contract: 1 file == 1 micro-batch
            raise RuntimeError(
                f"chunk {k}: expected exactly 1 part file, got "
                f"{len(parts)} — single-partition window write "
                "produced an unexpected layout")
        dst = os.path.join(out, f"chunk-{k:04d}.parquet")
        shutil.move(os.path.join(cdir, parts[0]), dst)
        os.utime(dst, (now + k, now + k))
    shutil.rmtree(stage, ignore_errors=True)
    _TMPDIRS.remove(stage)
    return out


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Drain an availableNow stream through a memory sink and return
    its output as the sink's temp view.

    Each micro-batch's output is collected to the driver. That is the
    measured local optimum: a parquet streaming sink lost 1.5–7 s per
    query to tiny per-batch files and ``_spark_metadata`` commits
    (OPTIMIZATION_r13.md, "file sink instead of memory sink"). The
    view pins its rows on the driver heap until
    ``testing.drop_drained_memory_sinks`` drops it. The name is
    recorded in ``MEMORY_SINKS`` only once the drain has succeeded;
    a failed drain drops its view, so it leaves nothing behind.
    """
    spark = stream_df.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    except StreamingQueryException:
        spark.catalog.dropTempView(name)
        raise
    MEMORY_SINKS.add(name)
    return spark.table(name)


@register(
    "stream_watermark_late",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    HAVING window_start + INTERVAL 1 HOUR
           <= (SELECT m FROM mx) - INTERVAL 10 MINUTE
    """,
    tags=("streaming", "stateful"),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation in append mode: state for a
    window is finalized (and late rows dropped) once the watermark
    passes its end. Replayed over 4 time-ordered micro-batches; the
    returned frame is every finalized window."""
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src, cast_ltz=True)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").alias("cnt"))
           .select(F.col("w.start").cast("timestamp_ntz")
                   .alias("window_start"), "event_type", "cnt"))
    return _run_to_memory(agg, "append")


@register(
    "stream_dedup_stateful",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "stateful"),
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once id dedup over a stream that delivers every event
    twice — the reference's seen-set (web_scrpaer_2.py:422) as
    ``dropDuplicates`` state. Result equals the batch distinct
    counts: the duplicate deliveries are absorbed by state."""
    src = _chunked_events_dir(spark, sf_dir, copies=2)
    stream = _events_stream(spark, src, cast_ltz=True)
    deduped = (stream.withWatermark("ts", "1 hour")
               .dropDuplicates(["event_id"])
               .groupBy("event_type").agg(F.count("*").alias("n_unique")))
    return _run_to_memory(deduped, "complete")


# Evicted state entries in the most recent stream_dedup_ttl run
# (from a Spark accumulator the timeout branch feeds). The eviction
# count is TIMING-dependent (which users go quiet long enough for
# the watermark to pass their TTL between batches) so it is exposed
# as diagnostics and pinned > 0 by a planted test — never part of
# the query's oracled OUTPUT, which stays exactly the distinct rows.
# THREAD-LOCAL like dedup.py's diagnostics (round-11 advice): the
# legacy read spelling ``jobs.LAST_TTL_EVICTIONS`` resolves through
# the PEP-562 __getattr__ below to the calling thread's last value.
_DIAG = threading.local()


def __getattr__(name: str):
    if name == "LAST_TTL_EVICTIONS":
        return getattr(_DIAG, "ttl_evictions", 0)
    if name == "LAST_DEDUP_SALT_DECISION":
        return getattr(_DIAG, "dedup_salt_decision",
                       {"salted": False, "n_hot_users": 0})
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


@register(
    "stream_dedup_ttl",
    oracle="""
    SELECT DISTINCT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS t_us, value
    FROM events
    """,
    tags=("streaming", "stateful", "ttl"),
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set dedup whose state is EVICTED by event-time TTL — the
    property that lets a stateful dedup run FOREVER at 100 TB: state
    holds only ids within the watermark horizon (here 1 h past each
    user's last event), not the all-time id universe the NoTimeout
    jobs accumulate. The eviction trade is stated, not hidden: an id
    REPLAYED after its TTL would pass as new. The replay source
    makes that impossible by construction — duplicates are same-ts
    copies (copies=2 through the same ntile chunking), so a
    duplicate either shares its twin's micro-batch or lands at the
    next chunk's head, where the watermark (lagging one batch minus
    the delay) cannot yet have passed twin_ts + 1 h. Output is
    therefore exactly the distinct event rows — the oracle — while
    evictions run hot between chunks (chunk boundaries jump weeks of
    event time; counted via accumulator into LAST_TTL_EVICTIONS,
    planted-test pinned > 0).

    Mechanics under test (missing from every other stateful job,
    which run NoTimeout): ``GroupStateTimeout.EventTimeTimeout`` +
    ``setTimeoutTimestamp`` (clamped a tick above the current
    watermark — Spark rejects timeouts at/below it) + the
    ``state.hasTimedOut`` branch calling ``state.remove()``.
    """
    src = _chunked_events_dir(spark, sf_dir, copies=2)
    stream = (_events_stream(spark, src, cast_ltz=True)
              .withWatermark("ts", "10 minutes"))
    evictions = spark.sparkContext.accumulator(0)
    out = _run_to_memory(dedup_ttl_updates(stream, evictions), "append")
    _DIAG.ttl_evictions = evictions.value
    return out


def dedup_ttl_updates(stream: DataFrame, evictions=None,
                      ttl_ms: int = 3_600_000,
                      salt_shards: int | None = None,
                      hot_users: list[int] | None = None) -> DataFrame:
    """stream_dedup_ttl's stateful transform, factored (like
    ewma_stateful_updates / cdc_stateful_updates) so the checkpoint
    kill/restart and post-TTL-replay tests (tests/test_round12.py)
    drive the PRODUCTION update function — EventTimeTimeout timers,
    seen-set state, eviction branch — through a real stop +
    state-store recovery instead of a copy. ``evictions`` is an
    optional Spark accumulator fed by the timeout branch.

    ``salt_shards`` (round 12, the hot-key mitigation the skew probe
    priced — SCALING.md "stateful-stream hot-key skew"): state keyed
    by (user_id, event_id % K) instead of user_id alone. The seen-
    set predicate partitions EXACTLY by id hash — an id is a
    duplicate iff it was seen in its own shard — so the output is
    identical while one hot user's state and per-batch work spread
    across K tasks. TTL semantics shift per shard (a shard quiet
    > TTL evicts even while sibling shards stay hot), which only
    tightens the bounded-state property. The same decomposition does
    NOT exist for order-dependent state (EWMA), whose posture is the
    stated O(taps) bound instead.

    ``hot_users`` (round 13, VERDICT r12 "missing #1" — salting as a
    POLICY, not a separate query): with both ``salt_shards`` and
    ``hot_users`` given, only the listed users' events are salted
    (``event_id % K``); everyone else keeps salt 0, so a cold user's
    state key, state layout, and TTL semantics are EXACTLY the
    unsalted job's — the uniform-key corpus pays nothing. This is
    the streaming mirror of ``salted_equi_join``'s partial salting
    (operators/joins.py): only detected hot keys pay the spread.
    Hot-set membership is fixed at plan time, so every event of a
    user is classified identically and the per-id shard argument
    above is unchanged.

    State encoding (round 14, VERDICT r13 #4): the seen set is
    stored as a SORTED little-endian int64 byte blob (``seen
    binary``) instead of ``array<bigint>``. The array form paid an
    Arrow list<int64> materialization plus per-element Python
    conversions on every state load AND commit of every group in
    every batch — the +2–3 s the round-13 drain ladder attributed to
    state (de)serialization. Packed bytes cross the boundary as one
    buffer. Measured on the salted drain (OPTIMIZATION_r14.md,
    "fixed-width state encoding"; interleaved med-of-3): wall
    14.30 → 13.13 s, cumulative stateOperators commitTimeMs
    31 575 → 17 815 (−44%), output rows identical. The set
    semantics are unchanged — int64 round-trips through the blob
    exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            if evictions is not None:
                evictions.add(1)
            state.remove()
            yield pd.DataFrame({"event_id": pd.array([], dtype="int64"),
                                "user_id": pd.array([], dtype="int64"),
                                "t_us": pd.array([], dtype="int64"),
                                "value": pd.array([], dtype="float64")})
            return
        (blob,) = state.get if state.exists else (None,)
        seen = set(np.frombuffer(bytes(blob), dtype="<i8").tolist()) \
            if blob else set()
        out_eid, out_us, out_val = [], [], []
        last_us = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pdf["ts"]
            if getattr(ts.dtype, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            us = ts.astype("datetime64[us]").astype("int64")
            for eid, t_us, val in zip(pdf["event_id"], us, pdf["value"]):
                last_us = max(last_us, int(t_us))
                if int(eid) in seen:
                    continue
                seen.add(int(eid))
                out_eid.append(int(eid))
                out_us.append(int(t_us))
                out_val.append(val)
        state.update((np.array(sorted(seen), dtype="<i8").tobytes(),))
        # TTL: 1 h past this user's newest event, clamped one tick
        # above the current watermark (Spark requires strictly-later)
        state.setTimeoutTimestamp(
            max(last_us // 1000 + ttl_ms,
                state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({
            "event_id": pd.array(out_eid, dtype="int64"),
            "user_id": pd.array([key[0]] * len(out_eid), dtype="int64"),
            "t_us": pd.array(out_us, dtype="int64"),
            "value": pd.array(out_val, dtype="float64")})

    if salt_shards and hot_users is not None:
        salt = (F.when(F.col("user_id").isin(hot_users),
                       F.pmod(F.col("event_id"), F.lit(salt_shards)))
                .otherwise(F.lit(0)).cast("int"))
        grouped = (stream.withColumn("_salt", salt)
                   .groupBy("user_id", "_salt"))
    elif salt_shards:
        grouped = (stream.withColumn(
            "_salt", F.pmod(F.col("event_id"),
                            F.lit(salt_shards)).cast("int"))
            .groupBy("user_id", "_salt"))
    else:
        grouped = stream.groupBy("user_id")
    return grouped.applyInPandasWithState(
        update,
        outputStructType="event_id bigint, user_id bigint, "
                         "t_us bigint, value double",
        stateStructType="seen binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


DEDUP_SALT_SHARDS = 8
DEDUP_SKEW_FACTOR = 16


def dedup_hot_users(events: DataFrame,
                    skew_factor: int = DEDUP_SKEW_FACTOR) -> list[int]:
    """Plan-time hot-key detection for the adaptive TTL dedup — the
    streaming mirror of :func:`..operators.joins.hot_keys`, same
    distribution-relative threshold: a user is hot iff their event
    count exceeds ``skew_factor ×`` the MEDIAN per-user count, so the
    hot set is the outlier tail and stays BOUNDED at any data size
    (an absolute cutoff would mark a constant fraction of all users
    hot and the collected list would grow with the data; on a
    uniform corpus the set is legitimately EMPTY). The collect is
    therefore bounded too; at extreme scale compute it on a block
    sample of the inbound table or reuse source statistics — the
    decision needs only the SHAPE of the key histogram, not exact
    counts."""
    counts = (events.groupBy("user_id")
              .agg(F.count("*").alias("cnt")).cache())
    try:
        med = counts.agg(
            F.expr("approx_percentile(cnt, 0.5)").alias("m")
        ).collect()[0].m
        if med is None:
            return []
        hot = counts.filter(
            F.col("cnt") > F.lit(int(med) * skew_factor)).collect()
        return sorted(int(r.user_id) for r in hot)
    finally:
        counts.unpersist()


@register(
    "stream_dedup_salted",
    oracle="""
    SELECT DISTINCT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS t_us, value
    FROM events
    """,
    tags=("streaming", "stateful", "ttl", "skew"),
)
def stream_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dedup_ttl's HOT-KEY-HARDENED form: state keyed by
    (user_id, event_id % 8) so one pathological hot user — the
    90%-one-key regime the round-12 skew probe measured going
    superlinear on the unsalted job (SCALING.md: 118 s at 16×,
    5.8× wall for the last 4× of data, because every micro-batch
    rewrites the hot user's whole seen-list in ONE task) — spreads
    its state and per-batch work across 8 (DEDUP_SALT_SHARDS) tasks. The salt is
    CORRECTNESS-FREE for in-TTL dedup: the seen-set predicate
    partitions exactly by id (an id is a duplicate iff its own shard
    saw it, and same-id duplicates land in the same shard by
    construction), so within a shard's TTL the output is identical
    to the unsalted job and the oracle is the SAME DISTINCT
    statement. The TTL boundary itself narrows: eviction is
    per-SHARD (a shard goes quiet > TTL and evicts even while
    sibling shards of the same user stay hot), so a duplicate
    replayed after its own shard expired but within the unsalted
    user-level TTL is re-emitted by the salted form only — identical
    outputs are guaranteed only for replays within the shard's TTL.
    The planted hot-key equivalence test (tests/test_round12.py)
    pins salted == unsalted == oracle on a 90%-one-user corpus that
    carries in-TTL duplicates; the per-shard-eviction test pins the
    divergent post-shard-TTL replay explicitly.
    """
    src = _chunked_events_dir(spark, sf_dir, copies=2)
    stream = (_events_stream(spark, src, cast_ltz=True)
              .withWatermark("ts", "10 minutes"))
    evictions = spark.sparkContext.accumulator(0)
    out = _run_to_memory(
        dedup_ttl_updates(stream, evictions,
                          salt_shards=DEDUP_SALT_SHARDS), "append")
    _DIAG.ttl_evictions = evictions.value
    return out


@register(
    "stream_dedup_adaptive",
    oracle="""
    SELECT DISTINCT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS t_us, value
    FROM events
    """,
    tags=("streaming", "stateful", "ttl", "skew", "adaptive"),
)
def stream_dedup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting as a POLICY (VERDICT r12 "missing #1"): ONE dedup
    whose salt engages only when plan-time key-skew detection finds
    hot users — the round-12 trade (salted 14.9 s vs unsalted 8.4 s
    on uniform keys at sf0.1, but 70.7 vs 126.9 s at the 16× skew
    decade, SCALING.md) converted from a user-facing choice into a
    detector, the way ``join_salted_skew`` already chooses for
    joins.

    Mechanics: :func:`dedup_hot_users` scans the inbound table's
    per-user histogram (map-side-combined count, one row per
    distinct user; hot iff > 16× median — bounded outlier tail,
    EMPTY on uniform keys). Hot users' events get
    ``event_id % DEDUP_SALT_SHARDS`` salt; everyone else keeps salt
    0, so a skew-free corpus runs with the unsalted job's exact
    state layout and TTL semantics — the only overhead is the
    detection scan. On a skewed corpus only the hot users' state and
    per-batch work spread across shards (per-shard TTL applies to
    them, as stream_dedup_salted documents). Correctness is
    unchanged either way — same DISTINCT oracle; the in-TTL
    seen-set predicate partitions by id within each user, and
    hot-set membership is fixed at plan time. The decision is
    recorded in ``LAST_DEDUP_SALT_DECISION``
    ({salted, n_hot_users}) and pinned by planted tests on BOTH
    regimes (tests/test_round13.py)."""
    hot = dedup_hot_users(load(spark, sf_dir, "events"))
    _DIAG.dedup_salt_decision = {"salted": bool(hot),
                                 "n_hot_users": len(hot)}
    src = _chunked_events_dir(spark, sf_dir, copies=2)
    stream = (_events_stream(spark, src, cast_ltz=True)
              .withWatermark("ts", "10 minutes"))
    evictions = spark.sparkContext.accumulator(0)
    if hot:
        updates = dedup_ttl_updates(
            stream, evictions, salt_shards=DEDUP_SALT_SHARDS,
            hot_users=hot)
    else:
        updates = dedup_ttl_updates(stream, evictions)
    out = _run_to_memory(updates, "append")
    _DIAG.ttl_evictions = evictions.value
    return out


@register(
    "stream_rate_limit",
    oracle="""
    SELECT CAST(4 AS INTEGER) AS n_batches, COUNT(*) AS total_rows
    FROM events
    """,
    tags=("streaming", "operational"),
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ingest rate — the reference's politeness sleep and
    3-worker cap (web_scrpaer_2.py:459,470) as ``maxFilesPerTrigger``
    source throttling. Returns (n_batches, total_rows): 4 batches of
    one chunk file each."""
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)
    batches: list[tuple[int, int]] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batches.append((batch_id, batch_df.count()))

    q = (stream.writeStream.foreachBatch(handle)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.createDataFrame(
        [(len(batches), sum(n for _, n in batches))],
        "n_batches int, total_rows long")


@register(
    "stream_foreachbatch_retry",
    oracle="""
    SELECT 'processed' AS outcome, COUNT(*) AS n_rows
    FROM events WHERE event_type <> 'error'
    UNION ALL
    SELECT 'dead_letter' AS outcome, COUNT(*) AS n_rows
    FROM events WHERE event_type = 'error'
    """,
    tags=("streaming", "stateful"),
)
def stream_foreachbatch_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch sink with retry + dead-letter — the reference's
    per-record retry loop (web_scrpaer_2.py:336-385, max_retries=3)
    in ``foreachBatch``: a batch whose rows contain failures
    ('error' events) is retried; rows still failing after 3 attempts
    are routed to a dead-letter sink instead of poisoning the batch.
    Returns (outcome, n_rows) counts across the whole stream."""
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)
    good_dir = _tmpdir("ordspark_fb_good_")
    dead_dir = _tmpdir("ordspark_fb_dead_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        max_retries = 3
        for attempt in range(1, max_retries + 1):
            try:
                bad = batch_df.filter(F.col("event_type") == "error")
                # Simulated transient failure: batches containing
                # failed records fail wholesale until the last retry,
                # mirroring the reference's retry-then-give-up.
                if attempt < max_retries and bad.limit(1).count() > 0:
                    raise RuntimeError("transient sink failure")
                good = batch_df.filter(F.col("event_type") != "error")
                good.write.mode("append").parquet(good_dir)
                bad.write.mode("append").parquet(dead_dir)
                return
            except RuntimeError:
                if attempt == max_retries:
                    raise
                continue

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation",
                 _tmpdir("ordspark_fb_ckpt_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    good = spark.read.schema(_EVENTS_SCHEMA).parquet(good_dir)
    dead = spark.read.schema(_EVENTS_SCHEMA).parquet(dead_dir)
    counts = (good.select(F.lit("processed").alias("outcome"))
              .unionByName(dead.select(F.lit("dead_letter")
                                       .alias("outcome")))
              .groupBy("outcome").agg(F.count("*").alias("n_rows")))
    # The oracle's COUNT(*) branches emit a row even at zero; an
    # outcome with no rows must still report n_rows=0, not vanish
    # (an all-clean or all-error replay would otherwise row-count
    # mismatch).
    outcomes = spark.createDataFrame(
        [("processed",), ("dead_letter",)], "outcome string")
    return (outcomes.join(counts, "outcome", "left")
            .select("outcome",
                    F.coalesce("n_rows", F.lit(0)).alias("n_rows")))


@register(
    "stream_custom_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, sum) accumulator carried in explicit
    group state across micro-batches — the escape hatch for stateful
    logic Spark's built-in operators can't express (the reference's
    per-dataset accumulators, web_scrpaer_2.py:461-462, if they had
    to survive batch boundaries). Each batch emits the updated
    running totals; the converged final row per user equals the
    batch GROUP BY, which is the oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)

    def update(key, pdfs, state: GroupState):
        # Exact accumulation: values are ≤2-decimal, so a 1e-4-scaled
        # integer accumulator is the Python image of the engine's
        # DECIMAL(18,4) idiom (functions/numeric.py) — order-free and
        # bit-identical to the oracle after the final /1e4 division.
        n, total_scaled = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_scaled += int((pdf["value"] * 10000).round()
                                .astype("int64").sum())
        state.update((n, total_scaled))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [total_scaled / 1e4]})

    updates = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, "
                         "total_value double",
        stateStructType="n bigint, total_scaled bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    drained = _run_to_memory(updates, "update")
    # The memory sink holds one row per (user, batch) update; the
    # converged total is the max-count row per user.
    w_latest = F.max(F.struct("n_events", "total_value"))
    return (drained.groupBy("user_id").agg(w_latest.alias("m"))
            .select("user_id", F.col("m.n_events").alias("n_events"),
                    F.col("m.total_value").alias("total_value")))


@register(
    "stream_session_stateful",
    oracle="""
    -- Spark's EventTimeWatermarkExec floors the observed max event
    -- time to MILLISECONDS before subtracting the delay; mirror that
    -- here, or a session ending in the sub-ms gap flakes the diff.
    WITH mx AS (SELECT make_timestamp(
                    (epoch_us(MAX(ts)) // 1000) * 1000) AS m
                FROM events),
    marked AS (
      SELECT user_id, ts,
             -- strict '>': Spark's session_window MERGES an event landing
      -- exactly at the current session's end (new start <= end),
      -- so only a gap STRICTLY greater than 30 min splits
      CASE WHEN ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            + INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), sessions AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sessions
    WHERE session_end <= (SELECT m FROM mx) - INTERVAL 10 MINUTE
    """,
    tags=("streaming", "stateful", "session"),
)
def stream_session_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming session windows: gap-based sessions merged
    across micro-batches in state, emitted (append mode) once the
    watermark passes session_end. The oracle is lag-based batch
    sessionization restricted to sessions closed before the final
    watermark (max event time − 10 min) — in-order replay finalizes
    exactly those."""
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src, cast_ltz=True)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    "user_id")
           .agg(F.count("*").alias("n_events"))
           .select("user_id",
                   F.col("w.start").cast("timestamp_ntz")
                   .alias("session_start"),
                   F.col("w.end").cast("timestamp_ntz")
                   .alias("session_end"),
                   "n_events"))
    return _run_to_memory(agg, "append")


# NOTE: transformWithStateInPandas (Spark 4's StatefulProcessor API,
# the successor to applyInPandasWithState with composite state, TTL
# and timers) was evaluated and works at the API level, but its
# driver worker requires the google.protobuf Python package, which
# this environment does not ship (and installs are off-limits) — the
# query crashes in state-schema validation
# (transform_with_state_driver_worker.py -> ImportError). The
# arbitrary-stateful surface is therefore covered by
# applyInPandasWithState (stream_custom_stateful,
# stream_session_stateful); port them to StatefulProcessor when the
# runtime carries protobuf.


def fold_funnel_state(state: tuple, pdfs) -> tuple:
    """Fold one group's micro-batch into the (t_view, t_click,
    t_purch) funnel state — module-level so the chunk-spanning
    behavior is unit-testable outside a streaming query.

    One group's micro-batch can span several Arrow chunks
    (``spark.sql.execution.arrow.maxRecordsPerBatch``); sorting each
    chunk alone would fold out of GLOBAL time order and the
    order-sensitive stage machine could miss a click that precedes a
    later-chunk view (round-2 ADVICE finding — the stream fixture
    can't reproduce it because its ntile chunking time-sorts, so the
    adversarial case is pinned by a direct unit test). Materialize
    all chunks, one global (ts, event_id) sort, one fold."""
    import pandas as pd

    t_view, t_click, t_purch = state
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        batch = (pd.concat(chunks, ignore_index=True)
                 .sort_values(["ts", "event_id"]))
        for ts, etype in zip(batch["ts"], batch["event_type"]):
            us = int(pd.Timestamp(ts).value // 1000)
            if etype == "view" and t_view is None:
                t_view = us
            elif (etype == "click" and t_click is None
                    and t_view is not None and us > t_view):
                t_click = us
            elif (etype == "purchase" and t_purch is None
                    and t_click is not None and us > t_click):
                t_purch = us
    return (t_view, t_click, t_purch)


@register(
    "stream_funnel_stateful",
    oracle=FUNNEL_ORACLE_SQL,
    tags=("streaming", "stateful", "analytics"),
)
def stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ordered funnel: the per-user stage machine of
    `event_funnel` (view -> click-after-view -> purchase-after-click)
    carried as explicit group state across micro-batches — the live
    dashboard form of the batch query, converging to the identical
    counts (the oracle IS event_funnel's SQL).

    State per user is three epoch-micro timestamps (first view,
    first qualifying click, first qualifying purchase); each batch's
    events are folded in event-time order, and a sequential
    first-match scan in time order provably equals the batch MIN
    formulation (first click strictly after t_view == min click >
    t_view). Stages only ever advance, so the converged snapshot is
    the max stage tuple per user. State is O(1) per user — 24 bytes
    — which is what lets a 100 TB event stream keep millions of live
    funnels in executor memory, with watermark-driven eviction the
    production add-on."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)

    def update(key, pdfs, state: GroupState):
        t_view, t_click, t_purch = fold_funnel_state(
            state.get if state.exists else (None, None, None), pdfs)
        state.update((t_view, t_click, t_purch))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "stage": [3 if t_purch is not None
                      else 2 if t_click is not None
                      else 1 if t_view is not None else 0]})

    updates = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, stage int",
        stateStructType="t_view bigint, t_click bigint, t_purch bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    drained = _run_to_memory(updates, "update")
    final = (drained.groupBy("user_id")
             .agg(F.max("stage").alias("stage")))
    return final.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0))
        .alias("n_viewed"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0))
        .alias("n_clicked"),
        F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0))
        .alias("n_purchased"))


@register(
    "stream_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC)
               AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value, ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("streaming", "stateful", "cdc"),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply: the current-state table
    `cdc_apply_changelog` materializes in batch, maintained
    incrementally across micro-batches in explicit group state.

    Per-user state is one candidate record — (ts_us, event_id,
    event_type, value) — folded with the same (ts, event_id)
    max-ordering the batch `max_by` uses, so state size is O(1) per
    key no matter how long the history (the property that makes the
    operator run forever at 100 TB: state ∝ live keys, not events).
    Tombstone semantics resolve at READ time, not in state: an
    'error' record must be able to un-delete a key if a later upsert
    arrives, so the fold keeps the latest record whatever its type
    and the final projection drops keys whose converged record is a
    tombstone — exactly the batch twin's filter, which is why the
    converged stream equals `cdc_apply_changelog`'s oracle.
    """
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)
    drained = _run_to_memory(cdc_stateful_updates(stream), "update")
    return cdc_converged_projection(drained)


def cdc_stateful_updates(stream: DataFrame) -> DataFrame:
    """stream_cdc_apply's stateful transform, factored for the
    checkpoint kill/restart test (same rationale as
    ewma_stateful_updates)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        best = state.get if state.exists else None  # (us, id, type, val)
        for pdf in pdfs:
            if not len(pdf):
                continue
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            for t_us, eid, etype, val in zip(
                    us, pdf["event_id"], pdf["event_type"], pdf["value"]):
                cand = (int(t_us), int(eid), str(etype), float(val))
                if best is None or cand[:2] > best[:2]:
                    best = cand
        state.update(best)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "t_us": [best[0]], "last_event_id": [best[1]],
            "last_event_type": [best[2]], "last_value": [best[3]]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, t_us bigint, "
                         "last_event_id bigint, last_event_type string, "
                         "last_value double",
        stateStructType="t_us bigint, last_event_id bigint, "
                        "last_event_type string, last_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def cdc_converged_projection(drained: DataFrame) -> DataFrame:
    """Read-time projection of the drained CDC update rows.
    Converged record per user = max (t_us, event_id) update row;
    tombstoned keys drop at read time."""
    latest = (drained.groupBy("user_id")
              .agg(F.max_by(
                  F.struct("t_us", "last_event_id", "last_event_type",
                           "last_value"),
                  F.struct("t_us", "last_event_id")).alias("s")))
    return (latest.filter(F.col("s.last_event_type") != "error")
            .select(
                "user_id",
                F.col("s.last_event_id").alias("last_event_id"),
                F.col("s.last_event_type").alias("last_event_type"),
                F.col("s.last_value").alias("last_value"),
                F.expr("timestampadd(MICROSECOND, s.t_us, "
                       "TIMESTAMP_NTZ '1970-01-01 00:00:00')")
                .alias("last_ts")))


@register(
    "stream_incremental_rollup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "incremental", "agg"),
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING rollup maintenance: the agg_incremental_merge
    kernel run continuously — each micro-batch writes its PARTIAL
    aggregates (count + exact decimal sum per event_type) to a
    persisted state directory, and the serving read merges partials.
    History is never rescanned; each batch touches only its own
    rows, and the state grows by |groups| rows per batch.

    Exactly-once without transactions: every batch writes to its own
    ``batch=<id>`` subdirectory with mode=overwrite, so a replayed
    batch (foreachBatch redelivery after failure) OVERWRITES its own
    partials instead of double-counting — idempotence via
    deterministic placement, the same recipe Delta-style sinks use
    under the hood. COUNT/SUM partials are associative and the money
    sum uses the DECIMAL accumulator, so merge order cannot perturb
    the converged result — the oracle is the flat batch aggregate.
    """
    src = _chunked_events_dir(spark, sf_dir)
    state = _tmpdir("ordspark_incr_state_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.groupBy("event_type")
         .agg(F.count("*").alias("p_count"),
              F.sum(F.col("value").cast("decimal(18,4)"))
              .alias("p_sum"))
         .coalesce(1)
         .write.mode("overwrite").parquet(f"{state}/batch={batch_id}"))

    stream = _events_stream(spark, src)
    q = (stream.writeStream.foreachBatch(handle)
         .trigger(availableNow=True)
         .option("checkpointLocation",
                 _tmpdir("ordspark_incr_ckpt_"))
         .start())
    q.awaitTermination()

    partials = spark.read.parquet(f"{state}/batch=*")
    return (partials.groupBy("event_type")
            .agg(F.sum("p_count").alias("n_events"),
                 F.sum("p_sum").cast("double").alias("total_value")))


@register(
    "stream_static_join",
    oracle="""
    WITH profile AS (
      SELECT user_id, COUNT(*) AS lifetime_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, p.lifetime_events
    FROM events e
    JOIN profile p ON e.user_id = p.user_id
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the enrichment pattern: a live stream
    joined per micro-batch against a static (or slowly-refreshed)
    dimension, here each user's precomputed lifetime-event profile.
    Structured Streaming re-resolves the static side every batch, so
    a dim refresh is picked up without restarting the query; state
    is ZERO (unlike stream-stream joins) because only the stream
    side flows.

    The static side is built once from the batch table (the profile
    a nightly job would materialize); the streaming side filters to
    purchases map-side before the join. Converged output ==  the
    batch join, which is the oracle. At scale the static side is a
    broadcast (small dim) or a bucketed table (large dim) — the same
    join-strategy menu as batch, chosen by Catalyst per batch.
    """
    profile = (load(spark, sf_dir, "events")
               .groupBy("user_id")
               .agg(F.count("*").alias("lifetime_events")))
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src)
    joined = (stream.filter(F.col("event_type") == "purchase")
              .join(profile, "user_id")
              .select("event_id", "user_id", "lifetime_events"))
    return _run_to_memory(joined, "append")


@register(
    "stream_ord_source",
    oracle="""
    WITH doc AS (
      SELECT json(content) AS j
      FROM read_text('/root/reference/ord_formatted_data*.json')
    ), ds AS (
      SELECT k AS dataset_id,
             CAST(json_extract(j, '$.' || k || '.reactions') AS JSON[]) AS rx
      FROM doc, UNNEST(json_keys(j)) AS t(k)
    ), flat AS (
      SELECT dataset_id, UNNEST(rx) AS r FROM ds WHERE len(rx) > 0
      UNION ALL
      SELECT dataset_id, NULL AS r FROM ds WHERE rx IS NULL OR len(rx) = 0
    )
    SELECT dataset_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN CAST(json_extract(r, '$.success') AS BOOLEAN)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_success
    FROM flat GROUP BY dataset_id
    """,
    tags=("stream", "ord", "source"),
)
def stream_ord_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capture corpus through the CUSTOM STREAMING data source
    (``sources/ord_datasource.py::OrdStreamReader``): offsets index
    the sorted file list — each capture file is an atomic arrival,
    the streaming analog of the reference finishing one dataset
    crawl and flushing its JSON — and ``readBetweenOffsets`` replays
    exact ranges for recovery. The drained stream aggregates
    per-dataset row/success counts; converged output must equal the
    batch answer, which is the DuckDB oracle (same posture as every
    other streaming job here: the stream must converge to the batch
    SQL statement of itself)."""
    from ..sources.ord_datasource import OrdStreamDataSource
    spark.dataSource.register(OrdStreamDataSource)
    stream = (spark.readStream.format("ord_stream")
              .option("path", "/root/reference/ord_formatted_data*.json")
              .load())
    agg = (stream.groupBy("dataset_id")
           .agg(F.count("*").alias("n_rows"),
                F.coalesce(F.sum(F.when(F.col("success"), 1)), F.lit(0))
                .alias("n_success")))
    return _run_to_memory(agg, "complete")


EWMA_TAPS = 8  # mirror of operators/timeseries.py ts_ewma_truncated


def round_half_up_cents(val: float) -> int:
    """HALF-UP (away from zero) of ``val * 100`` on the DECIMAL IMAGE
    of the double, matching Spark ``F.round`` (BigDecimal.valueOf →
    shortest decimal string → setScale HALF_UP) and DuckDB ``ROUND``
    bit-for-bit. ``floor(x + 0.5)`` is NOT that function: on
    cents 0.49999999999999994 (val 0.004999999999999999) the fp add
    rounds to 1.0 and floor emits 1 where both engines emit 0.
    Python's repr() is the same shortest-round-trip decimal string
    Double.toString produces, so quantizing it reproduces BigDecimal
    semantics exactly (pinned in tests/test_round12.py).

    Fast path (the first idle-vs-idle bench pair priced the naive
    always-Decimal form at +22% on the 100k-event stream): the two
    functions can only disagree when the fp ADDITION x + 0.5 rounds
    across an integer boundary, which requires x within ~1 ulp of a
    half — so take floor(x + 0.5) outright unless the fractional
    part is within 1e-9 of 0.5 (orders wider than any double ulp at
    cents magnitude), and arbitrate only that sliver through the
    exact decimal image. Equality with Spark/DuckDB on both paths is
    pinned by the 300-value battery in tests/test_round12.py,
    including values planted just inside and outside the window."""
    x = float(val) * 100
    ax = abs(x)
    # (2nd condition: above 2^52 the addition can tie-round UP on
    # integer-valued doubles — e.g. 2^52+1 + 0.5 → 2^52+2 — so huge
    # magnitudes always take the exact path.)
    if abs((ax % 1.0) - 0.5) > 1e-9 and ax < 4_503_599_627_370_496.0:
        fl = int(ax + 0.5)  # trunc of nonneg = floor; off-half: safe
        return fl if x >= 0 else -fl
    cents = decimal.Decimal(repr(x))
    return int(cents.quantize(decimal.Decimal(1),
                              rounding=decimal.ROUND_HALF_UP))


@register(
    "stream_ewma_stateful",
    oracle=f"""
    WITH cents AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), seq AS (
      SELECT user_id, event_id,
             array_agg(c) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN {EWMA_TAPS - 1} PRECEDING
                                         AND CURRENT ROW) AS vals
      FROM cents
    )
    SELECT user_id, event_id,
           CAST(len(vals) AS INTEGER) AS n_taps,
           CAST(CAST(list_sum(list_transform(vals,
                  (x, i) -> x * (1::BIGINT << (i - 1)))) AS BIGINT)
                AS DOUBLE)
             / CAST(((1::BIGINT << len(vals)) - 1) * 100 AS DOUBLE)
             AS ewma
    FROM seq
    """,
    tags=("streaming", "stateful", "timeseries"),
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truncated EWMA's STREAMING twin: per-user explicit group
    state (the last ≤{EWMA_TAPS} integer-cents values) carried across
    micro-batches via ``applyInPandasWithState``, emitting one EWMA
    row per event in append mode — the recursive/stateful form of
    ``ts_ewma_truncated`` (operators/timeseries.py), which a
    long-running ingest pipeline would run instead of re-windowing
    the batch table.

    Exactness contract mirrors the batch twin exactly: state and
    arithmetic are pure integers (cents × power-of-two weights,
    integer normalizer) with ONE closing IEEE division per emitted
    row, so the stream's rows are bit-identical to the batch window
    — the oracle is the SAME SQL. In-order chunk replay + per-batch
    (ts, event_id) sort gives each user a deterministic event order;
    state is O(taps) per user, the bounded-state regime every
    stateful job here targets.
    """
    src = _chunked_events_dir(spark, sf_dir)
    stream = _events_stream(spark, src).filter(F.col("value").isNotNull())
    return _run_to_memory(ewma_stateful_updates(stream), "append")


def ewma_stateful_updates(stream: DataFrame) -> DataFrame:
    """stream_ewma_stateful's stateful transform, factored so the
    checkpoint kill/restart test (tests/test_round11.py) drives the
    PRODUCTION update function through a real stop + state-store
    recovery instead of a copy."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (tail,) = state.get if state.exists else ([],)
        tail = list(tail)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        out_eid, out_n, out_ewma = [], [], []
        for eid, val in zip(batch["event_id"], batch["value"]):
            # HALF-UP on the decimal string image — the exact
            # function F.round and DuckDB ROUND compute; neither
            # banker's round() nor floor(x+0.5) is (see
            # round_half_up_cents; boundary tests in
            # tests/test_round11.py and tests/test_round12.py).
            tail.append(round_half_up_cents(val))
            if len(tail) > EWMA_TAPS:
                tail = tail[-EWMA_TAPS:]
            n = len(tail)
            num = sum(c << i for i, c in enumerate(tail))
            out_eid.append(int(eid))
            out_n.append(n)
            out_ewma.append(num / (((1 << n) - 1) * 100))
        state.update((tail,))
        yield pd.DataFrame({"user_id": [key[0]] * len(out_eid),
                            "event_id": out_eid,
                            "n_taps": pd.array(out_n, dtype="int32"),
                            "ewma": out_ewma})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, event_id bigint, "
                         "n_taps int, ewma double",
        stateStructType="vals array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
