"""Session width: the shuffle width, and with it every stateful
stream's state-store width, follows the session's cores unless a
width is set explicitly."""

from __future__ import annotations

from open_reaction_database_web_scraper_spark.session import (
    SHUFFLE_PARTITIONS, get_session, shuffle_width)


def test_default_width_is_the_session_cores():
    assert shuffle_width(None, {}, None, 4) == "4"
    assert shuffle_width({}, {}, None, 6) == "6"


def test_explicit_width_wins():
    env = {"SPARK_GRAFT_SHUFFLE": "12"}
    assert shuffle_width(None, env, None, 4) == "12"
    # a width already set on a reused session beats the cores, not
    # the environment
    assert shuffle_width(None, {}, "8", 4) == "8"
    assert shuffle_width(None, env, "8", 4) == "12"
    # extra_conf beats everything
    conf = {SHUFFLE_PARTITIONS: "3"}
    assert shuffle_width(conf, env, "8", 4) == "3"


def test_default_width_sizes_stateful_stream_state(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """A session left at the default width runs an applyInPandasWithState
    stream with one shuffle partition and one state-store instance per
    core: the mechanism that keeps a stateful micro-batch from paying
    for more state tasks than the host has cores."""
    from pyspark.sql import functions as SF

    from open_reaction_database_web_scraper_spark.streaming import jobs

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.unset(SHUFFLE_PARTITIONS)
    try:
        assert get_session("pytest") is spark
        width = spark.sparkContext.defaultParallelism
        assert spark.conf.get(SHUFFLE_PARTITIONS) == str(width)
        src = jobs._chunked_events_dir(spark, sf_dir, n_chunks=1)
        stream = jobs._events_stream(spark, src) \
            .filter(SF.col("value").isNotNull())
        q = (jobs.ewma_stateful_updates(stream)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        ops = [op for p in q.recentProgress for op in p.stateOperators]
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, before)
    assert ops
    assert {op.numShufflePartitions for op in ops} == {width}
    assert {op.numStateStoreInstances for op in ops} == {width}


def test_determinism_alt_width_differs_from_base():
    """determinism_check's second width must never equal the base
    width, or the audit compares a width with itself."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    from determinism_check import alt_width

    for base in ("1", "4", "5", "7", "8", "32"):
        assert alt_width(base) != base
