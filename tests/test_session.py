"""Session defaults: the shuffle width, and with it every stateful
stream's state-store width, follows the session's cores unless a
width is set explicitly; streams checkpoint through the FileSystem
API."""

from __future__ import annotations

import os
import shutil

from open_reaction_database_web_scraper_spark.session import (
    SHUFFLE_PARTITIONS, get_session, shuffle_width)

CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


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


def _checkpoint_manager(spark, path: str) -> str:
    """The class of the manager a stream of ``spark`` checkpointing to
    ``path`` would get."""
    jvm = spark._jvm
    return (jvm.org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(path),
                spark._jsparkSession.sessionState().newHadoopConf())
            .getClass().getName())


def test_streams_checkpoint_through_the_filesystem_api(spark, tmp_path):
    """Spark's own default is the FileContext-based manager, whose
    renames spawn a `readlink` per link-status check on a host without
    the native Hadoop library."""
    assert _checkpoint_manager(spark, str(tmp_path)) == (
        _CHECKPOINTING + "FileSystemBasedCheckpointFileManager")


def test_file_context_checkpoint_restarts_under_the_default(spark, sf_dir,
                                                            tmp_path):
    """A checkpoint written by the FileContext-based manager (every
    checkpoint made before the default changed) restarts under the
    FileSystem-based one: stop a chunked EWMA replay after its first
    micro-batch, restart it from the same checkpoint, and the sink
    equals one uninterrupted run and the oracle."""
    from pyspark.sql import functions as SF

    from open_reaction_database_web_scraper_spark.registry import (
        REGISTRY, load_all_operators)
    from open_reaction_database_web_scraper_spark.streaming import jobs
    from open_reaction_database_web_scraper_spark.testing import compare

    load_all_operators()
    src = jobs._chunked_events_dir(spark, sf_dir)  # one batch per chunk
    later = sorted(os.listdir(src))[1:]
    assert later
    held = tmp_path / "held"
    held.mkdir()
    for f in later:  # a move keeps the mtimes that order the replay
        shutil.move(os.path.join(src, f), held / f)

    def drain(out: str, ckpt: str) -> int:
        stream = jobs._events_stream(spark, src) \
            .filter(SF.col("value").isNotNull())
        q = (jobs.ewma_stateful_updates(stream)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return sum(1 for p in q.recentProgress if p.numInputRows)

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    default = spark.conf.get(CHECKPOINT_MANAGER)
    file_context = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"
    spark.conf.set(CHECKPOINT_MANAGER, file_context)
    try:
        assert _checkpoint_manager(spark, ckpt) == file_context
        assert drain(out, ckpt) == 1
    finally:
        # unset would fall back to Spark's default, the FileContext one
        spark.conf.set(CHECKPOINT_MANAGER, default)
    n1 = spark.read.parquet(out).count()
    for f in later:
        shutil.move(held / f, os.path.join(src, f))
    assert _checkpoint_manager(spark, ckpt) == default
    assert drain(out, ckpt) == len(later)
    assert drain(str(tmp_path / "once"), str(tmp_path / "once_ckpt")) \
        == 1 + len(later)

    def rows(path: str) -> list:
        return sorted(tuple(r) for r in spark.read.parquet(path).select(
            "user_id", "event_id", "n_taps", "ewma").collect())

    restarted = rows(out)
    assert 0 < n1 < len(restarted)
    assert restarted == rows(str(tmp_path / "once"))
    ok, msg = compare(spark.read.parquet(out),
                      REGISTRY["stream_ewma_stateful"].oracle, sf_dir,
                      "stream_ewma_stateful_restart")
    assert ok, msg
