"""Round-14 (optimization round 2) pins.

Each test pins one of this round's optimization seams:
- shuffle_metrics' retry-visibility field exists and reads 0 on a
  healthy run;
- graph_triangle_count's two intersection forms agree;
- the memory-sink cleanup drops only the drain's own views;
- connected_components' convergence sum rides the checkpoint action.
"""

from __future__ import annotations

from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()


def run(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def test_shuffle_measure_reports_retry_visibility(spark, sf_dir):
    """measure_shuffle carries max_attempt (VERDICT r13 #7): 0 on a
    healthy local run, so the exact-row pins in test_plans.py can
    fail loud with a cause when a stage retry taints a reading."""
    from open_reaction_database_web_scraper_spark.shuffle_metrics import (
        measure_shuffle)
    m = measure_shuffle(
        spark,
        lambda: run("agg_multi", spark, sf_dir)
        .write.format("noop").mode("overwrite").save())
    assert m["max_attempt"] == 0
    assert m["rows"] >= 0 and m["bytes"] >= 0


def test_triangle_both_forms_identical(spark, sf_dir, monkeypatch):
    """graph_triangle_count picks its intersection-stage form by data
    size (broadcast regime: two adjacency probes; shuffle regime:
    explode — see graph._TRI_EXPLODE_MIN_BYTES). Pin: both branches
    produce the identical single stats row on the same corpus."""
    from open_reaction_database_web_scraper_spark.operators import graph

    assert not graph._tri_use_explode(sf_dir)  # driver SFs: broadcast
    small = run("graph_triangle_count", spark, sf_dir).collect()
    monkeypatch.setattr(graph, "_TRI_EXPLODE_MIN_BYTES", 0)
    assert graph._tri_use_explode(sf_dir)
    big = run("graph_triangle_count", spark, sf_dir).collect()
    assert small == big and len(small) == 1


def test_sink_drop_spares_colliding_user_view(spark, sf_dir):
    """drop_drained_memory_sinks drops only the views _run_to_memory
    itself registered (ADVICE r13 #4): a user temp view that merely
    matches the s<12-hex> name shape survives the cleanup."""
    from open_reaction_database_web_scraper_spark.testing import (
        _SINK_NAME_RE, drop_drained_memory_sinks)

    drop_drained_memory_sinks(spark)  # start clean of earlier tests'
    impostor = "s" + "0123456789ab"
    assert _SINK_NAME_RE.fullmatch(impostor)
    spark.range(2).createOrReplaceTempView(impostor)
    try:
        run("stream_watermark_late", spark, sf_dir).count()
        n = drop_drained_memory_sinks(spark)
        assert n >= 1
        left = {t.name for t in spark.catalog.listTables()}
        assert impostor in left, "user view with sink-shaped name dropped"
        from open_reaction_database_web_scraper_spark.streaming.jobs import (
            MEMORY_SINKS)
        assert not any(name in left for name in MEMORY_SINKS)
    finally:
        spark.catalog.dropTempView(impostor)


def test_cc_convergence_check_rides_checkpoint_action(spark, monkeypatch):
    """Round 14: connected_components' per-round convergence sum is an
    Observation on the eager checkpoint's own materialization — ONE
    action and one labels scan per round, not a second collect job.
    Pins: (a) no DataFrame.collect happens inside the loop at all,
    (b) fixpoint detection still works (chain of diameter 5 converges
    in exactly 6 rounds: 5 propagation + 1 confirm), (c) labels are
    correct, (d) the CollectMetrics node does not leak into the
    returned frame's plan (checkpoint truncates lineage)."""
    from pyspark.sql import DataFrame

    from open_reaction_database_web_scraper_spark.operators import dedup

    calls = {"n": 0}
    orig_collect = DataFrame.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig_collect(self)

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "src long, dst long")
    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    labels = dedup.connected_components(edges)
    monkeypatch.undo()
    assert calls["n"] == 0, (
        f"{calls['n']} collect() calls inside connected_components — "
        "the convergence sum no longer rides the checkpoint action")
    assert dedup._DIAG.cc_rounds == 6
    rows = sorted(map(tuple, labels.collect()))
    assert rows == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0),
                    (10, 10), (11, 10)]
    plan = labels._jdf.queryExecution().toString()
    assert "CollectMetrics" not in plan
