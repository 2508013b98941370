"""Semantic pins for graph, corpus-export and SemDeDup operators.

The differential sweep covers the oracled four (graph_pagerank,
graph_triangle_count, event_markov_transitions,
export_jsonl_sharded) value-for-value vs DuckDB; these tests pin
the docstring claims on PLANTED inputs where the expected answer is
derivable by hand: rank conservation and hub dominance for
PageRank, an exact triangle census on a known graph, transition
rows summing to 1, shard-manifest completeness, and SemDeDup
dropping a planted near-identical vector while keeping orthogonal
ones.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from open_reaction_database_web_scraper_spark.operators.curation import (
    _SHARD_TARGET_CHARS,
)
from open_reaction_database_web_scraper_spark.operators.dedup import (
    SEMDEDUP_TAU,
)
from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()

_PR_SCALE = 1_000_000_000_000


def run(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


# ---------------------------------------------------------- pagerank

@pytest.fixture(scope="module")
def star_lineitem_dir(spark, tmp_path_factory):
    """Part 1 supplied by every supplier (hub); parts 2-5 by exactly
    one supplier each (leaves). 4 suppliers."""
    d = tmp_path_factory.mktemp("star_li")
    rows = []
    ok = 0
    for s in range(1, 5):
        rows.append((ok, 1, s)); ok += 1           # hub edges
        rows.append((ok, 1 + s, s)); ok += 1       # leaf edges
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint") \
        .write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return str(d)


def test_pagerank_conservation_and_hub(spark, star_lineitem_dir):
    out = {r.node: r.rank_fp
           for r in run("graph_pagerank", spark, star_lineitem_dir).collect()}
    # 1 hub part + 4 leaf parts + 4 suppliers = 9 nodes
    assert len(out) == 9
    # Integer floors only ever lose mass: total in (0.97, 1.0] * SCALE.
    total = sum(out.values())
    assert 0.97 * _PR_SCALE < total <= _PR_SCALE
    # The hub part out-ranks every leaf part and every supplier.
    hub = out["p:1"]
    for node, r in out.items():
        if node != "p:1":
            assert hub > r, (node, r, hub)
    # Symmetric leaves get identical ranks (exact integer equality —
    # the determinism claim).
    leaf_ranks = {out[f"p:{p}"] for p in range(2, 6)}
    assert len(leaf_ranks) == 1


# ---------------------------------------------------------- triangles

@pytest.fixture(scope="module")
def triangle_lineitem_dir(spark, tmp_path_factory):
    """Orders inducing edges: K3 on parts {1,2,3} plus pendant edge
    3-4. Edges {12,13,23,34}: 1 triangle, wedges = 1+1+3+0... degs:
    1:2, 2:2, 3:3, 4:1 -> wedges = 1+1+3+0 = 5."""
    d = tmp_path_factory.mktemp("tri_li")
    rows = [
        (1, 1, 1), (1, 2, 1),          # order 1 -> edge 1-2
        (2, 1, 1), (2, 3, 1),          # edge 1-3
        (3, 2, 1), (3, 3, 1),          # edge 2-3
        (4, 3, 1), (4, 4, 1),          # edge 3-4
        (5, 1, 1), (5, 2, 1),          # duplicate edge 1-2 (distinct'd)
    ]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint") \
        .write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return str(d)


def test_triangle_census_exact(spark, triangle_lineitem_dir):
    row = run("graph_triangle_count", spark, triangle_lineitem_dir) \
        .collect()[0]
    assert row.n_nodes == 4
    assert row.n_edges == 4
    assert row.n_wedges == 5
    assert row.n_triangles == 1


def test_triangle_multi_item_order_clique(spark, tmp_path_factory):
    """One order containing 4 distinct parts -> K4: C(4,3)=4
    triangles, 6 edges, wedges = 4*C(3,2) = 12."""
    d = tmp_path_factory.mktemp("k4_li")
    rows = [(1, p, 1) for p in range(1, 5)]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint") \
        .write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    row = run("graph_triangle_count", spark, str(d)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) \
        == (4, 6, 12, 4)


# ------------------------------------------------------------ markov

def test_markov_rows_normalize(spark, sf_dir):
    rows = run("event_markov_transitions", spark, sf_dir).collect()
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r.prev_type] = by_prev.get(r.prev_type, 0.0) + r.p
    for prev, total in by_prev.items():
        assert math.isclose(total, 1.0, abs_tol=1e-4), (prev, total)


def test_markov_tiny_chain(spark, tmp_path_factory):
    """a->b->b->a for one user: transitions ab=1, bb=1, ba=1."""
    d = tmp_path_factory.mktemp("mk_ev")
    rows = [(i, 7, t, 0.0, None)
            for i, t in enumerate(["a", "b", "b", "a"])]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, "
              "event_type string, value double, props string") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(event_id as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {(r.prev_type, r.next_type): (r.n, r.p)
           for r in run("event_markov_transitions", spark, str(d)).collect()}
    assert got == {("a", "b"): (1, 1.0), ("b", "b"): (1, 0.5),
                   ("b", "a"): (1, 0.5)}


# ------------------------------------------------------------ export

def test_export_manifest_complete(spark, sf_dir):
    import duckdb
    man = run("export_jsonl_sharded", spark, sf_dir).collect()
    src_docs, src_chars = duckdb.sql(
        f"SELECT COUNT(*), SUM(n_chars) FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").fetchone()
    assert sum(r.n_docs for r in man) == src_docs
    assert sum(r.n_chars_total for r in man) == src_chars
    n_shards = max(1, math.ceil(src_chars / _SHARD_TARGET_CHARS))
    assert {r.shard for r in man} == set(range(n_shards))


# ---------------------------------------------------------- semdedup

@pytest.fixture(scope="module")
def planted_embeddings_dir(spark, tmp_path_factory):
    """vec 0/1: identical direction (cos=1) -> 1 dropped. vec 2:
    orthogonal to both -> kept. vec 3: same bucket direction as 0
    but only ~0.7 cosine -> kept (below tau)."""
    d = tmp_path_factory.mktemp("sem_emb")
    base = [1.0, 0.2, -0.3, 0.8] + [0.05] * 12
    near = [x * 2.0 for x in base]                     # cos == 1.0
    far = [1.0, 0.2, -0.3, 0.8] + [-1.4] * 12          # same-ish bucket dir
    orth = [-b for b in base]                          # cos == -1, other cell
    rows = [(0, base, 0), (1, near, 0), (2, orth, 1), (3, far, 0)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint") \
        .write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return str(d)


def test_semdedup_drops_planted_duplicate(spark, planted_embeddings_dir):
    out = {r.vec_id: r for r in
           run("dedup_semdedup", spark, planted_embeddings_dir).collect()}
    assert len(out) == 4
    # The scaled copy shares vec 0's cluster (same sign pattern),
    # scores cos 1.0 to the representative, and is dropped.
    assert out[1].cluster == out[0].cluster
    assert out[1].rep_id == 0
    assert out[1].cos_to_rep == pytest.approx(1.0)
    assert out[1].dropped
    # Representatives are never dropped; dissimilar members survive.
    assert not out[0].dropped
    assert not out[2].dropped
    if out[3].cluster == out[0].cluster:
        assert out[3].cos_to_rep < SEMDEDUP_TAU
        assert not out[3].dropped


def test_semdedup_real_corpus_sane(spark, sf_dir):
    df = run("dedup_semdedup", spark, sf_dir)
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dropped").cast("long")).alias("n_drop")).collect()[0]
    assert agg.n == 500
    # Random embeddings should rarely hit cos >= 0.95 to a rep.
    assert agg.n_drop < agg.n * 0.2


# --------------------------------------------------------------- bfs

def test_bfs_levels_on_planted_chain(spark, tmp_path_factory):
    """Graph p1-s1, p1-s5, p2-s5 with seed s1 (s_suppkey <= 2):
    s:1=0, p:1=1, s:5=2, p:2=3."""
    d = tmp_path_factory.mktemp("bfs_li")
    spark.createDataFrame(
        [(1, 1, 1), (2, 1, 5), (3, 2, 5)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint") \
        .write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "s1", 0, 0.0), (5, "s5", 1, 0.0)],
        "s_suppkey bigint, s_name string, s_nationkey int, "
        "s_acctbal double") \
        .write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = {r.node: r.level
           for r in run("graph_bfs_levels", spark, str(d)).collect()}
    assert got == {"s:1": 0, "p:1": 1, "s:5": 2, "p:2": 3}


# ------------------------------------------------------ quality gate

def test_quality_gate_planted_reasons(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("qg_docs")
    ok = " ".join(["word"] * 30)
    short = "tiny doc"
    digits = " ".join(["12345"] * 25)
    longw = " ".join(["x" * 20] * 25)
    rows = [(0, ok, "en", "s", len(ok)),
            (1, short, "en", "s", len(short)),
            (2, digits, "en", "s", len(digits)),
            (3, longw, "en", "s", len(longw))]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.doc_id: r for r in
           run("quality_gate_reasons", spark, str(d)).collect()}
    assert got[0].keep and got[0].reasons == ""
    assert got[1].reasons == "too_short" and not got[1].keep
    assert got[2].reasons == "digit_heavy"
    assert got[3].reasons == "long_words"


# ------------------------------------------------- weighted sampling

def test_weighted_sample_matches_python_model(spark, sf_dir):
    import duckdb
    rows = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").fetchall()
    avg = sum(r[2] for r in rows) // len(rows)
    expect: dict[str, list[int]] = {}
    for doc_id, lang, n_chars in rows:
        n, s, c = expect.setdefault(lang, [0, 0, 0])
        picked = ((doc_id * 2654435761) % 4294967296
                  < (n_chars * 4294967296) // (10 * avg))
        expect[lang] = [n + 1, s + picked, c + (n_chars if picked else 0)]
    got = {r.lang: [r.n_docs, r.n_sampled, r.sampled_chars]
           for r in run("sample_weighted_bernoulli", spark, sf_dir)
           .collect()}
    assert got == expect


# --------------------------------------------------- observed metrics

def test_observed_metrics_equal_direct_aggregate(spark, sf_dir):
    from open_reaction_database_web_scraper_spark.catalog import load as _load
    from pyspark.sql import functions as F2
    from open_reaction_database_web_scraper_spark.functions.numeric import dsum

    row = run("scan_observed_metrics", spark, sf_dir).collect()[0]
    direct = _load(spark, sf_dir, "orders").agg(
        F2.count(F2.lit(1)).alias("n"),
        F2.sum(F2.when(F2.col("o_totalprice") > 100000, 1).otherwise(0))
        .alias("hv"),
        dsum("o_totalprice").alias("tp")).collect()[0]
    assert row.n_scanned == direct.n
    assert row.n_high_value == direct.hv
    assert row.n_null_cust == 0
    assert row.total_price == direct.tp


# ----------------------------------------------------------- plan pins

def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_quality_gate_plan_is_map_only(spark, sf_dir):
    """The audit column must be free: no exchange anywhere."""
    plan = plan_of(spark, sf_dir, "quality_gate_reasons")
    assert "Exchange" not in plan, plan


def test_graph_plans_have_no_cartesian(spark, sf_dir):
    """The graph census and BFS must never degrade to a cartesian
    or a nested loop over data-sized inputs (the 1-row |V| broadcast
    in pagerank is the allowed exception, checked by explain_all)."""
    for name in ("graph_triangle_count", "graph_bfs_levels"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
    bfs = plan_of(spark, sf_dir, "graph_bfs_levels")
    assert "BroadcastNestedLoopJoin" not in bfs, bfs


def test_markov_single_user_exchange(spark, sf_dir):
    """LAG + normalize must reuse ONE user_id shuffle; the only other
    exchange feeds the tiny pair-domain agg/window."""
    plan = plan_of(spark, sf_dir, "event_markov_transitions")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan


def test_export_one_file_per_shard(spark, sf_dir):
    """repartition(shard) + partitionBy(shard) must put each shard's
    rows in exactly one data file — the no-small-file-spray claim."""
    import glob
    import os

    from open_reaction_database_web_scraper_spark.operators.scans import (
        _sink_dir,
    )

    man = run("export_jsonl_sharded", spark, sf_dir).collect()
    out = _sink_dir("export_jsonl_sharded")
    for r in man:
        files = [f for f in glob.glob(os.path.join(
            out, f"shard={r.shard}", "*")) if not f.endswith(".crc")]
        assert len(files) == 1, (r.shard, files)


# ------------------------------------------------- as-of w/ tolerance

def test_asof_tolerance_rejects_stale_match(spark, tmp_path):
    """click at t0; purchase A 30 min later (kept), purchase B 2 h
    later (matched but STALE -> NULLed)."""
    rows = [(1, 7, "click", 0), (2, 7, "purchase", 1800),
            (3, 7, "purchase", 7200)]
    spark.createDataFrame(
        [(i, u, t, off) for i, u, t, off in rows],
        "event_id bigint, user_id bigint, event_type string, "
        "off bigint") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(off as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .withColumn("value", F.lit(0.0)).drop("off") \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r.event_id: r.click_id for r in
           run("join_asof_tolerance", spark, str(tmp_path)).collect()}
    assert got == {2: 1, 3: None}


def test_benford_shares_sum_to_one(spark, sf_dir):
    rows = run("profile_benford_digits", spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert math.isclose(sum(r.share for r in rows), 1.0, abs_tol=1e-4)
    # integer-exact counts reconcile with the share denominator
    total = sum(r.n for r in rows)
    for r in rows:
        assert math.isclose(r.share, round(r.n / total, 6), abs_tol=1e-9)


# ------------------------------------------- review-pass regressions

def test_quality_gate_null_text_gets_reason(spark, tmp_path):
    """NULL text nulls every signal; without an explicit rule the
    row would pass with keep=true and no audit trail."""
    spark.createDataFrame(
        [(0, None, "en", "s", 0),
         (1, " ".join(["w"] * 30), "en", "s", 59)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r for r in
           run("quality_gate_reasons", spark, str(tmp_path)).collect()}
    assert got[0].reasons == "null_text" and not got[0].keep
    assert got[1].keep


def test_weighted_sample_survives_all_empty_corpus(spark, tmp_path):
    """avg_chars would be 0 (ANSI DIV-by-zero kill) without the
    GREATEST(1, ...) clamp."""
    spark.createDataFrame(
        [(i, "", "en", "s", 0) for i in range(5)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = run("sample_weighted_bernoulli", spark, str(tmp_path)).collect()
    assert rows[0].n_docs == 5 and rows[0].n_sampled == 0


def test_weighted_sample_huge_doc_id_no_overflow(spark, tmp_path):
    """doc_id beyond 2^32: the direct Knuth product overflows int64
    (ANSI error / silent wrap); the split-multiply coin must keep
    matching the mathematical hash."""
    big = 2**40 + 12345
    spark.createDataFrame(
        [(big, "x" * 50, "en", "s", 50),
         (7, "y" * 50, "en", "s", 50)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = run("sample_weighted_bernoulli", spark, str(tmp_path)).collect()
    # model: avg=50, threshold = 50*2^32 // 500
    thr = (50 * 4294967296) // 500
    expect = sum(1 for d in (big, 7)
                 if ((d % 4294967296) * 2654435761) % 4294967296 < thr)
    assert rows[0].n_sampled == expect


def test_q7_double_nation_broadcast_and_q14_pushdown(spark, sf_dir):
    """Q7's twice-joined nation dimension must appear as TWO
    broadcast hash joins (one per role); Q14's shipdate slice must
    reach the lineitem parquet scan."""
    q7 = plan_of(spark, sf_dir, "sql_tpch_q7")
    assert q7.count("BroadcastHashJoin") >= 2, q7
    assert "CartesianProduct" not in q7
    q14 = plan_of(spark, sf_dir, "sql_tpch_q14")
    assert "PushedFilters: [" in q14, q14
    assert "l_shipdate" in q14.split("PushedFilters")[1][:400], q14


def test_q6_pushdown_and_schema_pruning(spark, sf_dir):
    """Q6's four range predicates must reach the lineitem scan and
    the scan must read only the three touched columns."""
    plan = plan_of(spark, sf_dir, "sql_tpch_q6")
    pushed = plan.split("PushedFilters")[1][:500]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in schema and "l_orderkey" not in schema, plan


# -------------------------------------- tranche-1 review regressions

def test_zscore_constant_group_emits_nothing(spark, tmp_path):
    """A constant-valued event type's variance can land 1 ULP below
    zero; unclamped, DuckDB's sqrt errors and Spark emits the whole
    group with z=NaN. Clamped, both drop the group."""
    rows = [(i, 7, "ping", 0.05) for i in range(4)] + \
           [(10, 8, "buy", 1.0), (11, 8, "buy", 100.0)]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "value double") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(event_id as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = run("anomaly_zscore", spark, str(tmp_path)).collect()
    assert all(r.event_type != "ping" for r in got)
    import math as m
    assert all(not m.isnan(r.z) for r in got)


def test_split_huge_doc_id_no_overflow(spark, tmp_path):
    """doc_id past 2^32 overflowed the direct Knuth product (DuckDB
    error / Spark silent negative-wrap into 'train'); split-multiply
    must assign by the true hash."""
    big = 2**41 + 99
    spark.createDataFrame(
        [(big, "doc one text", "en", "s", 12),
         (3, "doc two text", "en", "s", 12)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {(r.lang, r.split): r.n_docs for r in
           run("split_train_test", spark, str(tmp_path)).collect()}
    expect: dict[tuple[str, str], int] = {}
    for d in (big, 3):
        s = "train" if ((d % 4294967296) * 2654435761) \
            % 4294967296 % 10 < 9 else "test"
        expect[("en", s)] = expect.get(("en", s), 0) + 1
    assert got == expect


def test_interval_overlap_corrupt_duration_clamped(spark, tmp_path):
    """A 5e8-minute 'view' would explode into ~8M hour buckets
    unclamped; the 24 h clamp keeps it to <=25 buckets and a
    negative duration matches nothing."""
    rows = [(1, 7, "view", 5e8), (2, 7, "purchase", 0.0),
            (3, 9, "view", -30.0), (4, 9, "purchase", 0.0)]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "value double") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(event_id as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r.view_id: r.n_purchases for r in
           run("join_interval_overlap", spark, str(tmp_path)).collect()}
    # view 1's (clamped) 24 h window still contains purchase 2;
    # view 3's negative window contains nothing
    assert got == {1: 1}


def test_foreachbatch_retry_reports_zero_outcomes(spark, tmp_path):
    """A replay with no 'error' rows must still report BOTH outcome
    rows (dead_letter=0) — the oracle's COUNT(*) branches always
    emit a row, and so must the stream's summary."""
    rows = [(i, 7, "view", 0.0, None) for i in range(6)]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "value double, props string") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(event_id as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r.outcome: r.n_rows for r in
           run("stream_foreachbatch_retry", spark, str(tmp_path)).collect()}
    assert got == {"processed": 6, "dead_letter": 0}


# --------------------------------- NULL-robustness oracle parity

def _fixture_dir_with(spark, tmp_path, table, df):
    """Write `df` as `table` in tmp_path (as a single FILE — DuckDB's
    view binder reads plain file paths, not Spark part-file dirs) and
    symlink every OTHER driver table from sf0.001 (testing.compare
    registers ALL tables as DuckDB views, so the directory must be
    complete)."""
    import glob
    import os
    import shutil

    from open_reaction_database_web_scraper_spark.catalog import TABLES
    staging = f"{tmp_path}/_stage_{table}"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.move(part, f"{tmp_path}/{table}.parquet")
    for t in TABLES:
        if t != table:
            dst = f"{tmp_path}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)
    return str(tmp_path)


def _null_events_dir(spark, tmp_path):
    """Events with a NULL ts row mixed in (junk timestamps are
    routine at ingest)."""
    rows = [(0, 7, "view", 0.0, None, 0), (1, 7, "click", 0.0, None, 30),
            (2, 7, "purchase", 1.0, None, None),  # NULL ts
            (3, 8, "view", 0.0, None, 5)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "value double, props string, off int")
          .withColumn("ts", F.expr(
              "timestampadd(SECOND, off, "
              "TIMESTAMP_NTZ '2024-01-01 00:00:00')"))
          .drop("off"))
    return _fixture_dir_with(spark, tmp_path, "events", df)


@pytest.mark.parametrize("name", ["win_lag_lead", "win_sessionize_gaps",
                                  "win_running_distinct",
                                  "event_markov_transitions"])
def test_null_ts_window_oracle_parity(spark, tmp_path, name):
    """Spark sorts ASC NULLS FIRST, DuckDB NULLS LAST — unpinned,
    every ts-ordered window diverges on a NULL timestamp row. The
    asc_nulls_last pins must keep oracle parity on such data."""
    from open_reaction_database_web_scraper_spark.testing import compare
    d = _null_events_dir(spark, tmp_path)
    spec = REGISTRY[name]
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d, name)
    assert ok, msg


def test_entropy_constant_doc_not_negative_zero(spark, tmp_path):
    """A doc of identical characters has entropy -(1*log2 1) = -0.0;
    unnormalized, Spark renders 0.0 and DuckDB -0.0 -> hash flake."""
    from open_reaction_database_web_scraper_spark.testing import compare
    d = _fixture_dir_with(spark, tmp_path, "documents", spark.createDataFrame(
        [(0, "aaaa", "en", "s", 4), (1, "ab ab", "en", "s", 5)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"))
    spec = REGISTRY["text_entropy_quality"]
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d, "entropy")
    assert ok, msg
    rows = {r.doc_id: r.char_entropy
            for r in spec.fn(spark, str(tmp_path)).collect()}
    assert rows[0] == 0.0 and str(rows[0]) == "0.0"


def test_count_min_sketch_null_type_no_throw(spark, tmp_path):
    rows = [(0, 7, None, 0.0, None), (1, 7, "view", 0.0, None),
            (2, 8, "click", 0.0, None)]
    (spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "value double, props string")
     .withColumn("ts", F.expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'"))
     .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet"))
    got = {r.event_type: r.est_count for r in
           REGISTRY["agg_count_min_sketch"].fn(spark, str(tmp_path))
           .collect()}
    assert got == {"view": 1, "click": 1}


def test_session_window_exact_gap_boundary_merges(spark, tmp_path):
    """Two events exactly 30 min apart: Spark's session_window MERGES
    them (new start <= current end); the oracle must agree (it used
    '>=' and split — passing only because the data had no exact
    gaps)."""
    from open_reaction_database_web_scraper_spark.testing import compare
    df = (spark.createDataFrame(
        [(0, 7, "view", 0.0, None, 0), (1, 7, "view", 0.0, None, 1800),
         (2, 7, "view", 0.0, None, 5400)],
        "event_id bigint, user_id bigint, event_type string, "
        "value double, props string, off int")
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, off, TIMESTAMP_NTZ '2024-01-01')"))
        .drop("off"))
    d = _fixture_dir_with(spark, tmp_path, "events", df)
    spec = REGISTRY["stream_session_window"]
    out = spec.fn(spark, d).collect()
    # 0s and 1800s merge (boundary); 5400s is 3600s later -> splits
    assert sorted(r.n_events for r in out) == [1, 2]
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d, "session")
    assert ok, msg


def test_stats_moments_single_row_group_null_not_crash(spark, tmp_path):
    """A 1-row returnflag group: (n-1)=0 divides ABORT under ANSI
    unless gated; both engines must emit NULL stats for it."""
    from open_reaction_database_web_scraper_spark.testing import compare
    rows = [(1, 1, 1, 1, 5.0, 100.0, 0.0, 0.0, "X", "F"),
            (2, 1, 1, 2, 7.0, 150.0, 0.0, 0.0, "A", "F"),
            (3, 1, 1, 3, 9.0, 130.0, 0.0, 0.0, "A", "F")]
    df = (spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
              "l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_discount double, l_tax double, "
              "l_returnflag string, l_linestatus string")
        .withColumn("l_shipdate",
                    F.expr("TIMESTAMP '1998-06-01 00:00:00'")))
    d = _fixture_dir_with(spark, tmp_path, "lineitem", df)
    spec = REGISTRY["agg_stats_moments"]
    got = {r.l_returnflag: r for r in spec.fn(spark, d).collect()}
    assert got["X"].var_qty is None and got["X"].avg_qty == 5.0
    assert got["A"].var_qty is not None
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d, "moments")
    assert ok, msg


def test_outcomes_flat_empty_measurements_no_throw(spark):
    """A product with measurements: [] (the formatter and the
    reference both emit it) must yield NULL meas fields, not an
    ANSI INVALID_ARRAY_INDEX crash."""
    from open_reaction_database_web_scraper_spark.sources.ord import (
        outcomes_flat,
    )
    ident = "array<struct<type: string, value: string>>"
    meas = ("array<struct<type: string, details: string, "
            "mass: struct<value: double, units: string>>>")
    schema = (f"dataset_id string, reaction_id string, outcomes "
              f"array<struct<identifiers: {ident}, reaction_role: string, "
              f"is_desired_product: boolean, measurements: {meas}>>")
    df = spark.createDataFrame(
        [("ds1", "rx1",
          [([("NAME", "water")], "PRODUCT", True, [])])], schema)
    rows = outcomes_flat(df).collect()
    assert len(rows) == 1
    assert rows[0].meas_type is None
