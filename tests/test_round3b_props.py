"""Property tests for the round-3 tranche-2 graph operators:
Spark plans vs straight-line Python models on generated graphs.

The generated (order, part, supplier) triples produce multigraphs
with duplicate edges, isolated pairs, hubs and cliques — the shapes
that break orientation/dedup logic. One Spark job per example.
"""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()

_SETTINGS = settings(max_examples=10, deadline=None,
                     suppress_health_check=[
                         HealthCheck.too_slow,
                         HealthCheck.function_scoped_fixture])

# Small domains force shared orders (cliques), repeated pairs and
# hub parts.
triples = st.lists(
    st.tuples(st.integers(min_value=1, max_value=6),    # order
              st.integers(min_value=1, max_value=8),    # part
              st.integers(min_value=1, max_value=4)),   # supplier
    min_size=1, max_size=30)


def _write_li(spark, tmp, rows):
    spark.createDataFrame(
        [(o, p, s) for (o, p, s) in rows],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint") \
        .write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")


@given(rows=triples)
@_SETTINGS
def test_triangle_census_matches_bruteforce(
        spark, tmp_path_factory, rows):
    tmp = str(tmp_path_factory.mktemp("tri_prop"))
    _write_li(spark, tmp, rows)

    per_order: dict[int, set[int]] = {}
    for o, p, _ in rows:
        per_order.setdefault(o, set()).add(p)
    edges = {tuple(sorted(e))
             for ps in per_order.values()
             for e in combinations(ps, 2)}
    nodes = {v for e in edges for v in e}
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n_wedges = sum(len(nb) * (len(nb) - 1) // 2 for nb in adj.values())
    n_tri = sum(1 for a, b, c in combinations(sorted(nodes), 3)
                if b in adj[a] and c in adj[a] and c in adj[b])

    out = REGISTRY["graph_triangle_count"].fn(spark, tmp).collect()
    if not edges:
        assert not out or (out[0].n_edges or 0) == 0
        return
    row = out[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) \
        == (len(nodes), len(edges), n_wedges, n_tri)


@given(rows=triples)
@_SETTINGS
def test_pagerank_matches_integer_model(spark, tmp_path_factory, rows):
    """The fixed-point docstring formula, folded in plain Python —
    must match Spark's answer EXACTLY (integer determinism is the
    operator's headline claim)."""
    tmp = str(tmp_path_factory.mktemp("pr_prop"))
    _write_li(spark, tmp, rows)

    pairs = {(p, s) for _, p, s in rows}
    edges = [(f"p:{p}", f"s:{s}") for p, s in pairs] + \
            [(f"s:{s}", f"p:{p}") for p, s in pairs]
    deg: dict[str, int] = {}
    for src, _ in edges:
        deg[src] = deg.get(src, 0) + 1
    n = len(deg)
    scale = 1_000_000_000_000
    rank = {v: scale // n for v in deg}
    base = (15 * scale) // (100 * n)
    for _ in range(3):
        nxt = {v: base for v in deg}
        for src, dst in edges:
            nxt[dst] += (85 * (rank[src] // deg[src])) // 100
        rank = nxt

    got = {r.node: r.rank_fp for r in
           REGISTRY["graph_pagerank"].fn(spark, tmp).collect()}
    assert got == rank


@given(rows=triples)
@_SETTINGS
def test_bfs_levels_match_python_bfs(spark, tmp_path_factory, rows):
    tmp = str(tmp_path_factory.mktemp("bfs_prop"))
    _write_li(spark, tmp, rows)
    supp_keys = sorted({s for _, _, s in rows})
    spark.createDataFrame(
        [(s, f"s{s}", 0, 0.0) for s in supp_keys],
        "s_suppkey bigint, s_name string, s_nationkey int, "
        "s_acctbal double") \
        .write.mode("overwrite").parquet(f"{tmp}/supplier.parquet")

    pairs = {(p, s) for _, p, s in rows}
    adj: dict[str, set[str]] = {}
    for p, s in pairs:
        adj.setdefault(f"p:{p}", set()).add(f"s:{s}")
        adj.setdefault(f"s:{s}", set()).add(f"p:{p}")
    level = {f"s:{s}": 0 for s in supp_keys if s <= 2}
    frontier = set(level)
    for depth in (1, 2, 3):
        frontier = {w for v in frontier for w in adj.get(v, ())
                    if w not in level}
        for w in frontier:
            level[w] = depth

    got = {r.node: r.level for r in
           REGISTRY["graph_bfs_levels"].fn(spark, tmp).collect()}
    assert got == level


# ------------------------------------------ tolerance as-of vs model

events_strat = st.lists(
    st.tuples(st.sampled_from(["click", "purchase"]),
              st.integers(min_value=0, max_value=8000),   # seconds
              st.integers(min_value=1, max_value=3)),     # user
    min_size=1, max_size=25)


@given(evs=events_strat)
@_SETTINGS
def test_asof_tolerance_matches_model(spark, tmp_path_factory, evs):
    """Generated click/purchase sequences with same-ts collisions and
    boundary gaps (incl. exactly 3600 s): the operator must match the
    straight-line 'latest click <= ts, fresh within 1 h' model."""
    from pyspark.sql import functions as F

    tmp = str(tmp_path_factory.mktemp("asof_prop"))
    rows = [(i, u, t, off) for i, (t, off, u) in enumerate(evs)]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "off bigint") \
        .withColumn("ts", F.expr(
            "timestampadd(SECOND, cast(off as int), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')")) \
        .withColumn("value", F.lit(0.0)).drop("off") \
        .write.mode("overwrite").parquet(f"{tmp}/events.parquet")

    clicks: dict[tuple[int, int], int] = {}
    for i, u, t, off in rows:
        if t == "click":
            k = (u, off)
            clicks[k] = max(clicks.get(k, -1), i)
    expect = {}
    for i, u, t, off in rows:
        if t != "purchase":
            continue
        cand = [(o, cid) for (cu, o), cid in clicks.items()
                if cu == u and o <= off]
        if cand:
            o, cid = max(cand)
            expect[i] = cid if off - o <= 3600 else None
        else:
            expect[i] = None
    got = {r.event_id: r.click_id for r in
           REGISTRY["join_asof_tolerance"].fn(spark, tmp).collect()}
    assert got == expect


@given(chars=st.lists(st.integers(min_value=0, max_value=40000),
                      min_size=1, max_size=30))
@_SETTINGS
def test_export_manifest_matches_model(spark, tmp_path_factory, chars):
    """Generated char-length distributions (incl. 0-char docs and
    single-doc corpora): shard count and per-shard totals must match
    the ceil/modulo model."""
    import math as m

    from open_reaction_database_web_scraper_spark.operators.curation \
        import _SHARD_TARGET_CHARS

    tmp = str(tmp_path_factory.mktemp("exp_prop"))
    rows = [(i, "x" * min(c, 100), "en", "s", c)
            for i, c in enumerate(chars)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint") \
        .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    n_shards = max(1, m.ceil(sum(chars) / _SHARD_TARGET_CHARS))
    expect: dict[int, list[int]] = {}
    for i, c in enumerate(chars):
        sh = i % n_shards
        n, tot = expect.get(sh, (0, 0))
        expect[sh] = (n + 1, tot + c)
    got = {r.shard: (r.n_docs, r.n_chars_total) for r in
           REGISTRY["export_jsonl_sharded"].fn(spark, tmp).collect()}
    assert got == expect
