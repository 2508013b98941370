"""Dump (or red-flag-scan) the physical plan of every registered query.

Usage:
  python scripts/explain_all.py [sf_dir]          # red-flag summary
  python scripts/explain_all.py [sf_dir] NAME...  # full formatted plans

Red flags scanned (the shapes that break at 100 TB):
  - BroadcastNestedLoopJoin / CartesianProduct on non-cross queries
  - BatchEvalPython (row-at-a-time Python) outside the udf_* queries
  - a Window with an empty PartitionBy (single-partition sort)
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_reaction_database_web_scraper_spark.registry import (  # noqa: E402
    REGISTRY, load_all_operators)
from open_reaction_database_web_scraper_spark.session import get_session  # noqa: E402

# Queries allowed to carry each flag (deliberate shapes). Round 11:
# every BroadcastNestedLoopJoin exemption now carries a PINNED
# predicate — the exact BNLJ count plus, per join (ordered by plan
# node id), the structural reason it is safe, verified against the
# formatted plan's build-side subtree. A shape regression INSIDE an
# allowed query (e.g. the 1-row aggregate becoming data-sized, the
# fixed 16-probe filter disappearing) now flags instead of hiding
# behind the exemption.
#
# Kinds:
#   scalar_1row             build subtree contains a KEYLESS
#                           aggregate ("Keys: []") — a 1-row scalar
#                           subquery; broadcasting one row is always
#                           safe.
#   fixed_probe, <regex>    build subtree's parquet scan carries the
#                           pinned PushedFilter (a FIXED probe set,
#                           e.g. LessThan(vec_id,16)) — the O(k·N)
#                           compare regime, k constant.
#   bounded_domain, <regex> build subtree aggregates onto a bounded
#                           categorical domain (pinned group keys).
#   fixed_dim_scan, <regex> build subtree is a scan of a
#                           fixed-cardinality dimension table
#                           (pinned by file name).
ALLOW_BNLJ: dict[str, list[tuple[str, ...]]] = {
    # bounded cartesian is the query's semantics: nation dim (25 rows
    # at ANY scale) crossed for the small-k pairing
    "join_cross_smallk": [("fixed_dim_scan", r"nation\.parquet")],
    # brute-force scoring broadcasts a FIXED tiny side (8 query
    # vectors) — linear in the corpus, never quadratic
    "vector_topk_similarity": [("fixed_probe", r"LessThan\(vec_id,8\)")],
    # FIXED 16-probe broadcast against the corpus on a != condition —
    # the binary-code compare regime (8-byte XOR/popcount per pair)
    "embedding_binarize_hamming":
        [("fixed_probe", r"LessThan\(vec_id,16\)")],
    # same fixed-16-probe != broadcast, two dot folds per pair
    "vector_matryoshka_truncate":
        [("fixed_probe", r"LessThan\(vec_id,16\)"),
         ("fixed_probe", r"LessThan\(vec_id,16\)")],
    # the |buckets| marginal table, then the grand-total scalar
    "stats_chi2_independence":
        [("bounded_domain", r"bucket"),
         ("scalar_1row",)],
    # 1-row scalar-subquery broadcasts (n_docs / corpus totals /
    # thresholds / census scalars), one entry per BNLJ in the plan
    "text_tfidf": [("scalar_1row",)],
    "text_lm_perplexity": [("scalar_1row",)],
    "join_salted_skew": [("scalar_1row",), ("scalar_1row",)],
    "assoc_pair_lift": [("scalar_1row",)],
    "corpus_mix_report": [("scalar_1row",)],
    "text_keyword_topk": [("scalar_1row",)],
    "graph_pagerank": [("scalar_1row",)] * 4,
    "graph_triangle_count": [("scalar_1row",)] * 2,
    "sample_weighted_bernoulli": [("scalar_1row",)],
    "profile_benford_digits": [("scalar_1row",)],
    "sql_tpch_q11": [("scalar_1row",)],
    "sql_tpch_q22": [("scalar_1row",)],
    "sample_temperature_mix": [("scalar_1row",)],
    "corpus_token_budget_alloc": [("scalar_1row",)] * 3,
    "stats_ks_drift": [("scalar_1row",)],
    "corpus_vocab_growth": [("scalar_1row",)],
    # bounded label-DOMAIN broadcast (|labels| rows); the corpus-sized
    # join is the neg_label equi-join
    "sample_hard_negative_mine": [("bounded_domain", r"label")],
    # vector_ann_ivf and sql_tpch_q15 were exempted in earlier rounds
    # but no longer plan a BNLJ — their entries are REMOVED so the
    # audit tightens (a BNLJ reappearing there flags again).
}
ALLOW = {
    "CartesianProduct": set(),
    # the Python escape hatch is the feature under test
    "BatchEvalPython": {"udf_python_scalar", "udtf_flatten"},
    "GlobalWindow": set(),
}
# True readStream jobs (streaming/jobs.py) execute eagerly inside
# fn() and return memory-sink / local results — their plans are not
# the job's dataflow; skip those BY NAME. The streaming_batch module's
# window/join queries are ordinary batch plans and ARE audited.
SKIP_NAMES = {"stream_watermark_late", "stream_dedup_stateful",
              "stream_dedup_ttl", "stream_dedup_salted",
              # eager readStream like its fixed-form siblings, plus
              # a plan-time detection scan before the stream starts
              "stream_dedup_adaptive",
              "stream_rate_limit", "stream_foreachbatch_retry",
              "stream_custom_stateful", "stream_session_stateful",
              # runs its observed pass eagerly inside fn() and
              # returns a driver-local metrics row — the returned
              # plan is a LocalTableScan, not the job's dataflow
              "scan_observed_metrics"}


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# --- formatted-plan tree parsing (the BNLJ pin verifier) ------------

_TREE_RE = re.compile(
    r"^(?P<pre>[:\s+*-]*)(?P<op>[A-Za-z][^(]*?)\s*\((?P<id>\d+)\)")


def _parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(depth, op_text, node_id) per tree line of a FORMATTED plan.
    Lines that don't parse (InMemoryTableScan's '(columnar...)' tail
    still parses via the FIRST '(id)'; detail-section lines don't
    start with tree prefixes) are skipped; the tree ends at the first
    blank line after it started."""
    nodes: list[tuple[int, str, int]] = []
    started = False
    for ln in plan.splitlines():
        if "== Physical Plan ==" in ln:
            started = True
            continue
        if not started:
            continue
        if not ln.strip():
            if nodes:
                break
            continue
        m = _TREE_RE.match(ln)
        if not m:
            if nodes:
                break  # reached the details section
            continue
        nodes.append((len(m.group("pre")), m.group("op").strip(),
                      int(m.group("id"))))
    return nodes


def _details_of(plan: str, nid: int) -> str:
    m = re.search(rf"^\({nid}\) .*?(?=^\(\d+\) |\Z)", plan,
                  re.M | re.S)
    return m.group(0) if m else ""


def _bnlj_build_subtrees(plan: str) -> list[tuple[int, list[int]]]:
    """For each BroadcastNestedLoopJoin (ordered by node id): the
    node ids of its BUILD-side subtree (the broadcast input)."""
    nodes = _parse_tree(plan)
    out = []
    for i, (d, op, nid) in enumerate(nodes):
        if not op.startswith("BroadcastNestedLoopJoin"):
            continue
        kids = []
        j = i + 1
        while j < len(nodes) and nodes[j][0] > d:
            if nodes[j][0] == d + 3:
                kids.append(j)
            j += 1
        if not kids:
            out.append((nid, []))
            continue
        k = kids[0] if "BuildLeft" in op else kids[-1]
        kd = nodes[k][0]
        sub = [nodes[k][2]]
        j = k + 1
        while j < len(nodes) and nodes[j][0] > kd:
            sub.append(nodes[j][2])
            j += 1
        out.append((nid, sub))
    return sorted(out)


def check_bnlj_pins(name: str, plan: str) -> list[str]:
    """Verify the plan's BNLJs against the query's pinned exemption.
    Returns a list of violation strings (empty = clean)."""
    subs = _bnlj_build_subtrees(plan)
    pins = ALLOW_BNLJ.get(name)
    if pins is None:
        return [f"BroadcastNestedLoopJoin x{len(subs)} (no exemption)"] \
            if subs else []
    probs = []
    if len(subs) != len(pins):
        probs.append(f"pin mismatch: expected {len(pins)} BNLJ(s), "
                     f"plan has {len(subs)}")
        return probs
    for (nid, sub), pin in zip(subs, pins):
        dets = [_details_of(plan, s) for s in sub]
        kind = pin[0]
        if kind == "scalar_1row":
            ok = any("Keys: []" in d for d in dets)
            why = "no keyless (1-row) aggregate in build subtree"
        elif kind == "fixed_probe":
            pushed = [m.group(0) for d in dets for m in
                      re.finditer(r"PushedFilters: \[.*?\]", d)]
            ok = any(re.search(pin[1], p) for p in pushed)
            why = f"no pushed filter matching {pin[1]} in build scan"
        elif kind == "bounded_domain":
            ok = any(re.search(rf"Keys \[\d+\]: \[[^\]]*{pin[1]}", d)
                     for d in dets)
            why = f"no aggregate keyed on {pin[1]} in build subtree"
        elif kind == "fixed_dim_scan":
            scans = [d for d in dets if d.split(") ", 1)[-1]
                     .startswith("Scan")]
            ok = bool(scans) and all(
                re.search(pin[1], d) for d in scans)
            why = f"build subtree is not a {pin[1]} dim scan"
        else:  # unknown kind: always a violation
            ok, why = False, f"unknown pin kind {kind!r}"
        if not ok:
            probs.append(f"BNLJ({nid}) pin FAILED: {why}")
    return probs


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a]
    load_all_operators()
    spark = get_session("explain")
    spark.sparkContext.setLogLevel("ERROR")

    if names:
        for n in names:
            print(f"{'=' * 70}\n{n}\n{'=' * 70}")
            print(plan_of(REGISTRY[n].fn(spark, sf_dir)))
        return 0

    n_flags = 0
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        if name in SKIP_NAMES:
            continue
        try:
            plan = plan_of(spec.fn(spark, sf_dir))
        except Exception as e:
            print(f"FLAG {name}: plan failed: {e}")
            n_flags += 1
            continue
        flags = []
        # BNLJ: every exemption carries a pinned predicate (round 11)
        flags.extend(check_bnlj_pins(name, plan))
        for marker in ("CartesianProduct", "BatchEvalPython"):
            if marker in plan and name not in ALLOW[marker]:
                flags.append(marker)
        if re.search(r"Arguments: \[\], \[[^\]]+ (ASC|DESC)", plan) \
                and name not in ALLOW["GlobalWindow"]:
            flags.append("GlobalWindow")
        if flags:
            n_flags += 1
            print(f"FLAG {name}: {', '.join(flags)}")
    print(f"\n{n_flags} flagged")
    return 1 if n_flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
