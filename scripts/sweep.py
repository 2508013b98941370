"""Tri-SF correctness sweep → checked-in JSON artifact.

Usage: python scripts/sweep.py out.json [sf_dir ...] [--only q ...]
The output path is required (the committed SWEEP_r*.json artifacts
sit at the repo root, where a default would overwrite one); a
missing path or an unknown --only name exits 2 before Spark starts.
--only restricts to the named queries and MERGES their fresh cells
into an existing out.json (recorded in the artifact's "merged"
list) — for re-verifying a fixed cell through the identical compare
path without re-running the other ~240 queries.
Runs EVERY registered query at each scale factor (default all three
driver SFs) against its DuckDB oracle via the driver-faithful compare
(vacuous-empty guard ON, same as scripts/diffcheck.py), and writes a
single JSON artifact with per-query, per-SF status + row count +
seconds — the independently checkable record the round-3/4 verdicts
asked for (103 queries had only the builder's prose claim).

Statuses: "pass" (oracle match), "rows_only" (no oracle; executed,
row count recorded), "vacuous" (both engines empty — a FAIL),
"fail" (mismatch), "error" (exception; message recorded),
"rows_only_at_scale" (oracle unaffordable at this SF, Spark side
executed), "sampled_hash_at_scale" (engine ran the FULL corpus; its
output restricted to a deterministic key sample hash-matched the
identically-restricted oracle), "budget_capped" (quadratic-by-spec
query excluded above driver SFs, justification recorded). A
rows-only query returning 0 rows is ALSO flagged vacuous unless
allow-listed in RO_EMPTY_OK with a justification — a rows-only
check that counts nothing verified nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_reaction_database_web_scraper_spark.registry import (  # noqa: E402
    REGISTRY, load_all_operators)
from open_reaction_database_web_scraper_spark.session import get_session  # noqa: E402
from open_reaction_database_web_scraper_spark.testing import (  # noqa: E402
    RO_EMPTY_OK, VACUOUS_ALLOWED, compare_full, drop_drained_memory_sinks,
    run_oracle_df)

DEFAULT_SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1")

# Oracles that are BY DESIGN brute-force (their independence from the
# engine's blocking is the point) and therefore unaffordable above
# the driver SFs: at those scales the sweep executes the Spark side
# (rows + seconds recorded, status "rows_only_at_scale") instead of
# waiting out an O(N²) single-threaded DuckDB join. Keyed by
# (query, sf-dir basename); each entry needs a justification.
ORACLE_SKIP_AT_SCALE: set = set()

# Round 12 (verdict r11 #7): queries whose FULL oracle is unaffordable
# at a decade SF get a SAMPLED value check instead of a rows-only
# pass: the ENGINE side still runs the FULL corpus; its output is then
# restricted to pairs whose BOTH endpoints fall in a deterministic
# custkey sample, and hash-compared against the identically-restricted
# oracle. status "sampled_hash_at_scale"; a mismatch counts as bad.
def _restrict_fuzzy(spark, sf, df):
    """Names are unique per custkey in every generated corpus
    (TPC-H-style name := f(custkey); make_sf1 adds length-distinct
    per-copy suffixes), so filtering the engine OUTPUT by sampled
    NAME equals the oracle's custkey restriction."""
    from pyspark.sql import functions as SF

    from open_reaction_database_web_scraper_spark.catalog import load
    samp = (load(spark, sf, "customer")
            .filter(SF.col("c_custkey") % 7 == 0).select("c_name"))
    return (df.join(samp.withColumnRenamed("c_name", "name_a"),
                    "name_a", "semi")
            .join(samp.withColumnRenamed("c_name", "name_b"),
                  "name_b", "semi")
            .select("name_a", "name_b", "edit_dist"))


def _miner_sampled_oracle() -> str:
    """The registered exhaustive-miner oracle with its probe set
    restricted to the vec_id % 7 == 0 slice (7 is coprime with the
    % 25 probe gate, so the slice keeps ~1/7 of probes — % 5 would
    keep ALL of them: every multiple of 25 is one of 5). Derived
    from the registry at call time (single-site replace) so the
    sampled form can never drift from the production oracle. The
    corpus side stays FULL: per-query top-k depends on every
    candidate, so the slice must restrict only WHICH queries are
    checked, never what they are checked against."""
    base = REGISTRY["sample_hard_negative_mine"].oracle
    marker = "WHERE vec_id % 25 = 0"
    assert base.count(marker) == 1, "miner oracle shape changed"
    return base.replace(marker, marker + " AND vec_id % 7 = 0")


SAMPLED_ORACLE_AT_SCALE = {
    # Full oracle = all same-length customer pairs × levenshtein —
    # O(N²·L²), ~1.1e9 edit calls at sf1, measured >20 min
    # single-threaded in DuckDB. custkey % 7 == 0 keeps 1/7 of
    # customers → 1/49 of the pair space (~25 s) while the engine
    # executes its production plan over ALL 2.6 M pairs' worth of
    # input.
    ("dedup_fuzzy_levenshtein", "ordspark_sf1"): {
        "sample": "c_custkey % 7 == 0",
        "restrict": _restrict_fuzzy,
        "oracle": """
        SELECT a.c_name AS name_a, b.c_name AS name_b,
               levenshtein(a.c_name, b.c_name) AS edit_dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND length(a.c_name) = length(b.c_name)
         AND a.c_custkey % 7 = 0 AND b.c_custkey % 7 = 0
        WHERE levenshtein(a.c_name, b.c_name) <= 1
        """,
    },
    # Round 13 (verdict r12 next #7): the exhaustive miner's sf1
    # cell was budget_capped with only a measured cost — now it
    # carries value evidence like fuzzy-levenshtein: the ENGINE runs
    # its full production plan (measured 103.9 s at sf1, SCALING.md
    # round 12 — affordable once per sweep); the compare restricts
    # both sides to the query_id % 7 == 0 probe slice while the
    # oracle's candidate side stays FULL (top-k is corpus-dependent),
    # cutting DuckDB's pair work 7× to ~1/180 of N².
    ("sample_hard_negative_mine", "ordspark_sf1"): {
        "sample": "query_id % 7 == 0",
        "restrict": lambda spark, sf, df: df.filter(
            "query_id % 7 = 0"),
        "oracle": _miner_sampled_oracle,
    },
}

# Queries whose SPARK side is quadratic BY SPEC (kept only as the
# oracle/ground-truth twin of a celled production form) are not
# executed at all above the driver SFs: the round-9 sf1 sweep spent
# 300 s on sample_hard_negative_mine alone (next-worst real query:
# 63 s), buying no evidence the three driver SFs plus the dedicated
# scale probes (SCALING.md) don't already provide. Cells record
# status "budget_capped" with the justification and do not count as
# bad (round-9 verdict "what's wrong" #2; the probe-hygiene rule —
# a recorded exclusion beats an unbounded wait).
BUDGET_CAP_AT_SCALE: dict = {
    # (emptied round 13: sample_hard_negative_mine's sf1 cell moved
    # to SAMPLED_ORACLE_AT_SCALE — the engine-side cost, 103.9 s,
    # is affordable once per sweep and now buys value evidence)
}


# Round 13 (verdict r12 next-round #3): the four genuinely
# approximate sketches were bare "rows_only" in the artifact even
# though estimate-envelope tests exist in the suite — the sweep cell
# itself now records an estimate-vs-DuckDB-EXACT envelope check
# (status "envelope_pass", the bounds in the cell), so no cell is
# unvalidated. Envelopes are the documented w.h.p. error models:
# HLL rsd (x4 sigma), CMS one-sided eps*N overshoot, GK rank error
# (checked via exact quantiles at p +/- 0.005).
def _env_approx_count_distinct(spark, sf, df):
    est = df.collect()[0]
    ex = run_oracle_df(
        "SELECT COUNT(DISTINCT l_partkey) AS p, "
        "COUNT(DISTINCT l_orderkey) AS o FROM lineitem", sf).iloc[0]
    tol = 4 * 0.02          # rsd=0.02 requested; 4 sigma envelope
    detail = {"parts": [int(est.approx_parts), int(ex.p)],
              "orders": [int(est.approx_orders), int(ex.o)],
              "rel_tol": tol}
    ok = (abs(est.approx_parts - int(ex.p)) <= tol * int(ex.p)
          and abs(est.approx_orders - int(ex.o)) <= tol * int(ex.o))
    return ok, detail


def _env_hll_sketch_merge(spark, sf, df):
    est = {r.lang: int(r.est_distinct) for r in df.collect()}
    ex_pd = run_oracle_df("""
        WITH words AS (
          SELECT lang, UNNEST(string_split(text, ' ')) AS word
          FROM documents)
        SELECT lang, COUNT(DISTINCT word) AS n FROM words GROUP BY lang
        UNION ALL
        SELECT 'ALL' AS lang, COUNT(DISTINCT word) AS n FROM words
        """, sf)
    exact = {r.lang: int(r.n) for r in ex_pd.itertuples()}
    # default lgConfigK=12 -> rsd ~1.04/sqrt(4096) ~1.6%; 4 sigma + a
    # floor for tiny cardinalities
    ok = set(est) == set(exact) and all(
        abs(est[k] - exact[k]) <= max(5.0, 4 * 0.0163 * exact[k])
        for k in exact)
    worst = max(exact, key=lambda k: abs(est.get(k, 0) - exact[k])
                / max(1, exact[k])) if exact else None
    return ok, {"langs": len(exact), "rel_tol": round(4 * 0.0163, 4),
                "worst": [worst, est.get(worst), exact.get(worst)]}


def _env_count_min(spark, sf, df):
    est = {r.event_type: int(r.est_count) for r in df.collect()}
    ex_pd = run_oracle_df(
        "SELECT event_type, COUNT(*) AS n FROM events "
        "WHERE event_type IS NOT NULL GROUP BY event_type", sf)
    exact = {r.event_type: int(r.n) for r in ex_pd.itertuples()}
    n_total = sum(exact.values())
    # the sketch is built with eps=0.001 (operators/aggregates.py),
    # so w.h.p. overshoot <= 0.001*N — the envelope must match the
    # sketch's OWN error model, not a looser one (a 10x-slack check
    # would green-light a merge bug inflating estimates well past
    # the documented bound); floor covers tiny-N integer slop
    slack = max(10, 0.001 * n_total)
    ok = set(est) == set(exact) and all(
        exact[k] <= est[k] <= exact[k] + slack for k in exact)
    return ok, {"types": len(exact), "one_sided_slack": int(slack),
                "max_overshoot": max((est[k] - exact[k]
                                      for k in exact), default=0)}


def _env_approx_percentile(spark, sf, df):
    rows = {r.l_returnflag: r for r in df.collect()}
    ex_pd = run_oracle_df("""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.245) AS p25_lo,
               quantile_disc(l_extendedprice, 0.255) AS p25_hi,
               quantile_disc(l_extendedprice, 0.495) AS p50_lo,
               quantile_disc(l_extendedprice, 0.505) AS p50_hi,
               quantile_disc(l_extendedprice, 0.745) AS p75_lo,
               quantile_disc(l_extendedprice, 0.755) AS p75_hi
        FROM lineitem GROUP BY l_returnflag
        """, sf)
    ok = set(rows) == set(ex_pd.l_returnflag)
    for r in ex_pd.itertuples():
        got = rows.get(r.l_returnflag)
        ok = ok and got is not None and all(
            float(lo) <= float(getattr(got, p)) <= float(hi)
            for p, lo, hi in (("p25", r.p25_lo, r.p25_hi),
                              ("p50", r.p50_lo, r.p50_hi),
                              ("p75", r.p75_lo, r.p75_hi)))
    return ok, {"groups": len(rows), "rank_window": 0.005}


ENVELOPE_CHECKS = {
    "agg_approx_count_distinct": _env_approx_count_distinct,
    "agg_hll_sketch_merge": _env_hll_sketch_merge,
    "agg_count_min_sketch": _env_count_min,
    "agg_approx_percentile": _env_approx_percentile,
}


def parse_args(argv: list[str]) -> tuple[str, list[str], list[str]]:
    """(out_path, sf_dirs, only); exits 2 unless exactly one .json
    path is given, or on an --only name that is not registered."""
    p = argparse.ArgumentParser(
        prog="sweep.py", usage="%(prog)s out.json [sf_dir ...] [--only q ...]")
    p.add_argument("args", nargs="*")
    p.add_argument("--only", nargs="+", default=[])
    a = p.parse_intermixed_args(argv)
    outs = [x for x in a.args if x.endswith(".json")]
    if len(outs) != 1:
        p.error("exactly one output .json path is required")
    load_all_operators()
    unknown = [n for n in a.only if n not in REGISTRY]
    if unknown:
        p.error(f"--only names not registered: {' '.join(unknown)}")
    sf_dirs = [x for x in a.args if not x.endswith(".json")]
    return outs[0], sf_dirs or list(DEFAULT_SFS), a.only


def main() -> int:
    out_path, sf_dirs, only = parse_args(sys.argv[1:])
    spark = get_session("sweep", extra_conf={
        # sf1 sweeps: a few pair-output queries legitimately return
        # hundreds of MBs; the COMPARE harness collects both sides,
        # so don't let the harness's collect cap masquerade as a
        # query failure (the engine-side plans never collect)
        "spark.driver.maxResultSize": "4g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    if only:
        with open(out_path, encoding="utf-8") as f:
            result = json.load(f)
        result.setdefault("merged", []).extend(sorted(only))
        result["n_queries"] = len(REGISTRY)
        n_bad = 0
    else:
        result = {"sf_dirs": sf_dirs, "n_queries": len(REGISTRY),
                  "queries": {}}
        n_bad = 0
    todo = sorted(only) if only else sorted(REGISTRY)
    for name in todo:
        spec = REGISTRY[name]
        # setdefault, not assignment: --only merge mode must overwrite
        # ONLY the (query, sf) cells it re-runs — a bare assignment
        # dropped the other SF cells from the artifact and the final
        # recount then skipped any previously-failing dropped cell
        # (round-9 advice: a subset merge could launder a FAIL).
        result["queries"].setdefault(name, {})
        for sf in sf_dirs:
            key = sf.rsplit("/", 1)[-1]
            if (name, key) in BUDGET_CAP_AT_SCALE:
                result["queries"][name][key] = {
                    "status": "budget_capped",
                    "reason": BUDGET_CAP_AT_SCALE[(name, key)]}
                print(f"ok   {name} @ {key}: budget_capped", flush=True)
                continue
            t0 = time.time()
            try:
                df = spec.fn(spark, sf)
                if (name, key) in ORACLE_SKIP_AT_SCALE:
                    n = df.count()
                    result["queries"][name][key] = {
                        "status": "rows_only_at_scale", "rows": n,
                        "sec": round(time.time() - t0, 2)}
                    print(f"ok   {name} @ {key}: rows_only_at_scale "
                          f"({n} rows) [{time.time() - t0:.2f}s]",
                          flush=True)
                    continue
                if (name, key) in SAMPLED_ORACLE_AT_SCALE:
                    cfg = SAMPLED_ORACLE_AT_SCALE[(name, key)]
                    # engine runs the FULL corpus; materialize its
                    # (small, top-k/threshold-bounded) output ONCE so
                    # the count and the restricted compare don't each
                    # re-execute the expensive plan
                    df = df.localCheckpoint(eager=True)
                    n_full = df.count()
                    filt = cfg["restrict"](spark, sf, df)
                    sql = cfg["oracle"]
                    if callable(sql):
                        sql = sql()
                    r = compare_full(filt, sql, sf, name,
                                     fail_on_empty=True)
                    cell = ({"status": "sampled_hash_at_scale",
                             "rows_full": n_full,
                             "rows_sampled": r.rows,
                             "sample": cfg["sample"]}
                            if r.ok else
                            {"status": "fail",
                             "detail": r.message.split("\n")[0]})
                    cell["sec"] = round(time.time() - t0, 2)
                    bad = cell["status"] == "fail"
                    n_bad += bad
                    result["queries"][name][key] = cell
                    spark.catalog.clearCache()
                    drop_drained_memory_sinks(spark)
                    print(f"{'FAIL' if bad else 'ok  '} {name} @ {key}: "
                          f"{cell['status']} [{cell['sec']}s]",
                          flush=True)
                    continue
                if spec.oracle is None:
                    if name in ENVELOPE_CHECKS:
                        # one execution: the envelope check collects
                        # this same frame, so without the checkpoint
                        # count() + collect() would run the full
                        # scan+aggregate twice per cell
                        df = df.localCheckpoint(eager=True)
                    n = df.count()
                    if name in ENVELOPE_CHECKS and n == 0:
                        # vacuity outranks the envelope: exact==
                        # estimate==empty would "pass" on sets that
                        # verified nothing (same policy as the
                        # oracled both-empty guard)
                        cell = {"status": "vacuous", "rows": 0}
                    elif name in ENVELOPE_CHECKS:
                        ok, detail = ENVELOPE_CHECKS[name](spark, sf, df)
                        cell = ({"status": "envelope_pass", "rows": n,
                                 "envelope": detail} if ok else
                                {"status": "fail", "rows": n,
                                 "detail": f"envelope violated: "
                                           f"{detail}"})
                    elif n == 0 and name in RO_EMPTY_OK:
                        cell = {"status": "rows_only", "rows": 0,
                                "empty_ok": RO_EMPTY_OK[name]}
                    elif n == 0:
                        cell = {"status": "vacuous", "rows": 0}
                    else:
                        cell = {"status": "rows_only", "rows": n}
                else:
                    r = compare_full(
                        df, spec.oracle, sf, name,
                        fail_on_empty=name not in VACUOUS_ALLOWED)
                    if r.ok:
                        cell = {"status": "pass", "rows": r.rows}
                    elif r.vacuous:
                        cell = {"status": "vacuous", "rows": 0}
                    else:
                        cell = {"status": "fail",
                                "detail": r.message.split("\n")[0]}
            except Exception:
                cell = {"status": "error",
                        "detail": traceback.format_exc(limit=1)
                        .splitlines()[-1]}
            # release anything a query cached internally (e.g. the
            # minhash signature frame) so storage can't accumulate
            # across the 200+-query x 3-SF sweep; same for drained
            # memory-sink tables, whose rows live on the driver heap
            # until their temp view is dropped (the sf10 OOM,
            # SCALING.md round 13)
            spark.catalog.clearCache()
            drop_drained_memory_sinks(spark)
            cell["sec"] = round(time.time() - t0, 2)
            bad = cell["status"] in ("fail", "vacuous", "error")
            n_bad += bad
            result["queries"][name][key] = cell
            print(f"{'FAIL' if bad else 'ok  '} {name} @ {key}: "
                  f"{cell['status']} [{cell['sec']}s]", flush=True)
    # recompute over the whole artifact (merge mode overwrites a
    # stale cell in place; a fresh run counts its own cells)
    n_bad = sum(1 for q in result["queries"].values()
                for c in q.values()
                if c["status"] in ("fail", "vacuous", "error"))
    result["n_bad_cells"] = n_bad
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}: {len(REGISTRY)} queries x "
          f"{len(sf_dirs)} SFs, {n_bad} bad cells")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
