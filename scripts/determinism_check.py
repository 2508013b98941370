"""Determinism-under-parallelism audit → checked-in JSON artifact.

Usage: python scripts/determinism_check.py [sf_dir] [out.json] [name ...]

Runs every registered query twice — once at the session's shuffle
width (by default its core count) and once at a deliberately
different width (7, or 5 when the base is 7) — and compares an
order-insensitive value hash of the two results. On a real cluster
the partition count is an operational knob (AQE, executor loss,
config drift), so any query whose OUTPUT depends on it would flap a
diff-based regression gate at 100 TB even though every small-scale
test stays green. This is the check the differential oracle cannot
do: Spark and DuckDB can agree at one parallelism while Spark
disagrees with itself at another.

Shapes this catches: floating-point aggregation order (the decimal-
accumulator idiom exists to prevent it), first/last or min_by/max_by
with ambiguous ties, collect_list order leaking into output,
rank/row_number with under-specified ORDER BY, seeded-but-partition-
indexed randomness.

Hashing: rows rendered to strings (arrays included), columns sorted
by name, per-row hashes SUMMED (order-insensitive without a sort —
unlike the driver's compare, which also canon-sorts to diff first
mismatching rows). Same value image as the driver per cell, extended
to array cells (stringified) since this check is Spark-vs-Spark and
needs no DuckDB parity.

The artifact records each query's canonical hash (at the base
width), so a SECOND run in a different process — e.g. under
``SPARK_GRAFT_CPUS=8`` for a different executor-core count, which
changes scan splits and ``fanout()``'s round-robin width — can be
cross-compared with ``--compare prev.json``: a third determinism
axis (cores) on top of the in-process shuffle-width axis, proving
output is independent of the machine shape it ran on.
"""

from __future__ import annotations

import json
import sys
import time
import traceback

sys.path.insert(0, ".")

import pandas as pd  # noqa: E402

from open_reaction_database_web_scraper_spark.registry import (  # noqa: E402
    REGISTRY, load_all_operators)
from open_reaction_database_web_scraper_spark.session import get_session  # noqa: E402
from open_reaction_database_web_scraper_spark.testing import (  # noqa: E402
    drop_drained_memory_sinks)


def alt_width(base: str) -> str:
    """The second width each query runs at; never equal to the base,
    or the check would compare a width with itself."""
    return "5" if base == "7" else "7"


# Queries whose OUTPUT may legitimately vary with partition layout,
# with the reason. Kept EMPTY by policy unless a query's semantics
# are inherently layout-coupled — document hard, allow rarely.
LAYOUT_DEPENDENT_OK: dict[str, str] = {}

# Same budget discipline as sweep.py's BUDGET_CAP_AT_SCALE: the
# quadratic-by-spec exhaustive miner is not executed at sf1 (each
# determinism cell runs the query TWICE — ~10 min of wall buying no
# evidence the driver-SF determinism runs and the SCALING.md probes
# don't already provide). Recorded as a capped cell, not a bad one.
BUDGET_CAP_AT_SCALE = {
    ("sample_hard_negative_mine", "ordspark_sf1"):
        "quadratic by spec (exhaustive ground-truth twin); "
        "determinism attested at sf0.01 in DETERMINISM_r9; "
        "scale behavior probed in SCALING.md rounds 9-10",
}


def canon_hash(pdf: pd.DataFrame) -> int:
    # summed per-row hashes are already row-order-insensitive, so no
    # sort is needed (unlike the driver compare, which also diffs
    # first mismatching rows and therefore canon-sorts)
    pdf = pdf.rename(columns={c: c.lower() for c in pdf.columns})
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.astype(object).where(pdf.notna(), None).astype(str)
    h = pd.util.hash_pandas_object(pdf.reset_index(drop=True),
                                   index=False)
    return int(h.sum())


def main() -> int:
    args = sys.argv[1:]
    compare_path = None
    if "--compare" in args:
        i = args.index("--compare")
        if i + 1 >= len(args):
            print("usage: --compare <prev.json>")
            return 2
        compare_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    # classify positionals by what they ARE, not by '/'-presence: a
    # relative sf_dir like 'sf0.01' used to be misread as a query
    # name and die later with a bare KeyError
    import os
    sf_dir = "/root/testdata/sf0.01"
    out_path, names = None, []
    for a in args:
        if a.endswith(".json"):
            out_path = a
        elif os.path.isdir(a):
            sf_dir = a
        else:
            names.append(a)  # validated against REGISTRY after load
    out_path = out_path or "DETERMINISM_r5.json"
    prev = None
    if compare_path:
        if out_path == compare_path:
            # default out would clobber the baseline being compared
            out_path = compare_path.replace(".json", "_compare.json")
        with open(compare_path) as f:
            prev = json.load(f)["queries"]
    load_all_operators()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"error: not registered queries (and not existing "
              f"directories): {unknown}\n"
              f"usage: determinism_check.py [sf_dir] [out.json] [name ...]")
        return 2
    spark = get_session("determinism")
    spark.sparkContext.setLogLevel("ERROR")
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    alt_parts = alt_width(base_parts)
    todo = names or sorted(REGISTRY)
    result: dict = {"sf_dir": sf_dir, "base_partitions": base_parts,
                    "alt_partitions": alt_parts, "queries": {}}
    n_bad = 0
    for name in todo:
        cap_key = (name, os.path.basename(sf_dir.rstrip("/")))
        if cap_key in BUDGET_CAP_AT_SCALE:
            result["queries"][name] = {
                "status": "budget_capped",
                "reason": BUDGET_CAP_AT_SCALE[cap_key]}
            print(f"ok   {name}: budget_capped", flush=True)
            continue
        fn = REGISTRY[name].fn
        t0 = time.time()
        try:
            # clear cached subtrees between runs: several operators
            # cache() reused intermediates (minhash signatures, IVF
            # centroids), and a cached base-width subtree substituted
            # into the alternate-width plan would vacate the check for
            # exactly the stages most worth checking
            spark.conf.set("spark.sql.shuffle.partitions", base_parts)
            spark.catalog.clearCache()
            a = fn(spark, sf_dir).toPandas()
            spark.conf.set("spark.sql.shuffle.partitions", alt_parts)
            spark.catalog.clearCache()
            b = fn(spark, sf_dir).toPandas()
            ha, hb = canon_hash(a), canon_hash(b)
            if len(a) != len(b):
                cell = {"status": "NONDET_ROWCOUNT",
                        "rows": [len(a), len(b)]}
            elif ha != hb:
                cell = {"status": "NONDET_VALUES", "rows": len(a)}
            else:
                cell = {"status": "deterministic", "rows": len(a),
                        "hash": str(ha)}
            if (prev is not None and "hash" in cell
                    and prev.get(name, {}).get("hash") not in
                    (None, cell["hash"])):
                cell["status"] = "NONDET_ACROSS_PROCESS"
        except Exception:
            cell = {"status": "error",
                    "detail": traceback.format_exc(limit=1).splitlines()[-1]}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", base_parts)
            # each streaming query leaves its drained memory sink's
            # rows on the driver heap until the temp view is dropped;
            # this check runs every stream TWICE per query, so the
            # sf1 pass holds ~2x every streaming job's output without
            # the cleanup (the sf10 OOM, SCALING.md round 13)
            drop_drained_memory_sinks(spark)
        cell["sec"] = round(time.time() - t0, 2)
        bad = cell["status"] != "deterministic" \
            and name not in LAYOUT_DEPENDENT_OK
        if name in LAYOUT_DEPENDENT_OK:
            cell["allowed"] = LAYOUT_DEPENDENT_OK[name]
        n_bad += bad
        result["queries"][name] = cell
        print(f"{'FAIL' if bad else 'ok  '} {name}: {cell['status']} "
              f"[{cell['sec']}s]", flush=True)
    result["n_bad"] = n_bad
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}: {len(todo)} queries, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
