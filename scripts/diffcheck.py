"""Local differential check — mimic the driver's correctness gate.

Usage: python scripts/diffcheck.py [sf_dir] [name ...]
Runs every registered query (or the named subset) against its DuckDB
oracle and prints per-query PASS/FAIL. Rows-only queries are just
executed (rows>=0, stable schema). A positional is the sf_dir iff it
is an existing directory; any other is a query name, and an unknown
name exits 2 before Spark starts.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_reaction_database_web_scraper_spark.registry import (  # noqa: E402
    REGISTRY, load_all_operators)
from open_reaction_database_web_scraper_spark.session import get_session  # noqa: E402
from open_reaction_database_web_scraper_spark.testing import (  # noqa: E402
    RO_EMPTY_OK, VACUOUS_ALLOWED, compare)


def parse_args(argv: list[str]) -> tuple[str, list[str]]:
    """(sf_dir, query names); exits 2 on more than one directory or
    on a name that is not registered."""
    p = argparse.ArgumentParser(prog="diffcheck.py",
                                usage="%(prog)s [sf_dir] [name ...]")
    p.add_argument("args", nargs="*")
    args = p.parse_args(argv).args
    dirs = [a for a in args if os.path.isdir(a)]
    names = [a for a in args if not os.path.isdir(a)]
    if len(dirs) > 1:
        p.error(f"more than one sf_dir: {' '.join(dirs)}")
    load_all_operators()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        p.error(f"not registered queries (and not existing directories): "
                f"{' '.join(unknown)}")
    return (dirs[0] if dirs else "/root/testdata/sf0.001"), names


def main() -> int:
    sf_dir, names = parse_args(sys.argv[1:])
    spark = get_session("diffcheck")
    todo = names or sorted(REGISTRY)
    n_fail = 0
    for name in todo:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                # a rows-only check that counts 0 rows verified
                # nothing — vacuous unless justified (testing.py's
                # RO_EMPTY_OK carries the reasons)
                if n == 0 and name not in RO_EMPTY_OK:
                    n_fail += 1
                    print(f"FAIL {name}: rows-only but VACUOUS "
                          f"(0 rows) [{time.time()-t0:.1f}s]")
                    continue
                print(f"PASS {name}: rows-only ({n} rows) "
                      f"[{time.time()-t0:.1f}s]")
            else:
                ok, msg = compare(df, spec.oracle, sf_dir, name,
                                  fail_on_empty=name not in VACUOUS_ALLOWED)
                print(("PASS " if ok else "FAIL ") + msg +
                      f" [{time.time()-t0:.1f}s]")
                n_fail += 0 if ok else 1
        except Exception:
            n_fail += 1
            print(f"FAIL {name}: exception\n{traceback.format_exc()}")
        finally:
            # release per-query internal caches (minhash signatures
            # etc.) so a long subset run never pins stale storage
            spark.catalog.clearCache()
    print(f"\n{len(todo) - n_fail}/{len(todo)} passed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
