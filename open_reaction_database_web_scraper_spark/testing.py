"""Differential-oracle test harness — driver-faithful pandas path.

Mimics the driver's correctness gate: run a registered query on
Spark and its oracle SQL on DuckDB over the same parquet tables,
then compare row count, column names, and a value hash computed the
way the driver computes it — BOTH results fetched as pandas frames
(``DataFrame.toPandas()`` / duckdb ``fetchdf()``), columns sorted by
name, rows sorted by all columns, then ``pd.util.hash_pandas_object``.

Round-1 lesson: a ``fetchall()``-based harness reported green while
the driver failed, because DuckDB renders HUGEINT (``SUM(int)``) as
float64 only on the pandas path. The pandas fetch is therefore
mandatory here — it reproduces every dtype-representation divergence
(int vs float, date vs datetime64, Decimal objects) that the driver
would flag, plus the unhashable-list failure mode for raw arrays.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES

# --- vacuity allow-lists, shared by scripts/diffcheck.py and
# scripts/sweep.py (one home so the two gates can never drift).
#
# Oracled queries allowed to return 0 rows at the sweep SF. Empty by
# policy: a name goes here ONLY with a justification string AND a
# planted-fixture test exercising its non-empty path.
VACUOUS_ALLOWED: dict[str, str] = {}

# Rows-only queries where 0 rows IS the correct answer on driver
# data, each with the reason and the planted test pinning the
# non-empty path. (Empty since round 8: dedup_embed_cosine — the one
# entry — was reshaped to a never-empty per-vector audit and fully
# oracled.)
RO_EMPTY_OK: dict[str, str] = {}


def run_oracle_df(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run oracle SQL on DuckDB and fetch via pandas (driver path).
    Tables absent from ``sf_dir`` are skipped (planted-fixture dirs
    carry only the tables a query reads; a query referencing a
    missing table still fails at execution, same as the driver)."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            # driver dirs hold single-file tables; planted fixture
            # dirs hold Spark-written DIRECTORIES of part files —
            # fall through to the glob form. Only a genuinely ABSENT
            # table is skipped; an unreadable existing file (corrupt
            # or truncated parquet) must surface here, not later as
            # a misleading missing-table error.
            if not os.path.exists(f"{sf_dir}/{t}.parquet"):
                continue
            for src in (f"{sf_dir}/{t}.parquet",
                        f"{sf_dir}/{t}.parquet/*.parquet"):
                try:
                    con.execute(f"CREATE VIEW {t} AS "
                                f"SELECT * FROM '{src}'")
                    break
                except duckdb.IOException as e:
                    last = e
            else:
                raise last
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon_df(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by (lowercased)
    name, rows sorted by every column, fresh index."""
    df = df.rename(columns={c: c.lower() for c in df.columns})
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns) and len(df):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _hash_df(df: pd.DataFrame) -> int:
    """Order-insensitive value hash, driver-style. Raises TypeError
    on unhashable cell values (lists/dicts) exactly like the driver
    (the sort step factorizes object columns before any stringify).

    The value image is the STRING rendering of each cell — the model
    that reproduces every adjudicated round-1 outcome: float64
    '9926.0' vs int64 '9926' mismatch (the HUGEINT FAILs), int32 vs
    int64 match, datetime64[ns] vs [us] match (join_asof passed),
    bit-exact float reprs. Consequently date objects
    ('1995-04-01') vs midnight timestamps ('1995-04-01 00:00:00')
    MISMATCH — oracled queries must not emit bare DATE columns.
    Missing values are normalized first (None ≡ NaN ≡ NaT — Spark
    renders null object cells as None, DuckDB as NaN, and the driver
    passed nullable-column queries in r1, so its hash must too)."""
    df = _canon_df(df)
    df = df.astype(object).where(df.notna(), None)
    h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return int(h.sum())


def _first_diff(s: pd.DataFrame, o: pd.DataFrame) -> str:
    """Human-readable first differing cell (after canon sort)."""
    s, o = _canon_df(s), _canon_df(o)
    for i in range(min(len(s), len(o))):
        for c in s.columns:
            a, b = s[c].iloc[i], o[c].iloc[i]
            same = (a == b) or (pd.isna(a) and pd.isna(b))
            try:
                same = bool(same)
            except (TypeError, ValueError):  # array-valued cells
                same = repr(a) == repr(b)
            if not same:
                return (f"row {i} col {c}: spark={a!r} "
                        f"({s[c].dtype}) oracle={b!r} ({o[c].dtype})")
    return "no element-wise diff found (dtype-only hash divergence?)"


class CompareResult(NamedTuple):
    """Structured comparison outcome. ``rows`` is the Spark-side row
    count (None if the comparison failed before counting) so
    consumers (scripts/sweep.py) never scrape it out of the display
    message — a wording change there used to silently error every
    sweep cell."""
    ok: bool
    message: str
    rows: int | None
    vacuous: bool = False


def compare_full(spark_df: DataFrame, oracle_sql: str, sf_dir: str,
                 name: str = "?",
                 fail_on_empty: bool = False) -> CompareResult:
    """Driver-style comparison, structured result.

    ``fail_on_empty=True`` turns a both-engines-empty result into a
    FAIL: two empty frames hash-match trivially, so a query whose
    filter selects nothing is "green" without its body ever
    executing — the vacuous-coverage failure mode the round-3/4
    verdicts flagged on ``join_groupwise_max`` (a 1994 date window
    against 1995+ data) and ``join_anti``. The sweep runs with this
    on; unit tests with deliberately-empty planted cases leave it
    off."""
    s_pd = spark_df.toPandas()
    o_pd = run_oracle_df(oracle_sql, sf_dir)
    if fail_on_empty and len(s_pd) == 0 and len(o_pd) == 0:
        return CompareResult(
            False,
            f"{name}: VACUOUS — both engines returned 0 rows; "
            "the query body never executed on this data "
            "(add to the justified allow-list only with a "
            "planted-fixture test pinning the non-empty path)",
            0, vacuous=True)

    s_cols = sorted(c.lower() for c in s_pd.columns)
    o_cols = sorted(c.lower() for c in o_pd.columns)
    if s_cols != o_cols:
        return CompareResult(
            False, f"{name}: column mismatch spark={s_cols} "
                   f"oracle={o_cols}", len(s_pd))
    if len(s_pd) != len(o_pd):
        return CompareResult(
            False, f"{name}: row count spark={len(s_pd)} "
                   f"oracle={len(o_pd)}", len(s_pd))
    try:
        hs, ho = _hash_df(s_pd), _hash_df(o_pd)
    except TypeError as e:
        return CompareResult(
            False, f"{name}: ORACLE-ERR unhashable value ({e})",
            len(s_pd))
    dtype_note = ""
    s_dt = {c.lower(): str(s_pd[c].dtype) for c in s_pd.columns}
    o_dt = {c.lower(): str(o_pd[c].dtype) for c in o_pd.columns}

    def _risky(a: str, b: str) -> bool:
        # datetime64 unit-only differences (ns vs us) are NOT a risk:
        # both render identically under the driver's string hash —
        # adjudicated in round 1 (join_asof passed with exactly this
        # divergence) and pinned by test_differential.py's
        # timestamp-unit hash test. Every other dtype pair stays
        # flagged (int-vs-float DID fail the driver in round 1).
        both_dt = a.startswith("datetime64") and b.startswith("datetime64")
        return not both_dt
    mism = {c: (s_dt[c], o_dt[c]) for c in s_dt
            if s_dt[c] != o_dt[c] and _risky(s_dt[c], o_dt[c])}
    if mism:
        dtype_note = f" [dtype divergence: {mism}]"
    if hs != ho:
        return CompareResult(
            False, f"{name}: value-hash mismatch{dtype_note}\n"
                   f"  {_first_diff(s_pd, o_pd)}", len(s_pd))
    return CompareResult(
        True, f"{name}: OK ({len(s_pd)} rows){dtype_note}", len(s_pd))


def compare(spark_df: DataFrame, oracle_sql: str, sf_dir: str,
            name: str = "?", fail_on_empty: bool = False) -> tuple[bool, str]:
    """Two-field view of :func:`compare_full` — the (ok, message)
    shape every existing test unpacks."""
    r = compare_full(spark_df, oracle_sql, sf_dir, name, fail_on_empty)
    return r.ok, r.message


_SINK_NAME_RE = re.compile(r"^s[0-9a-f]{12}$")


def drop_drained_memory_sinks(spark: SparkSession) -> int:
    """Drop the temp views ``streaming.jobs._run_to_memory`` leaves
    behind, releasing each drained memory sink's rows to GC.

    A memory sink keeps its full drained output on the driver heap
    for as long as its temp view is reachable — harmless for one
    query, but a long-lived harness session (the 258-query sweep,
    the twice-per-query determinism check) accumulates every
    streaming job's output: at the sf10 decade three 10 M-row
    stateful jobs in one 8 g JVM OOMed on the second (SCALING.md
    round 13). Harnesses call this AFTER consuming a query's result;
    it must never run between producing and collecting a streaming
    DataFrame, which is why the cleanup lives here and not inside
    ``_run_to_memory`` itself. Returns the number of views dropped.

    Only views whose names ``_run_to_memory`` itself registered (in
    ``streaming.jobs.MEMORY_SINKS``) are dropped — ADVICE r13 #4: a
    user temp view that happens to match the ``s<12 hex>`` name shape
    must never be silently dropped mid-run. The regex remains as a
    belt-and-braces shape check on the recorded names.
    """
    from .streaming.jobs import MEMORY_SINKS

    n = 0
    for t in spark.catalog.listTables():
        if (t.isTemporary and t.name in MEMORY_SINKS
                and _SINK_NAME_RE.fullmatch(t.name)):
            spark.catalog.dropTempView(t.name)
            MEMORY_SINKS.discard(t.name)
            n += 1
    return n
