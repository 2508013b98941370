"""The scale-corpus growth plan (scripts/scale_corpus.py), its probe
timing harness, and the maintained scripts' imports."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
sys.path.insert(0, SCRIPTS)

import scale_corpus  # noqa: E402

COPIES = 3


@pytest.fixture(scope="module")
def grown(sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_grown"))
    scale_corpus.grow(sf_dir, out, COPIES, scale_corpus.PRESETS["sf1"][2])
    return {t: (pq.read_table(f"{sf_dir}/{t}.parquet"),
                pq.read_table(f"{out}/{t}.parquet"))
            for t in scale_corpus.PRESETS["sf1"][2]}


def test_grown_tables_scale_and_dims_stay_verbatim(grown):
    for t, (base, big) in grown.items():
        if t in ("region", "nation"):
            assert big.equals(base), t
        else:
            assert big.num_rows == COPIES * base.num_rows, t
            assert big.slice(0, base.num_rows).equals(base), t


def test_grown_keys_unique_and_foreign_keys_resolve(grown):
    def keys(t, col):
        return set(grown[t][1][col].to_pylist())

    for t, pk in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                  ("part", "p_partkey"), ("orders", "o_orderkey"),
                  ("events", "event_id"), ("documents", "doc_id"),
                  ("embeddings", "vec_id")):
        assert len(keys(t, pk)) == grown[t][1].num_rows, t
    assert keys("orders", "o_custkey") <= keys("customer", "c_custkey")
    assert keys("lineitem", "l_orderkey") <= keys("orders", "o_orderkey")
    assert keys("lineitem", "l_partkey") <= keys("part", "p_partkey")
    assert keys("lineitem", "l_suppkey") <= keys("supplier", "s_suppkey")


def test_salted_copies_share_no_shingle_with_copy_0(grown):
    base, big = grown["documents"]
    n = base.num_rows

    def shingles(texts):
        out = set()
        for text in texts:
            w = text.split(" ")
            out.update(zip(w, w[1:], w[2:]))
        return out

    seen = shingles(big["text"][:n].to_pylist())
    for k in range(1, COPIES):
        copy = big.slice(k * n, n)
        assert not shingles(copy["text"].to_pylist()) & seen, k
        assert pc.all(pc.equal(copy["n_chars"], pc.utf8_length(
            copy["text"]))).as_py()


def test_budget_cancels_a_run_and_records_dnf(spark):
    """A run past the budget is cancelled and recorded as a DNF cell;
    the session stays usable for the next cell."""
    def endless():
        spark.range(0, 10 ** 13, 1, 2).selectExpr("max(id)").collect()

    assert scale_corpus.time_cell(spark, endless, budget_s=1) == "DNF>1s"
    assert isinstance(scale_corpus.time_cell(
        spark, lambda: spark.range(10).collect()), float)


@pytest.mark.parametrize("script", sorted(
    f for f in os.listdir(SCRIPTS) if f.endswith(".py")))
def test_script_imports_from_any_directory(script, tmp_path):
    """Each script resolves the package from its own path, not the
    working directory; run_name keeps its main from running."""
    code = ("import runpy, sys; "
            "runpy.run_path(sys.argv[1], run_name='imported')")
    proc = subprocess.run(
        [sys.executable, "-c", code, os.path.join(SCRIPTS, script)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode == 0, proc.stderr[-2000:]
