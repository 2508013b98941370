"""Argument handling of the gate scripts (sweep, determinism_check,
diffcheck): mistakes exit 2 before any Spark session starts, and an
sf dir is recognised by being a directory, not by its spelling."""

from __future__ import annotations

import os
import runpy

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def parse_args(script: str):
    return runpy.run_path(os.path.join(SCRIPTS, script),
                          run_name="imported")["parse_args"]


@pytest.mark.parametrize("script, argv", [
    ("sweep.py", []),
    ("sweep.py", ["sf0.001"]),
    ("sweep.py", ["out.json", "--only", "no_such_query"]),
    ("determinism_check.py", ["sf0.01"]),
    ("diffcheck.py", ["no_such_query"]),
])
def test_argument_mistakes_exit_2(script, argv):
    with pytest.raises(SystemExit) as exc:
        parse_args(script)(argv)
    assert exc.value.code == 2


def test_diffcheck_relative_sf_dir(sf_dir, monkeypatch):
    """An sf dir given relative to the cwd (its parent) is the sf dir,
    not a query name."""
    monkeypatch.chdir(os.path.dirname(sf_dir))
    rel = os.path.basename(sf_dir)
    assert parse_args("diffcheck.py")([rel, "agg_multi"]) == (
        rel, ["agg_multi"])
