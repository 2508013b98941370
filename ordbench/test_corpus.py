"""Tests of the ORD corpus generator (no Spark needed).

    python3 -m pytest ordbench/test_corpus.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ordbench import corpus  # noqa: E402


def _bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 7, 800)
    b = corpus.generate(str(tmp_path / "b"), 7, 800)
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    assert corpus.truth_counts(a) == corpus.truth_counts(b)


def test_different_seed_different_corpus(tmp_path):
    corpus.generate(str(tmp_path / "a"), 7, 800)
    corpus.generate(str(tmp_path / "b"), 8, 800)
    assert _bytes(str(tmp_path / "a")) != _bytes(str(tmp_path / "b"))


def test_planted_properties(tmp_path):
    t = corpus.generate(str(tmp_path), 3, 3000)
    assert t.reactions == 3000
    # malformed raw records: about 3%, and format must drop exactly them
    assert 0.02 <= t.raw_malformed / t.raw_records <= 0.04
    # one truncated store file among several
    assert t.malformed_files == 1 and t.dropped_datasets > 0
    assert len(t.store_files) == corpus.STORE_FILES + 1
    bad = 0
    for p in t.store_files:
        with open(p, encoding="utf-8") as f:
            try:
                json.load(f)
            except json.JSONDecodeError:
                bad += 1
    assert bad == 1
    # every oneof amount branch, plus empty amounts
    assert all(t.amount_kinds[k] > 0 for k in ("moles", "volume", "mass",
                                               "empty"))
    assert t.unknown_codes > 0
    # dataset sizes of the captured scrape (at most 5, with a tail of
    # reference-like 100-reaction datasets) plus planted empty datasets
    sizes = []
    for p in t.store_files:
        with open(p, encoding="utf-8") as f:
            try:
                doc = json.load(f)
            except json.JSONDecodeError:
                continue
        sizes += [len(ds["reactions"]) for ds in doc.values()]
    assert 0 in sizes and 100 in sizes
    assert all(s <= 5 or s == 100 for s in sizes)
    assert t.empty_datasets == sizes.count(0)
    assert t.reactions == sum(sizes) and t.datasets == len(sizes)


def test_heterogeneous_inputs_map(tmp_path):
    t = corpus.generate(str(tmp_path), 5, 500)
    tab_counts, extra_keys, empty_lists = set(), 0, 0
    with open(t.raw_files[0], encoding="utf-8") as f:
        for line in f:
            data = json.loads(line)["data"]
            try:
                r = json.loads(data) if data else None
            except json.JSONDecodeError:
                continue
            if not isinstance(r, dict):
                continue
            tab_counts.add(len(r["inputsMap"]))
            for _, payload in r["inputsMap"]:
                extra_keys += "additionOrder" in payload
                empty_lists += not payload["componentsList"]
    assert len(tab_counts) > 1 and extra_keys > 0 and empty_lists > 0
