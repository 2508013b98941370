"""Round-10 tranche tests (§2.12d): semantic pins for the
compression-retrieval + curation closers, each re-deriving the
query's answer with an independent pure-python/numpy computation on
the same parquet (the oracle checks cross-engine agreement; these
check the SEMANTICS are the intended ones)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from open_reaction_database_web_scraper_spark.operators.text import (
    _GOPHER_MIN_STOP,
    STOPWORDS,
)
from open_reaction_database_web_scraper_spark.operators.vectors import (
    HAMMING_K,
    HAMMING_PROBES,
)
from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()

SF = "/root/testdata/sf0.001"


def _np_signatures(sf_dir: str) -> dict[int, tuple[int, int]]:
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    out = {}
    for vid, emb in zip(tbl.column("vec_id").to_pylist(),
                        tbl.column("embedding").to_pylist()):
        lo = sum(1 << i for i in range(32) if emb[i] > 0)
        hi = sum(1 << i for i in range(32) if emb[32 + i] > 0)
        out[vid] = (lo, hi)
    return out


def test_binarize_hamming_matches_numpy_ground_truth(spark):
    """Every (probe, rank) cell must equal the brute-force numpy
    answer: sign signatures, XOR popcount Hamming, (hamming, cand_id)
    order, self excluded, exactly top-3 per probe."""
    sig = _np_signatures(SF)
    want = {}
    for p in range(HAMMING_PROBES):
        plo, phi = sig[p]
        cands = sorted(
            (bin(plo ^ lo).count("1") + bin(phi ^ hi).count("1"), c)
            for c, (lo, hi) in sig.items() if c != p)
        for rnk, (ham, c) in enumerate(cands[:HAMMING_K], start=1):
            want[(p, rnk)] = (c, ham)
    rows = REGISTRY["embedding_binarize_hamming"].fn(spark, SF).collect()
    got = {(r.probe_id, r.rnk): (r.cand_id, r.hamming) for r in rows}
    assert got == want
    assert len(got) == HAMMING_PROBES * HAMMING_K


def test_gopher_rules_match_pure_python(spark):
    """Signals and verdict re-derived per doc in pure python over the
    same single-space tokenization."""
    tbl = pq.read_table(f"{SF}/documents.parquet",
                        columns=["doc_id", "text"]).to_pylist()
    rows = {r.doc_id: r for r in
            REGISTRY["text_gopher_quality_rules"].fn(spark, SF).collect()}
    assert len(rows) == len(tbl)
    for rec in tbl[:100]:
        words = rec["text"].split(" ")
        n = len(words)
        mwl = sum(len(w) for w in words) / n
        sym = rec["text"].count("#") / n
        alpha = sum(1 for w in words
                    if any(c.isascii() and c.isalpha() for c in w)) / n
        stop = sum(1 for s in STOPWORDS if s in words)
        r = rows[rec["doc_id"]]
        assert r.n_words == n
        assert r.mean_word_len == round(mwl, 9)
        assert r.symbol_ratio == round(sym, 9)
        assert r.alpha_ratio == round(alpha, 9)
        assert r.stop_hits == stop
        want_pass = (50 <= n <= 100_000 and 3.0 <= mwl <= 10.0
                     and sym < 0.1 and alpha > 0.8
                     and stop >= _GOPHER_MIN_STOP)
        assert r.passes_gopher == want_pass, rec["doc_id"]
    # the verdict must discriminate on this corpus (not vacuously
    # all-true or all-false)
    verdicts = {r.passes_gopher for r in rows.values()}
    assert verdicts == {True, False}, verdicts


def test_cluster_representative_keep_drop_invariants(spark):
    """Exactly one 'keep' per cluster; the keep is the (n_chars DESC,
    doc_id ASC) maximum of its members; membership equals
    dedup_clusters' output row-for-row."""
    reps = REGISTRY["curation_cluster_representative"].fn(spark, SF) \
        .collect()
    clusters = REGISTRY["dedup_clusters"].fn(spark, SF).collect()
    assert {(r.doc_id, r.cluster_id, r.cluster_size) for r in reps} \
        == {(c.doc_id, c.cluster_id, c.cluster_size) for c in clusters}
    lens = {r["doc_id"]: r["n_chars"] for r in pq.read_table(
        f"{SF}/documents.parquet",
        columns=["doc_id", "n_chars"]).to_pylist()}
    by_cluster: dict[int, list] = {}
    for r in reps:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert by_cluster
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m.is_representative]
        assert len(keeps) == 1, cid
        assert keeps[0].action == "keep"
        assert all(m.action == "drop"
                   for m in members if not m.is_representative)
        best = min(members, key=lambda m: (-lens[m.doc_id], m.doc_id))
        assert keeps[0].doc_id == best.doc_id, cid


def test_degree_topk_matches_pandas(spark):
    """Top-20 hub list re-derived with pandas over lineitem."""
    li = pq.read_table(f"{SF}/lineitem.parquet",
                       columns=["l_partkey", "l_suppkey"]).to_pandas()
    pairs = li.drop_duplicates()
    deg = pd.concat([
        ("p:" + pairs.l_partkey.astype(str)),
        ("s:" + pairs.l_suppkey.astype(str)),
    ]).value_counts()
    want = sorted(((n, int(d)) for n, d in deg.items()),
                  key=lambda t: (-t[1], t[0]))[:20]
    rows = REGISTRY["graph_degree_topk"].fn(spark, SF).collect()
    got = [(r.node, r.degree) for r in rows]
    assert got == want


def test_matryoshka_truncate_matches_numpy(spark):
    """Top-1 at both widths re-derived in numpy with the same 9-dp
    rounding + id tie-break; the agreement flag must be consistent
    and the audit must not be vacuous (some probe disagrees OR the
    corpus genuinely preserves all top-1s — assert consistency, and
    record the non-trivial cosine ordering)."""
    tbl = pq.read_table(f"{SF}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_pylist()
    x = np.array(tbl.column("embedding").to_pylist(), dtype="float64")
    x64 = x / np.linalg.norm(x, axis=1, keepdims=True)
    x16 = x[:, :16] / np.linalg.norm(x[:, :16], axis=1, keepdims=True)
    byid = {v: i for i, v in enumerate(ids)}
    rows = REGISTRY["vector_matryoshka_truncate"].fn(spark, SF).collect()
    assert len(rows) == 16
    for r in rows:
        p = byid[r.probe_id]

        def top1(mat):
            best = None
            for v, i in byid.items():
                if v == r.probe_id:
                    continue
                c = round(float(mat[p] @ mat[i]), 9)
                key = (-c, v)
                if best is None or key < best[0]:
                    best = (key, v, c)
            return best[1], best[2]

        wf, cf = top1(x64)
        wt, ct_ = top1(x16)
        assert (r.top_full, r.top_trunc) == (wf, wt), r
        assert r.cos_full == pytest.approx(cf, abs=2e-9)
        assert r.cos_trunc == pytest.approx(ct_, abs=2e-9)
        assert r.agree == (wf == wt)


def test_chi2_matches_scipy_free_recompute(spark):
    """χ² re-derived from the raw contingency table in pure numpy
    (no scipy dependency): same marginals, same 9-dp per-cell
    rounding, dof = (r-1)(c-1)."""
    ev = pq.read_table(f"{SF}/events.parquet",
                       columns=["event_type", "user_id"]).to_pandas()
    ev["bucket"] = (ev.user_id % 2).astype(int)
    obs = ev.groupby(["event_type", "bucket"]).size()
    types = sorted(ev.event_type.unique())
    buckets = sorted(ev.bucket.unique())
    n = len(ev)
    rt = ev.groupby("event_type").size()
    ct = ev.groupby("bucket").size()
    chi2 = 0.0
    for t in types:
        for b in buckets:
            o = float(obs.get((t, b), 0))
            e = float(rt[t]) * float(ct[b]) / float(n)
            chi2 += round((o - e) * (o - e) / e, 9)
    row = REGISTRY["stats_chi2_independence"].fn(spark, SF).collect()[0]
    assert row.n_cells == len(types) * len(buckets)
    assert row.dof == (len(types) - 1) * (len(buckets) - 1)
    assert row.chi2 == pytest.approx(chi2, abs=1e-8)


def test_tpch_q1_matches_pure_decimal(spark):
    """Q1's aggregates re-derived with python Decimal (exact base-10
    arithmetic — the ground truth both engines' decimal-accumulator
    plans claim to implement): group keys, counts, quantity/price
    sums, the 4-dp-exact disc_price sum, the ROUND-half-up scale-6
    charge sum, and the avg columns."""
    from decimal import ROUND_HALF_UP, Decimal

    t = pq.read_table(
        f"{SF}/lineitem.parquet",
        columns=["l_returnflag", "l_linestatus", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax",
                 "l_shipdate"]).to_pandas()
    t = t[t.l_shipdate <= pd.Timestamp("1998-09-02")]

    def d2(x):
        return Decimal(str(round(float(x), 2))).quantize(Decimal("0.01"))

    agg: dict = {}
    for r in t.itertuples():
        k = (r.l_returnflag, r.l_linestatus)
        a = agg.setdefault(k, {"n": 0, "qty": Decimal(0),
                               "base": Decimal(0), "disc": Decimal(0),
                               "charge": Decimal(0),
                               "dsum": Decimal(0)})
        a["n"] += 1
        a["qty"] += d2(r.l_quantity)
        a["base"] += d2(r.l_extendedprice)
        dp = d2(r.l_extendedprice) * (1 - d2(r.l_discount))
        a["disc"] += dp
        a["charge"] += dp * (1 + d2(r.l_tax))
        a["dsum"] += d2(r.l_discount)
    rows = {(r.l_returnflag, r.l_linestatus): r for r in
            REGISTRY["sql_tpch_q1"].fn(spark, SF).collect()}
    assert rows.keys() == agg.keys()
    for k, a in agg.items():
        r = rows[k]
        assert r.count_order == a["n"]
        assert r.sum_qty == float(a["qty"])
        assert r.sum_base_price == float(a["base"])
        assert r.sum_disc_price == float(a["disc"])  # 4-dp exact
        want_charge = float(a["charge"].quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP))
        assert r.sum_charge == want_charge, (k, r.sum_charge, want_charge)
        assert r.avg_qty == pytest.approx(
            float(a["qty"]) / a["n"], rel=1e-12)
        assert r.avg_disc == pytest.approx(
            float(a["dsum"]) / a["n"], rel=1e-12)


def test_sliding_median_matches_pandas(spark):
    """Exact lower-median of the last-5 frame re-derived row-by-row."""
    ev = pq.read_table(
        f"{SF}/events.parquet",
        columns=["user_id", "event_id", "ts", "value"]).to_pandas()
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"])
    rows = {r.event_id: r for r in
            REGISTRY["win_sliding_median"].fn(spark, SF).collect()}
    assert len(rows) == len(ev)
    checked = 0
    for _, grp in ev.groupby("user_id"):
        vals = list(grp.value)
        for i, eid in enumerate(grp.event_id):
            frame = vals[max(0, i - 4):i + 1]
            med = sorted(frame)[(len(frame) + 1) // 2 - 1]
            r = rows[eid]
            assert r.n_in_window == len(frame)
            assert r.median5 == med, eid  # element pick: exact
            checked += 1
        if checked > 400:
            break


def test_ewma_truncated_matches_integer_recompute(spark):
    """The power-of-two EWMA re-derived with exact python ints."""
    ev = pq.read_table(
        f"{SF}/events.parquet",
        columns=["user_id", "event_id", "ts", "value"]).to_pandas()
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"])
    rows = {r.event_id: r for r in
            REGISTRY["ts_ewma_truncated"].fn(spark, SF).collect()}
    checked = 0
    for _, grp in ev.groupby("user_id"):
        cents = [round(v * 100) for v in grp.value]
        for i, eid in enumerate(grp.event_id):
            frame = cents[max(0, i - 7):i + 1]
            n = len(frame)
            num = sum(c * (1 << k) for k, c in enumerate(frame))
            want = num / (((1 << n) - 1) * 100)
            r = rows[eid]
            assert r.n_taps == n
            assert r.ewma == want, eid  # single IEEE division: exact
            checked += 1
        if checked > 400:
            break
    # newest tap must dominate: a frame ending in a spike pulls the
    # ewma at least halfway toward it (weight of last tap >= 1/2
    # of the normalizer at full depth)


def test_jaccard_neighbors_matches_pandas(spark):
    """Top-5 supplier-set Jaccard per probe re-derived with sets."""
    li = pq.read_table(f"{SF}/lineitem.parquet",
                       columns=["l_partkey", "l_suppkey"]).to_pandas()
    pairs = li.drop_duplicates()
    nbrs: dict[int, set] = {}
    for r in pairs.itertuples():
        nbrs.setdefault(r.l_partkey, set()).add(r.l_suppkey)
    rows = REGISTRY["graph_jaccard_neighbors"].fn(spark, SF).collect()
    got = {}
    for r in rows:
        got.setdefault(r.probe, []).append(r)
    for probe in [p for p in nbrs if p <= 16]:
        cands = []
        for other, s in nbrs.items():
            if other == probe:
                continue
            inter = len(nbrs[probe] & s)
            if inter:
                j = round(inter / (len(nbrs[probe]) + len(s) - inter), 9)
                cands.append((-j, other, inter))
        cands.sort()
        want = cands[:5]
        have = sorted(got.get(probe, []), key=lambda r: r.rnk)
        assert len(have) == len(want), probe
        for r, (nj, other, inter) in zip(have, want):
            assert (r.cand, r.n_common, r.jaccard) == (other, inter, -nj)


def test_stream_ewma_equals_batch_window(spark):
    """The streaming stateful EWMA must reproduce the batch window
    twin ROW FOR ROW (same integers, same one-division floats) —
    batch/stream equivalence through explicit group state."""
    batch = {(r.user_id, r.event_id): (r.n_taps, r.ewma) for r in
             REGISTRY["ts_ewma_truncated"].fn(spark, SF).collect()}
    stream = {(r.user_id, r.event_id): (r.n_taps, r.ewma) for r in
              REGISTRY["stream_ewma_stateful"].fn(spark, SF).collect()}
    assert stream == batch and batch
