"""Semantic + plan pins for the skyline, forward as-of, pair-lift,
time-series, boilerplate-strip, int8-quantize, train/test-split and
corpus-report operators.

The differential sweep (test_differential.py) already hash-matches
every oracled query vs DuckDB; these tests pin the SEMANTIC claims
each new operator's docstring makes (skyline == brute force, the
forward as-of picks the true minimum, interpolation is bounded by
its endpoints, CDC tombstones delete, the boilerplate strip rewrites
exactly the shared blocks, quantization codes are decodable) and the
plan shapes that matter at scale (quantization never shuffles, CDC
is a hash aggregate not a window sort, the skyline has no nested
loop).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from open_reaction_database_web_scraper_spark.catalog import load
from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()


def run(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# ---------------------------------------------------------------- skyline

def test_skyline_matches_bruteforce(spark, sf_dir):
    """The banded sweep must equal the quadratic dominance check on
    the real distinct (price, size) set — including band-boundary
    pairs the sweep's carry-in logic handles."""
    pts = {(r.p_retailprice, r.p_size)
           for r in load(spark, sf_dir, "part")
           .select("p_retailprice", "p_size").distinct().collect()}

    def dominated(p):
        return any(q[0] <= p[0] and q[1] >= p[1] and q != p
                   for q in pts
                   if q[0] < p[0] or q[1] > p[1])

    expect = {p for p in pts if not dominated(p)}
    got = {(r.p_retailprice, r.p_size)
           for r in run("skyline_pareto", spark, sf_dir).collect()}
    assert got == expect


def test_skyline_no_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "skyline_pareto")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------------------- asof forward

def test_asof_forward_picks_true_minimum(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts").collect()
    purchases = {}
    for r in ev:
        if r.event_type == "purchase":
            purchases.setdefault(r.user_id, []).append(r.ts)
    rows = run("join_asof_forward", spark, sf_dir).collect()
    clicks = [r for r in ev if r.event_type == "click"]
    assert len(rows) == len(clicks)
    for r in rows:
        after = sorted(t for t in purchases.get(r.user_id, [])
                       if t >= r.ts)
        if after:
            assert r.purchase_ts == after[0]
        else:
            assert r.purchase_ts is None


# ------------------------------------------------------------- pair lift

def test_pair_lift_bounds_and_formula(spark, sf_dir):
    ut = (load(spark, sf_dir, "events")
          .select("user_id", "event_type").distinct().collect())
    users = {}
    for r in ut:
        users.setdefault(r.user_id, set()).add(r.event_type)
    n_users = len(users)
    singles = {}
    for types in users.values():
        for t in types:
            singles[t] = singles.get(t, 0) + 1
    for r in run("assoc_pair_lift", spark, sf_dir).collect():
        assert r.type_a < r.type_b
        assert r.n_both <= min(singles[r.type_a], singles[r.type_b])
        expect = sum(1 for ts in users.values()
                     if r.type_a in ts and r.type_b in ts)
        assert r.n_both == expect
        assert r.lift == pytest.approx(
            r.n_both * n_users / (singles[r.type_a] * singles[r.type_b]),
            abs=1e-6)


# ------------------------------------------------------------- resample

def test_resample_observed_hours_and_interp_bounds(spark, sf_dir):
    rows = run("ts_resample_interpolate", spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for tp, rs in by_type.items():
        rs.sort(key=lambda r: r.bucket_hour)
        # spine is dense: consecutive hours, no holes
        for a, b in zip(rs, rs[1:]):
            assert (b.bucket_hour - a.bucket_hour).total_seconds() == 3600
        # endpoints are observed (MIN/MAX come from the hourly agg)
        assert rs[0].v_interp is not None
        assert rs[-1].v_interp is not None
        # interior interpolations sit within the global value range
        vals = [r.v_interp for r in rs if r.v_interp is not None]
        lo, hi = min(vals), max(vals)
        assert all(lo <= v <= hi for v in vals)


def test_resample_interpolates_interior_gap(spark, tmp_path):
    """Planted: one event at h0 (v=10), one at h0+3h (v=40) → the
    two missing interior hours must read 20 and 30."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base, 7, "view", 10.0, "{}"),
         (2, base + dt.timedelta(hours=3), 7, "view", 40.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.bucket_hour.hour: r.v_interp
           for r in run("ts_resample_interpolate", spark,
                        str(tmp_path)).collect()}
    assert out == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}


# ------------------------------------------------------------ time bucket

def test_time_bucket_multi_granularities_conserve_totals(spark, sf_dir):
    rows = run("agg_time_bucket_multi", spark, sf_dir).collect()
    total = load(spark, sf_dir, "events").count()
    for g in ("day", "week", "month"):
        sub = [r for r in rows if r.granularity == g]
        assert sum(r.n_events for r in sub) == total
    day_sum = sum(r.total_value for r in rows if r.granularity == "day")
    month_sum = sum(r.total_value for r in rows
                    if r.granularity == "month")
    assert day_sum == pytest.approx(month_sum, rel=1e-12)


# --------------------------------------------------------------- streaks

def test_streak_longest_python_model(spark, sf_dir):
    days = (load(spark, sf_dir, "events")
            .select("user_id", F.date_trunc("day", "ts").alias("d"))
            .distinct().collect())
    per_user = {}
    for r in days:
        per_user.setdefault(r.user_id, set()).add(r.d.date())
    rows = {r.user_id: r.longest_streak
            for r in run("win_streak_longest", spark, sf_dir).collect()}
    assert set(rows) == set(per_user)
    import datetime as dt
    for uid, ds in per_user.items():
        best = cur = 0
        prev = None
        for d in sorted(ds):
            cur = cur + 1 if (prev is not None
                              and d - prev == dt.timedelta(days=1)) else 1
            best = max(best, cur)
            prev = d
        assert rows[uid] == best, uid


# --------------------------------------------------------------- zscore

def test_zscore_flags_match_python_model(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value").collect()
    import statistics
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    stats = {t: (statistics.fmean(v), statistics.pstdev(v))
             for t, v in by_type.items()}
    expect = {r.event_id for r in ev
              if abs((r.value - stats[r.event_type][0])
                     / stats[r.event_type][1]) > 3}
    got = {r.event_id
           for r in run("anomaly_zscore", spark, sf_dir).collect()}
    # float-model tolerance: the sets may differ only on values
    # sitting within 1e-9 of the |z| = 3 boundary
    for eid in got.symmetric_difference(expect):
        r = next(x for x in ev if x.event_id == eid)
        mu, sd = stats[r.event_type]
        assert abs(abs((r.value - mu) / sd) - 3) < 1e-9
    assert all(abs(r.z) > 3 for r in
               run("anomaly_zscore", spark, sf_dir).collect())


# ------------------------------------------------------------------- cdc

def test_cdc_tombstones_delete_and_latest_wins(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts").collect()
    last = {}
    for r in ev:
        k = (r.ts, r.event_id)
        if r.user_id not in last or k > last[r.user_id][0]:
            last[r.user_id] = (k, r.event_type)
    rows = {r.user_id: r for r in
            run("cdc_apply_changelog", spark, sf_dir).collect()}
    for uid, ((ts, eid), etype) in last.items():
        if etype == "error":
            assert uid not in rows
        else:
            assert rows[uid].last_ts == ts
            assert rows[uid].last_event_id == eid
            assert rows[uid].last_event_type == etype
    assert set(rows) == {u for u, (_, t) in last.items() if t != "error"}


def test_cdc_is_hash_agg_not_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cdc_apply_changelog")
    assert "Window" not in plan, plan
    assert "max_by" in plan or "HashAggregate" in plan, plan


# ------------------------------------------------------- interval overlap

def test_interval_overlap_python_model(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value").collect()
    purch = {}
    for r in ev:
        if r.event_type == "purchase":
            purch.setdefault(r.user_id, []).append(r.ts)
    expect = {}
    import datetime as dt
    for r in ev:
        if r.event_type != "view":
            continue
        end = r.ts + dt.timedelta(minutes=r.value)
        n = sum(1 for t in purch.get(r.user_id, [])
                if r.ts <= t < end)
        if n:
            expect[r.event_id] = n
    got = {r.view_id: r.n_purchases
           for r in run("join_interval_overlap", spark, sf_dir).collect()}
    assert got == expect


# ------------------------------------------------------ boilerplate strip

def test_boilerplate_strip_planted(spark, tmp_path):
    """Two docs share one exact 8-token block; a third is untouched.
    The shared block must vanish from BOTH docs, everything else
    must survive in order."""
    shared = "b1 b2 b3 b4 b5 b6 b7 b8"
    d0 = shared + " a1 a2 a3 a4 a5 a6 a7 a8"
    d1 = shared + " c1 c2 c3 c4 c5 c6 c7 c8"
    d2 = "u1 u2 u3 u4 u5 u6 u7 u8 tail1 tail2"
    df = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r.clean_text
           for r in run("text_boilerplate_strip", spark,
                        str(tmp_path)).collect()}
    assert out[0] == "a1 a2 a3 a4 a5 a6 a7 a8"
    assert out[1] == "c1 c2 c3 c4 c5 c6 c7 c8"
    # tail block (< 8 tokens) is its own chunk and unique → kept
    assert out[2] == d2


def test_boilerplate_strip_all_shared_yields_empty(spark, tmp_path):
    t = "x1 x2 x3 x4 x5 x6 x7 x8"
    df = spark.createDataFrame(
        [(0, t), (1, t)], "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r.clean_text
           for r in run("text_boilerplate_strip", spark,
                        str(tmp_path)).collect()}
    assert out == {0: "", 1: ""}


# ----------------------------------------------------------- quantization

def test_quantize_codes_bounded_and_decodable(spark, sf_dir):
    rows = run("embedding_quantize_int8", spark, sf_dir).collect()
    emb = {r.vec_id: r.embedding
           for r in load(spark, sf_dir, "embeddings").collect()}
    dims = len(next(iter(emb.values())))
    assert len(rows) == len(emb) * dims
    by_vec = {}
    for r in rows:
        assert -127 <= r.code <= 127
        by_vec.setdefault(r.vec_id, []).append(r)
    for vid, rs in by_vec.items():
        scale = max(abs(float(x)) for x in emb[vid]) / 127
        for r in rs:
            # reconstruction error ≤ scale/2 (+ rounding slack)
            assert r.err <= scale / 2 + 1e-6


def test_quantize_zero_vector_yields_null_codes(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0], 1), (1, [1.0, -2.0, 0.5], 1)],
        "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    rows = run("embedding_quantize_int8", spark, str(tmp_path)).collect()
    z = [r for r in rows if r.vec_id == 0]
    nz = {r.dim: r.code for r in rows if r.vec_id == 1}
    assert all(r.code is None for r in z)
    assert nz == {1: 64, 2: -127, 3: 32}


def test_quantize_plan_has_no_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan, plan


# ------------------------------------------------------------------ split

def test_split_deterministic_and_ratio(spark, sf_dir):
    a = {(r.lang, r.split): (r.n_docs, r.total_chars)
         for r in run("split_train_test", spark, sf_dir).collect()}
    b = {(r.lang, r.split): (r.n_docs, r.total_chars)
         for r in run("split_train_test", spark, sf_dir).collect()}
    assert a == b
    n_total = sum(v[0] for v in a.values())
    assert n_total == load(spark, sf_dir, "documents").count()
    n_test = sum(v[0] for k, v in a.items() if k[1] == "test")
    assert 0.02 < n_test / n_total < 0.25   # ~10% with small-N slack


# ----------------------------------------------------------------- report

def test_corpus_mix_report_shares_sum_to_one(spark, sf_dir):
    rows = run("corpus_mix_report", spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    assert sum(r.token_share for r in rows) == pytest.approx(1.0, abs=1e-3)
    for r in rows:
        assert 0 <= r.dup_rate <= 1
        assert r.n_unique <= r.n_docs


# -------------------------------------------------------------- pca

def test_pca_recovers_planted_direction(spark, tmp_path):
    """Vectors = planted direction * t + small noise → the power
    iteration must recover the direction (|cos| > 0.99) and most of
    the variance."""
    import numpy as np
    rng = np.random.default_rng(7)
    d = 16
    direction = rng.normal(size=d)
    direction /= np.linalg.norm(direction)
    t = rng.normal(scale=5.0, size=400)
    noise = rng.normal(scale=0.1, size=(400, d))
    x = np.outer(t, direction) + noise
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row], 0)
         for i, row in enumerate(x)],
        "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    rows = sorted(run("vector_pca_power", spark, str(tmp_path)).collect(),
                  key=lambda r: r.dim)
    v = np.array([r.loading for r in rows])
    assert abs(float(v @ direction)) > 0.99
    assert rows[0].explained_var > 0.9
    assert abs(np.linalg.norm(v) - 1) < 1e-3


def test_pca_loading_sign_canonical(spark, sf_dir):
    rows = sorted(run("vector_pca_power", spark, sf_dir).collect(),
                  key=lambda r: r.dim)
    nz = [r.loading for r in rows if abs(r.loading) > 1e-12]
    assert nz and nz[0] > 0


# ------------------------------------------------------- streaming cdc

def test_stream_cdc_matches_batch_twin(spark, sf_dir):
    batch = {r.user_id: (r.last_event_id, r.last_event_type,
                         r.last_value, r.last_ts)
             for r in run("cdc_apply_changelog", spark, sf_dir).collect()}
    stream = {r.user_id: (r.last_event_id, r.last_event_type,
                          r.last_value, r.last_ts)
              for r in run("stream_cdc_apply", spark, sf_dir).collect()}
    assert stream == batch


def test_stream_cdc_tombstone_can_undelete(spark, tmp_path):
    """An 'error' tombstone followed (in a LATER micro-batch) by an
    upsert must resurface the key — resolve-at-read semantics."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 5, "view", 1.0, "{}"),
        (2, base + dt.timedelta(hours=6), 5, "error", 2.0, "{}"),
        (3, base + dt.timedelta(hours=12), 5, "click", 3.0, "{}"),
        (4, base + dt.timedelta(hours=13), 6, "view", 4.0, "{}"),
        (5, base + dt.timedelta(hours=20), 6, "error", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.user_id: r for r in
           run("stream_cdc_apply", spark, str(tmp_path)).collect()}
    assert 5 in out and out[5].last_event_type == "click"
    assert 6 not in out


# --------------------------------------------------------------- sketches

def test_count_min_estimates_bounded(spark, sf_dir):
    """CMS error model: estimate >= true count, overshoot <= eps x N
    (eps = 0.001 at 10k rows -> slack 10; generous factor for the
    w.h.p. bound)."""
    ev = load(spark, sf_dir, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type").agg(F.count("*").alias("n"))
             .collect()}
    n_total = sum(exact.values())
    rows = run("agg_count_min_sketch", spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.est_count >= exact[r.event_type]
        assert r.est_count <= exact[r.event_type] + max(10, 0.01 * n_total)


def test_nullsafe_join_keeps_null_bucket(spark, sf_dir):
    rows = {r.bucket: r.n_orders
            for r in run("join_nullsafe_eq", spark, sf_dir).collect()}
    assert None in rows and rows[None] > 0
    total = load(spark, sf_dir, "orders").count()
    assert sum(rows.values()) == total


# ------------------------------------------------------------ phash dedup

def test_phash_dedup_planted_perturbed_copy(spark, tmp_path):
    """A document plus a lightly perturbed copy must pair up; an
    unrelated random-ish document must not."""
    base = " ".join(f"tok{i % 97}" for i in range(400))
    perturbed = base[:-12] + " tokX tokY"           # tail nudge
    other = " ".join(f"zz{i * 7 % 89}" for i in range(50, 450))
    df = spark.createDataFrame(
        [(0, base, "en", "s", len(base)),
         (1, perturbed, "en", "s", len(perturbed)),
         (2, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    pairs = {(r.asset_a, r.asset_b)
             for r in run("multimodal_phash_dedup", spark,
                          str(tmp_path)).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_phash_identical_payloads_hamming_zero(spark, tmp_path):
    t = "same payload " * 40
    df = spark.createDataFrame(
        [(0, t, "en", "s", len(t)), (1, t, "en", "s", len(t))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = run("multimodal_phash_dedup", spark, str(tmp_path)).collect()
    assert [(r.asset_a, r.asset_b, r.hamming) for r in rows] == [(0, 1, 0)]


# -------------------------------------------------------------- z-order

def test_zorder_files_cover_rectangles_not_stripes(spark, sf_dir):
    """After the z-order sink runs, each output file must cover a
    bounded RECTANGLE of the (partkey, suppkey) plane: the average
    per-file span of BOTH dimensions stays well under the full
    domain — the property that lets min/max stats skip files for
    predicates on either column. (Single-key clustering would give
    one dimension full-domain span in every file.)"""
    from open_reaction_database_web_scraper_spark.operators.scans import (
        _sink_dir)
    run("sink_zorder_clustered", spark, sf_dir).collect()
    out = _sink_dir("sink_zorder_clustered")
    import glob as g
    files = g.glob(f"{out}/*.parquet")
    assert len(files) >= 4
    import pyarrow.parquet as pq
    p_lo, p_hi, s_lo, s_hi = [], [], [], []
    for f in files:
        t = pq.read_table(f, columns=["l_partkey", "l_suppkey"])
        p = t["l_partkey"].to_pylist()
        s = t["l_suppkey"].to_pylist()
        p_lo.append(min(p)); p_hi.append(max(p))
        s_lo.append(min(s)); s_hi.append(max(s))
    p_dom = max(p_hi) - min(p_lo) or 1
    s_dom = max(s_hi) - min(s_lo) or 1
    p_span = sum(h - l for h, l in zip(p_hi, p_lo)) / len(files) / p_dom
    s_span = sum(h - l for h, l in zip(s_hi, s_lo)) / len(files) / s_dom
    # both dims bounded — neither is a full-domain stripe
    assert p_span < 0.8, p_span
    assert s_span < 0.8, s_span


# -------------------------------------------------- running distinct/paths

def test_running_distinct_python_model(spark, sf_dir):
    ev = sorted(load(spark, sf_dir, "events")
                .select("user_id", "ts", "event_id", "event_type")
                .collect(), key=lambda r: (r.user_id, r.ts, r.event_id))
    want = {}
    seen = {}
    for r in ev:
        s = seen.setdefault(r.user_id, set())
        s.add(r.event_type)
        want[r.event_id] = len(s)
    got = {r.event_id: r.distinct_types_so_far
           for r in run("win_running_distinct", spark, sf_dir).collect()}
    assert got == want


def test_event_path_topk_python_model(spark, sf_dir):
    ev = sorted(load(spark, sf_dir, "events")
                .select("user_id", "ts", "event_id", "event_type")
                .collect(), key=lambda r: (r.user_id, r.ts, r.event_id))
    per_user = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.event_type)
    from collections import Counter
    c = Counter(">".join(v[:3]) for v in per_user.values())
    want = {p: n for p, n in c.items() if n >= 2}
    got = {r.path: r.n_users
           for r in run("event_path_topk", spark, sf_dir).collect()}
    assert got == want
