"""Round-8 pins: the GIF/LZW codec (fifth oracled decode family
member — the first whose entropy coding is decoded by the engine's
OWN code rather than the stdlib), the per-vector reshape of
dedup_embed_cosine, and the recursive-CTE cluster oracles' agreement
with the iterative Spark CC loop on planted chain graphs.
"""

import random

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_reaction_database_web_scraper_spark.operators.multimodal import (
    CORRUPT_SENTINEL,
    _gif_decode,
    _lzw_decode,
    _lzw_encode,
    decode,
    decode_real,
    encode_gif,
)
from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()


# ---------------------------------------------------------------------------
# GIF / LZW codec


def test_gif_roundtrip_exact():
    idx = bytes(range(24))
    p = encode_gif(idx, 6, 4)
    assert decode_real(p, "gif") == (sum(idx), 6, 4)
    # 1×1 smallest legal image
    assert decode_real(encode_gif(b"\x7f", 1, 1), "gif") == (127, 1, 1)


def test_gif_lzw_kwkwk_and_runs():
    """A run of one symbol forces the KwKwK case (decoder sees the
    code for an entry it hasn't built yet) on the second code — the
    classic LZW reconstruction corner."""
    for n in (1, 2, 3, 5, 50, 300):
        idx = b"\x61" * n
        assert _gif_decode(encode_gif(idx, n, 1)) == (sum(idx), n, 1)


def test_gif_lzw_width_growth_and_table_reset():
    """A large random raster drives the code width through every bump
    (9→10→11→12 bits), fills the 4096-entry table (forcing the
    encoder's CLEAR-reset path and the decoder's mid-stream reset),
    and spans hundreds of ≤255-byte sub-blocks."""
    random.seed(7)
    idx = bytes(random.randrange(256) for _ in range(40000))
    p = encode_gif(idx, 200, 200)
    assert _gif_decode(p) == (sum(idx), 200, 200)
    lzw = _lzw_encode(idx, 8)
    assert len(lzw) > 4096 * 12 // 8  # width must have reached 12 bits
    # deep dictionary reuse actually compresses
    idx2 = (b"abcd" * 2500)
    assert len(_lzw_encode(idx2, 8)) < len(idx2) // 10
    assert bytes(_lzw_decode(_lzw_encode(idx2, 8), 8, len(idx2))) == idx2


def test_gif_corruption_classes_map_to_sentinel():
    idx = bytes(range(24))
    p = encode_gif(idx, 6, 4)
    assert decode(b"JIF89a" + p[6:], "gif") == CORRUPT_SENTINEL  # magic
    assert decode(p[:10], "gif") == CORRUPT_SENTINEL        # short header
    assert decode(p[:-3], "gif") == CORRUPT_SENTINEL        # truncated
    hdr = 13 + 768  # header + 256-entry GCT → image descriptor
    assert p[hdr] == 0x2C
    interlaced = bytearray(p)
    interlaced[hdr + 9] |= 0x40
    assert decode(bytes(interlaced), "gif") == CORRUPT_SENTINEL
    # declared geometry disagreeing with the LZW payload
    wrong_geom = bytearray(p)
    wrong_geom[hdr + 5] = 7  # image w: 6 → 7
    assert decode(bytes(wrong_geom), "gif") == CORRUPT_SENTINEL
    # trailer byte where the image descriptor should be
    no_image = p[:hdr] + b"\x3B"
    assert decode(no_image, "gif") == CORRUPT_SENTINEL
    # an extension block before the image must be skipped cleanly
    with_ext = (p[:hdr] + b"\x21\xFE\x03abc\x00" + p[hdr:])
    assert decode_real(with_ext, "gif") == (sum(idx), 6, 4)


def test_gif_lzw_eoi_width_boundary():
    """End-of-stream width off-by-one regression (round-8 review,
    fuzz-found): when the decoder's add after the FINAL data code
    fills the table to exactly 2^width, it bumps the width before
    reading EOI — the encoder must mirror that or the EOI is written
    narrow and decode dies with 'ended before EOI'. The all-distinct-
    pairs raster sweep below lands the boundary on the last code for
    several lengths; a seeded fuzz belt covers the small code sizes."""
    for n in range(4080, 4100):
        idx = bytes((i * 2) % 256 if i % 2 == 0 else (i * 2 + 1) % 256
                    for i in range(n))
        assert _gif_decode(encode_gif(idx, n, 1)) == (sum(idx), n, 1)
    random.seed(1234)
    for _ in range(2000):
        mcs = random.randrange(2, 8)
        n = random.randrange(1, 400)
        data = bytes(random.randrange(1 << mcs) for _ in range(n))
        assert bytes(_lzw_decode(_lzw_encode(data, mcs), mcs, n)) == data


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 20), h=st.integers(1, 20),
       data=st.binary(min_size=0, max_size=400))
def test_gif_roundtrip_property(w, h, data):
    idx = ((data + b"\x00" * (w * h)) * 2)[:w * h]
    assert _gif_decode(encode_gif(idx, w, h)) == (sum(idx), w, h)


def test_gif_query_matches_oracle(spark, sf_dir):
    spec = REGISTRY["multimodal_decode_gif"]
    rows = sorted(tuple(r) for r in spec.fn(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    orc = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert rows == orc and len(rows) > 0


# ---------------------------------------------------------------------------
# dedup_embed_cosine audit reshape: the oracle agrees on a planted
# fixture where candidates, ties and the dup verdict all matter


def test_embed_cosine_oracle_on_planted_dups(spark, tmp_path):
    from open_reaction_database_web_scraper_spark.testing import compare

    base = [1.0, 0.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5]
    near = [x * 1.001 + (0.0001 if i == 0 else 0)
            for i, x in enumerate(base)]
    anti = [-x for x in base]  # same planes' buckets differ, cos = -1
    rows = [(0, base), (1, near), (2, anti),
            (3, [0.0, 5.0] + [0.0] * 6)]
    d = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>") \
        .write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    spec = REGISTRY["dedup_embed_cosine"]
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d,
                      "dedup_embed_cosine", fail_on_empty=True)
    assert ok, msg


# ---------------------------------------------------------------------------
# recursive-CTE cluster oracle vs the iterative loop on a CHAIN graph
# (diameter > 1 — the case where closure and propagation could differ)


def test_cluster_oracle_agrees_on_neardup_chain(spark, tmp_path):
    from open_reaction_database_web_scraper_spark.testing import compare

    # a 5-doc near-dup chain (each ~= its neighbor) + 2 exact copies
    words = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(5):
        docs.append((i, " ".join(words[i * 4: i * 4 + 24])))
    docs += [(10, "dup dup " + " ".join(words[:22]))] * 1
    docs.append((11, docs[-1][1]))
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    for name in ("dedup_clusters", "dedup_clusters_neardup"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, d), spec.oracle, d, name)
        assert ok, msg


def test_embed_cosine_audit_plan_has_no_cartesian(spark, sf_dir):
    """The per-vector audit reshape must keep every join an
    equi-join: LSH (table, bucket) candidate join, vec_id argmax
    window, vec_id left join — no cartesian, no nested loop."""
    df = REGISTRY["dedup_embed_cosine"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_quantizers_still_broadcast_shaped(spark, sf_dir):
    """Determinization (struct-min argmins, decimal means, portable
    sample hash) must not change the scale shape: the PQ codebook
    joins stay broadcasts of constant-size frames and nothing goes
    cartesian. (vector_ann_ivf returns an eager localCheckpoint for
    cache ownership, so its executed plan is opaque here — its shape
    is covered by scripts/explain_all.py's pre-checkpoint scan and
    the scripts/scale_corpus.py decades.)"""
    df = REGISTRY["vector_ann_pq"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# §2.12c corpus diagnostics: planted-fixture semantics


def test_ngram_novelty_planted(spark, tmp_path):
    """doc0 is all-novel (1.0), its verbatim copy doc1 is all-stale
    (0.0), a half-overlap doc scores exactly its fresh fraction."""
    rows = [(0, "a b c d e f"), (1, "a b c d e f"),
            (2, "a b c x y z")]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in
           REGISTRY["text_ngram_novelty"].fn(spark, d).collect()}
    assert out[0].novelty == 1.0 and out[0].n_ngrams == 4
    assert out[1].novelty == 0.0 and out[1].n_novel == 0
    # doc2 shingles: (a b c) seen, (b c x)/(c x y)/(x y z) fresh
    assert out[2].n_ngrams == 4 and out[2].n_novel == 3
    assert out[2].novelty == 0.75


def test_ks_drift_planted_extremes(spark, tmp_path):
    """Identical segments → D ≈ 0; disjoint supports → D = 1."""
    same = [(float(i), "F") for i in range(100)] + \
           [(float(i), "O") for i in range(100)]
    apart = [(float(i), "F") for i in range(100)] + \
            [(float(i + 1000), "O") for i in range(100)]
    for rows, expect in ((same, 0.0), (apart, 1.0)):
        d = str(tmp_path / f"ord_{expect}")
        spark.createDataFrame(
            rows, "o_totalprice double, o_orderstatus string") \
            .write.mode("overwrite").parquet(f"{d}/orders.parquet")
        r = REGISTRY["stats_ks_drift"].fn(spark, d).collect()[0]
        assert r.d_stat == expect, (expect, r)
        assert r.n_a == 100 and r.n_b == 100


def test_ks_drift_degenerate_inputs_match_oracle(spark, tmp_path):
    """Round-8 review hardening: constant-price corpora (hi == lo →
    0.0/0.0 is NaN in Spark but NULL in DuckDB without the CASE) and
    one-empty-segment corpora (gap division by zero) must produce
    IDENTICAL, defined results on both engines — bucket 0 and
    d_stat 0.0 respectively."""
    from open_reaction_database_web_scraper_spark.testing import compare

    const = [(42.0, "F")] * 30 + [(42.0, "O")] * 20
    onesided = [(float(i), "F") for i in range(50)]
    for tag, rows in (("const", const), ("onesided", onesided)):
        d = str(tmp_path / f"ord_{tag}")
        spark.createDataFrame(
            rows, "o_totalprice double, o_orderstatus string") \
            .write.mode("overwrite").parquet(f"{d}/orders.parquet")
        spec = REGISTRY["stats_ks_drift"]
        ok, msg = compare(spec.fn(spark, d), spec.oracle, d,
                          f"stats_ks_drift[{tag}]")
        assert ok, msg
        r = spec.fn(spark, d).collect()[0]
        if tag == "const":
            assert r.at_bucket == 0 and r.d_stat == 0.0
        else:
            assert r.d_stat == 0.0 and r.n_b == 0


def test_vocab_growth_planted(spark, tmp_path):
    """Each of 10 docs introduces one private token; a shared token
    is credited only to decile 0; empty deciles would still appear."""
    rows = [(i, f"common t{i}") for i in range(10)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = sorted(REGISTRY["corpus_vocab_growth"].fn(spark, d).collect(),
                 key=lambda r: r.decile)
    assert [r.new_tokens for r in out] == [2] + [1] * 9
    assert [r.cum_vocab for r in out] == list(range(2, 12))


def test_bpe_pair_merge_planted(spark, tmp_path):
    """Word-frequency weighting: 'ab' appearing in 3 word instances
    outranks 'cd' with 1; single-char words contribute nothing."""
    rows = [(0, "ab ab cd x"), (1, "ab y")]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = sorted(REGISTRY["text_bpe_pair_merge"].fn(spark, d).collect(),
                 key=lambda r: r.rank)
    assert [(r.pair, r.pair_count) for r in out] == [("ab", 3), ("cd", 1)]


def test_hard_negative_mine_excludes_same_label(spark, tmp_path):
    """The mined negatives must be the highest-cosine DIFFERENT-label
    vectors: a same-label near-twin is skipped in favor of a slightly
    less similar cross-label vector."""
    base = [1.0, 0.0, 2.0, -1.0]
    twin = [x * 1.001 for x in base]          # same label, cos ~ 1
    close = [1.0, 0.1, 2.0, -1.0]             # other label, cos ~ 0.998
    far = [0.0, 5.0, 0.0, 0.0]                # other label, cos 0
    rows = [(0, "a", base), (1, "a", twin), (2, "b", close),
            (3, "b", far)]
    d = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>") \
        .write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = sorted(REGISTRY["sample_hard_negative_mine"].fn(spark, d)
                 .collect(), key=lambda r: -r.cosine)
    assert all(r.query_id == 0 and r.neg_label == "b" for r in out)
    assert [r.negative_id for r in out] == [2, 3]  # hard first
    assert 1 not in {r.negative_id for r in out}   # twin excluded


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
