"""Corpus curation operators [E]: what enters the training mix, how
it is packed, and what a curation run reports and hands off.

Weighted source interleaving and greedy sequence packing are the two
steps between "curated corpus" and "batches on a trainer". The
reference's closest analog is its dataset allocation planner
(web_scrpaer_2.py:291-334), which budgets how many reactions to pull
per dataset — the same quota-per-source idea, here applied
declaratively to a document corpus. Around them: the corpus
composition report, clamped token-budget allocation, the vocabulary
growth curve, the audited quality gate, the keep/drop plan per
duplicate cluster, and the sharded JSONL export. The reference ends
every run by serializing its corpus to a single JSON file
(web_scrpaer_2.py:545-548) — one writer, one file, no parallel read
downstream — which the size-targeted shards replace.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fanout, load
from ..registry import register
from .dedup import (
    _clusters_oracle_sql,
    _tokens,
    dedup_clusters,
    portable_hash32,
)
from .sampling import _TOKENS_SQL
from .scans import _sink_dir

# Knuth multiplicative hash (same constant as sample_per_group_topk):
# doc_id * MULT % 100 scrambles sequential ids into a uniform keep
# die, stays exact in int64 at any realistic id (id < 9.2e18/MULT),
# and is identical arithmetic in Spark and DuckDB.
MULT = 2654435761

# source -> percent of its documents kept in the mix. Sources not
# listed fall back to the default rate. Values are deliberately
# non-uniform so the oracle exercises the join, not a constant.
MIX_WEIGHTS = {"src0": 90, "src1": 75, "src2": 50, "src3": 25,
               "src4": 10}
MIX_DEFAULT = 40


@register(
    "interleave_sources_weighted",
    oracle=f"""
    WITH weights (source, pct) AS (
      VALUES {", ".join(f"('{s}', {p})" for s, p in MIX_WEIGHTS.items())}
    ), mixed AS (
      SELECT d.source,
             COALESCE(w.pct, {MIX_DEFAULT}) AS pct,
             d.n_chars
      FROM documents d LEFT JOIN weights w ON d.source = w.source
      WHERE d.doc_id * {MULT} % 100 < COALESCE(w.pct, {MIX_DEFAULT})
    )
    SELECT source, pct,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM mixed GROUP BY source, pct
    """,
    tags=("curation", "sample", "join"),
)
def interleave_sources_weighted(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Weighted source interleave: each corpus source contributes a
    configured fraction of its documents to the training mix.

    The weights live in a tiny config relation (the realistic shape
    — mix ratios are data, not code) broadcast-joined onto the
    corpus; the keep decision is a deterministic multiplicative-hash
    die on doc_id, so the mix is reproducible at any cluster size
    and re-runs are stable (same property as the other key-mod
    samplers here). One scan, one broadcast, one map-side-combined
    aggregate — no shuffle of document text, no RNG.
    """
    docs = load(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [(s, p) for s, p in MIX_WEIGHTS.items()], "source string, pct int")
    keep_pct = F.coalesce(F.col("pct"), F.lit(MIX_DEFAULT))
    return (docs.join(F.broadcast(weights), "source", "left")
            .withColumn("pct", keep_pct)
            .filter(F.pmod(F.col("doc_id") * F.lit(MULT),
                           F.lit(100)) < F.col("pct"))
            .groupBy("source", "pct")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("chars_kept")))


PACK_BUDGET = 2048   # character budget per packed training sequence
PACK_SHARDS = 8          # minimum packing shards per language
PACK_GROUP_DOCS = 50_000  # target docs per (lang, shard) pandas group


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy first-fit-sequential packer for one (lang, shard)
    group: walk docs in doc_id order, open a new bin whenever the
    next doc would overflow the budget. A doc larger than the budget
    gets a bin of its own (never split). Pure pandas, O(n)."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bin_ids, bin_id, filled = [], 0, 0
    for n in pdf["n_chars"]:
        if filled > 0 and filled + n > PACK_BUDGET:
            bin_id += 1
            filled = 0
        filled += n
        bin_ids.append(bin_id)
    pdf["bin_id"] = bin_ids
    return pdf[["lang", "shard", "bin_id", "doc_id", "n_chars"]]


_PACK_SCHEMA = ("lang string, shard int, bin_id long, doc_id long, "
                "n_chars long")


def _pack_oracle_sql() -> str:
    """DuckDB SQL replaying the greedy packer EXACTLY via a recursive
    CTE (rows-only through round 8): shard assignment is the portable
    md5 hash (shared with the Spark side since round 9 — xxhash64 was
    engine-private), n_shards re-derives from COUNT(*) with the same
    ceil formula, and the recursion walks each (lang, shard) group in
    doc_id rank order carrying (bin_id, filled) — one iteration per
    rank, all groups advanced in parallel, so depth = the largest
    group (bounded by PACK_GROUP_DOCS at any corpus size, the same
    bound that keeps the Arrow group in memory). The filled > 0 guard
    matches the Python packer on zero-length docs."""
    return f"""
    WITH RECURSIVE params AS (
      SELECT GREATEST({PACK_SHARDS},
                      CAST(CEIL(COUNT(*) / {PACK_GROUP_DOCS}.0) AS BIGINT))
               AS n_shards
      FROM documents
    ), d0 AS (
      SELECT doc_id, lang, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % p.n_shards AS INTEGER) AS shard
      FROM documents, params p
    ), docs AS (
      SELECT lang, shard, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, shard
                                ORDER BY doc_id) AS rk
      FROM d0
    ), walk AS (
      SELECT lang, shard, rk, n_chars,
             CAST(0 AS BIGINT) AS bin_id,
             CAST(n_chars AS BIGINT) AS filled
      FROM docs WHERE rk = 1
      UNION ALL
      SELECT d.lang, d.shard, d.rk, d.n_chars,
             CASE WHEN w.filled > 0
                   AND w.filled + d.n_chars > {PACK_BUDGET}
                  THEN w.bin_id + 1 ELSE w.bin_id END,
             CASE WHEN w.filled > 0
                   AND w.filled + d.n_chars > {PACK_BUDGET}
                  THEN CAST(d.n_chars AS BIGINT)
                  ELSE w.filled + d.n_chars END
      FROM walk w JOIN docs d
        ON d.lang = w.lang AND d.shard = w.shard AND d.rk = w.rk + 1
    )
    SELECT lang, shard, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS seq_chars
    FROM walk GROUP BY lang, shard, bin_id
    """


@register(
    "pack_sequences",
    oracle=_pack_oracle_sql(),
    tags=("curation", "pandas-udf"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate documents into training
    sequences of at most PACK_BUDGET characters, never splitting a
    document (the standard pre-tokenization packing pass that turns
    a ragged corpus into near-fixed-length trainer input).

    Packing is inherently a sequential scan (bin state depends on
    every earlier doc), so it runs as an Arrow ``applyInPandas``
    over (lang, shard) groups — the one place a Pandas UDF is the
    honest tool. Scale comes from the SHARD axis, not the group
    scan: docs are sharded by a hash of doc_id, each shard packs
    independently in O(|shard|), and the shard COUNT follows the
    corpus size (docs / PACK_GROUP_DOCS, min PACK_SHARDS) so a
    group's pandas frame stays bounded at any scale (waste is
    bounded: ≤ one partial bin per shard). The
    returned frame is the per-bin rollup; bin membership is
    property-tested (every doc exactly once, no bin over budget
    unless a single oversized doc, deterministic across runs) AND —
    since round 9 — the whole greedy walk is value-checked by a
    recursive-CTE DuckDB oracle that replays it bin by bin.
    """
    base = load(spark, sf_dir, "documents")
    # Shard count derives from the corpus (ceil(n/PACK_GROUP_DOCS),
    # floored at PACK_SHARDS): applyInPandas materializes each
    # (lang, shard) group as ONE in-memory pandas frame, so a FIXED
    # shard count means group size grows with the corpus until the
    # Arrow collection OOMs — the bound must follow the data. One
    # count() scalar (bounded driver state, IVF-centroid posture).
    n_docs = base.count()
    n_shards = max(PACK_SHARDS, -(-n_docs // PACK_GROUP_DOCS))
    # portable shard die (round 9): md5-derived, so the DuckDB oracle
    # recomputes the same shards — xxhash64 was engine-private.
    docs = base.select(
        "doc_id", "lang", "n_chars",
        F.pmod(portable_hash32(F.col("doc_id").cast("string")),
               F.lit(n_shards)).cast("int").alias("shard"))
    packed = (docs.groupBy("lang", "shard")
              .applyInPandas(_pack_group, _PACK_SCHEMA))
    return (packed.groupBy("lang", "shard", "bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("seq_chars")))


@register(
    "corpus_mix_report",
    oracle="""
    WITH d AS (
      SELECT lang, source, sha256(text) AS sha,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    ), per AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             COUNT(DISTINCT sha) AS n_unique,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM d GROUP BY lang, source
    ), tot AS (
      SELECT CAST(SUM(n_toks) AS DOUBLE) AS total_tokens FROM d
    )
    SELECT lang, source, n_docs, n_unique,
           ROUND(CAST(n_docs - n_unique AS DOUBLE) / n_docs, 6)
             AS dup_rate,
           n_tokens,
           ROUND(n_tokens / t.total_tokens, 6) AS token_share
    FROM per CROSS JOIN tot t
    """,
    tags=("curation", "agg", "report"),
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report per (lang, source) cell: doc count,
    exact-unique count (sha256), duplicate rate, token count, and
    share of the total token budget — the summary table a curation
    run publishes (the engine's analog of the reference's printed
    run report, web_scraper.py:339-346, grown to corpus scale).

    One pass computes sha and token count row-locally; ONE hash
    aggregate keyed on the tiny (lang, source) domain carries
    (count, distinct-sha partials, token sum); the grand total is a
    1-row aggregate broadcast back for the share division. The
    exact COUNT(DISTINCT sha) expands to (lang, source, sha)
    partials — bounded by unique docs, map-side combined, the same
    posture retention_cohorts pins. Shares and rates are
    ROUND(.,6)-sealed doubles of exact integers.
    """
    d = load(spark, sf_dir, "documents").select(
        "lang", "source",
        F.sha2("text", 256).alias("sha"),
        F.size(F.split("text", " ")).alias("n_toks"))
    per = (d.groupBy("lang", "source")
           .agg(F.count("*").alias("n_docs"),
                F.count_distinct("sha").alias("n_unique"),
                F.sum("n_toks").cast("long").alias("n_tokens")))
    # 1-row token total: the scalar-subquery broadcast shape
    # (allow-listed in scripts/explain_all.py like text_tfidf's).
    tot = d.agg(F.sum("n_toks").cast("double").alias("total_tokens"))
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "source", "n_docs", "n_unique",
                    F.round((F.col("n_docs") - F.col("n_unique"))
                            .cast("double") / F.col("n_docs"), 6)
                    .alias("dup_rate"),
                    "n_tokens",
                    F.round(F.col("n_tokens") / F.col("total_tokens"), 6)
                    .alias("token_share")))


# Target shard payload in characters — tiny here so the sf0.01
# fixture exercises multi-shard layout; production would use ~256 MB.
_SHARD_TARGET_CHARS = 32_768


@register(
    "export_jsonl_sharded",
    oracle=f"""
    WITH t AS (
      SELECT GREATEST(1, CAST(CEIL(SUM(n_chars) / {_SHARD_TARGET_CHARS}.0)
                              AS BIGINT)) AS n_shards
      FROM documents
    )
    SELECT CAST(doc_id % n_shards AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM documents, t
    GROUP BY CAST(doc_id % n_shards AS BIGINT)
    """,
    tags=("sink", "llm-data"),
)
def export_jsonl_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted sharded JSONL export — the training-data hand-off
    format (one `{{"doc_id":…,"text":…}}` object per line, shard files
    sized for the data-loader). Returns the manifest of the RE-READ
    shards, so a sink bug (lost docs, mis-assigned shard) breaks the
    oracle hash.

    Scale shape: the shard count derives from one global SUM —
    carried as a 1-row broadcast join, never collected — and shard
    assignment is `doc_id % n_shards`, a pure row-local function:
    any re-run over the same corpus re-derives the identical layout
    with no coordination table, and GIVEN a shard count, any worker
    re-derives any doc's shard locally (a strict subset run would
    derive a smaller n_shards — pin the count when exporting
    incrementally). `repartition(shard)`
    makes each output task own exactly one shard directory: file
    count == shard count, no small-file spray. The JSONL re-read is
    schema-pinned (no sampling inference pass over 100 TB).
    """
    docs = load(spark, sf_dir, "documents")
    n_shards = docs.agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.sum("n_chars") / float(_SHARD_TARGET_CHARS))
            .cast("bigint")).alias("n_shards"))
    sharded = (docs.crossJoin(F.broadcast(n_shards))
               .select("doc_id", "text", "lang", "n_chars",
                       (F.col("doc_id") % F.col("n_shards"))
                       .cast("bigint").alias("shard")))
    out = _sink_dir("export_jsonl_sharded")
    (sharded.repartition(F.col("shard"))
     .write.mode("overwrite").partitionBy("shard").json(out))
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, n_chars bigint, "
        "shard bigint").json(out)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"))


@register(
    "quality_gate_reasons",
    oracle="""
    WITH sig AS (
      SELECT doc_id, lang,
             CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_nonspace,
             CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '',
                                                       'g')) AS BIGINT)
               AS n_digits,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_t
      FROM documents
    ), gated AS (
      SELECT doc_id, lang, n_tokens,
             CONCAT_WS('|',
               CASE WHEN n_tokens IS NULL THEN 'null_text' END,
               CASE WHEN n_tokens < 20 THEN 'too_short' END,
               CASE WHEN n_tokens > 1000 THEN 'too_long' END,
               CASE WHEN n_tokens >= 20 AND n_nonspace > n_tokens * 12
                 THEN 'long_words' END,
               CASE WHEN n_digits * 5 > n_chars_t THEN 'digit_heavy' END)
               AS reasons
      FROM sig
    )
    SELECT doc_id, lang, n_tokens, reasons,
           reasons = '' AS keep
    FROM gated
    """,
    tags=("text", "llm-data", "quality"),
)
def quality_gate_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality gate with an audit trail: every document
    gets a keep/drop decision plus the pipe-joined list of WHICH
    rules fired (too_short / too_long / long_words / digit_heavy) —
    the reason column is what makes a 100 TB filter debuggable
    (per-rule kill counts, rule-overlap analysis, appeals) instead
    of a black-box boolean.

    All signals are integer counts compared with cross-multiplied
    integer thresholds (mean token length > 12 is
    `n_nonspace > n_tokens*12`; digit ratio > 20% is
    `n_digits*5 > n_chars`), so no float ever forms and both
    engines agree bit-for-bit. One map-only pass — no shuffle at
    all; CONCAT_WS skips the NULLs of rules that did not fire in
    both engines, and `keep` is simply "no reason fired".
    """
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    n_nonspace = F.length(F.expr("replace(text, ' ', '')")).cast("bigint")
    n_digits = (F.length("text")
                - F.length(F.regexp_replace("text", "[0-9]", ""))
                ).cast("bigint")
    n_chars_t = F.length("text").cast("bigint")
    sig = docs.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"),
        n_nonspace.alias("n_nonspace"), n_digits.alias("n_digits"),
        n_chars_t.alias("n_chars_t"))
    reasons = F.concat_ws(
        "|",
        # NULL text nulls every count, so no other rule can fire —
        # without an explicit rule a contentless row would sail
        # through with keep = true
        F.when(F.col("n_tokens").isNull(), "null_text"),
        F.when(F.col("n_tokens") < 20, "too_short"),
        F.when(F.col("n_tokens") > 1000, "too_long"),
        F.when((F.col("n_tokens") >= 20)
               & (F.col("n_nonspace") > F.col("n_tokens") * 12),
               "long_words"),
        F.when(F.col("n_digits") * 5 > F.col("n_chars_t"), "digit_heavy"))
    return sig.select(
        "doc_id", "lang", "n_tokens", reasons.alias("reasons"),
        (reasons == "").alias("keep"))


BUDGET_TOKENS = 1_000_000   # global token budget to allocate
SHARE_FLOOR, SHARE_CAP = 0.01, 0.2


@register(
    "corpus_token_budget_alloc",
    oracle=f"""
    WITH w AS (
      SELECT source, CAST(SUM({_TOKENS_SQL}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), c AS (
      SELECT source, tokens,
             least(greatest(tokens / (SELECT SUM(tokens) FROM w),
                            {SHARE_FLOOR}), {SHARE_CAP}) AS clamped
      FROM w
    )
    SELECT source, tokens,
           round(clamped / (SELECT SUM(clamped) FROM c), 9) AS share,
           CAST(floor({BUDGET_TOKENS}
                * round(clamped / (SELECT SUM(clamped) FROM c), 9))
                AS BIGINT) AS alloc_tokens
    FROM c
    """,
    tags=("mixing", "llm-data"),
)
def corpus_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped token-budget allocation: each source's raw token share
    is clamped to [floor, cap] (no source starves, none dominates —
    the standard mixing-table guard rails), renormalized in ONE pass
    (documented choice: a single renormalize can leave post-clamp
    shares slightly off the caps; the iterative waterfall variant is
    a driver loop over ≤|sources| steps if a deployment needs exact
    caps), and the global budget is floored into per-source token
    allocations. Shares round to 9 dp before the floor so the one
    division chain can't flip an integer boundary cross-engine.

    100 TB shape: one map-side-combined token aggregate; everything
    after operates on |sources| rows."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
    w = docs.groupBy("source").agg(F.sum(tokens).alias("tokens"))
    tot = w.agg(F.sum("tokens").alias("tot"))
    c = (w.crossJoin(F.broadcast(tot))
         .select("source", "tokens",
                 F.least(F.greatest(F.col("tokens") / F.col("tot"),
                                    F.lit(SHARE_FLOOR)),
                         F.lit(SHARE_CAP)).alias("clamped")))
    ctot = c.agg(F.sum("clamped").alias("ctot"))
    share = F.round(F.col("clamped") / F.col("ctot"), 9)
    return (c.crossJoin(F.broadcast(ctot))
            .select("source", "tokens", share.alias("share"),
                    F.floor(F.lit(BUDGET_TOKENS) * share)
                    .cast("bigint").alias("alloc_tokens")))


VOCAB_DECILES = 10


@register(
    "corpus_vocab_growth",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(doc_id) + 1 AS n FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(UNNEST(string_split(text, ' '))),
                   1, 8)) AS BIGINT) AS h
      FROM documents
    ), firsts AS (
      SELECT h, MIN(doc_id) AS first_doc FROM tok GROUP BY h
    ), decs AS (
      SELECT LEAST(CAST(FLOOR({VOCAB_DECILES} * first_doc / n)
                   AS INTEGER), {VOCAB_DECILES - 1}) AS decile
      FROM firsts, mx
    ), counts AS (
      SELECT decile, COUNT(*) AS new_tokens FROM decs GROUP BY decile
    ), spine AS (
      SELECT UNNEST(range({VOCAB_DECILES})) AS decile
    )
    SELECT CAST(s.decile AS INTEGER) AS decile,
           COALESCE(c.new_tokens, 0) AS new_tokens,
           CAST(SUM(COALESCE(c.new_tokens, 0))
                OVER (ORDER BY s.decile) AS BIGINT) AS cum_vocab
    FROM spine s LEFT JOIN counts c ON c.decile = s.decile
    """,
    tags=("text", "stats", "llm-data"),
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law diagnostic): the corpus is
    split into {VOCAB_DECILES} doc_id deciles and each distinct token
    is credited to the decile of its FIRST occurrence; the cumulative
    curve shows whether more data still buys new vocabulary (healthy
    sublinear growth) or the collection has saturated/duplicated
    (flat tail) — the collection-level complement to per-doc novelty.

    Scale shape: tokens hash to 8 bytes at the source, first
    occurrence is one min-aggregate on the hash (map-side combined,
    no window, no sort over data), decile assignment is row-local
    integer math off a 1-row MAX broadcast, and the cumulative runs
    over a fixed {VOCAB_DECILES}-row spine generated on both engines
    — so empty deciles still appear with new_tokens = 0."""
    docs = fanout(load(spark, sf_dir, "documents").select("doc_id", "text"))
    mx = load(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + 1).alias("n"))
    tok = (docs.select(
        "doc_id", F.explode(_tokens()).alias("token"))
        .select("doc_id", portable_hash32(F.col("token")).alias("h"))
        .distinct())
    firsts = tok.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    decile = F.least(
        F.floor(F.lit(VOCAB_DECILES) * F.col("first_doc") / F.col("n"))
        .cast("int"),
        F.lit(VOCAB_DECILES - 1))
    counts = (firsts.crossJoin(F.broadcast(mx))
              .select(decile.alias("decile"))
              .groupBy("decile").agg(F.count("*").alias("new_tokens")))
    spine = spark.range(VOCAB_DECILES).select(
        F.col("id").cast("int").alias("decile"))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (spine.join(counts, "decile", "left")
            .select("decile",
                    F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"))
            .withColumn("cum_vocab",
                        F.sum("new_tokens").over(wcum).cast("bigint")))


@register(
    "curation_cluster_representative",
    oracle=f"""
    WITH clusters AS (
      SELECT * FROM ({_clusters_oracle_sql(True)})
    ), joined AS (
      SELECT c.doc_id, c.cluster_id, c.cluster_size, d.n_chars
      FROM clusters c JOIN documents d USING (doc_id)
    ), picked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id)
                  AS pick
      FROM joined
    )
    SELECT doc_id, cluster_id, cluster_size,
           (pick = 1) AS is_representative,
           CASE WHEN pick = 1 THEN 'keep' ELSE 'drop' END AS action
    FROM picked
    """,
    tags=("dedup", "llm-data", "pipeline", "iterative"),
)
def curation_cluster_representative(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The KEEP/DROP plan after dedup clustering: within every
    duplicate cluster ``dedup_clusters`` finds (exact-sha stars ∪
    MinHash near-dup pairs, connected components), mark one
    representative (longest text wins, ties to the lowest doc_id)
    'keep' and every other member 'drop' — the actionable output a
    curation pipeline feeds its delete/tombstone stage, where the
    cluster queries only REPORT membership.

    Composes the registered ``dedup_clusters`` (its CC loop and
    cache discipline included) with one broadcast-sized join back to
    documents for the length signal and one window pass over
    cluster_id partitions. The deterministic (n_chars DESC, doc_id)
    order makes the decision shard-stable — re-running on different
    partitioning keeps the same representative, which is what makes
    the plan idempotently re-appliable at 100 TB. The oracle nests
    the full recursive-CTE closure the cluster queries already
    value-check, so the keep/drop DECISIONS are exactly verified.
    """
    clusters = dedup_clusters(spark, sf_dir)
    lens = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(lens, "doc_id")
    wpick = Window.partitionBy("cluster_id") \
                  .orderBy(F.col("n_chars").desc(), "doc_id")
    return (joined.withColumn("pick", F.row_number().over(wpick))
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("pick") == 1).alias("is_representative"),
                    F.when(F.col("pick") == 1, "keep").otherwise("drop")
                    .alias("action")))
