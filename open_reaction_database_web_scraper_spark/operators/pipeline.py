"""End-to-end training-data pipelines (SURVEY.md §2.11 capstones).

The reference's pipeline is discover → extract → normalize →
aggregate → load (web_scrpaer_2.py:509-548). These operators are the
LLM-data-curation versions of the same composition, each fused into
ONE declarative plan (e.g. exact dedup → language ID → quality
filter → per-language corpus rollup). Catalyst sees the whole thing, so
column pruning, predicate ordering, and partial aggregation apply
across stage boundaries — the win a pipeline of separate jobs
forfeits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fanout, load
from ..registry import register
from .text import _BW, STOPWORDS, strip_shared_blocks

_STOP_LIST = list(STOPWORDS)


@register(
    "pipeline_training_data",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             CASE WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
                  WHEN text LIKE '% el %'  OR text LIKE '% los %' THEN 'es'
                  WHEN text LIKE '% de %'  OR text LIKE '% le %'  THEN 'fr'
                  ELSE 'en' END AS lang_pred,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> list_contains({_STOP_LIST!r}, w))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ), scored AS (
      SELECT lang, lang_pred, n_tokens,
             stop_ratio * 0.5
               + (CASE WHEN n_tokens BETWEEN 20 AND 1000
                       THEN 0.5 ELSE 0.0 END) AS quality_score
      FROM m
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_ws_tokens,
           ROUND(CAST(CAST(SUM(CAST(quality_score AS DECIMAL(18,12)))
                          AS DECIMAL(38,8)) AS DOUBLE)
                 / COUNT(*), 6) AS avg_quality,
           CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_match
    FROM scored
    WHERE quality_score >= 0.5
    GROUP BY lang
    """,
    tags=("pipeline", "dedup", "text", "flagship"),
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus rollup: dedup exactly, language-ID, drop
    low-quality docs, report per-language doc/token totals plus
    language-predictor agreement.

    Scale shape: every per-document metric (predicted language,
    token count, stopword ratio, quality) is computed map-side
    BEFORE the dedup shuffle, and the shuffle key is the 32-byte
    SHA-256 digest — the document text itself never moves.
    ``min_by`` keeps the lowest doc_id per digest (identical text ⇒
    identical metrics, so the choice only fixes which id survives).
    One exchange for the dedup, one partial+final aggregate for the
    rollup — two shuffles total for a four-stage pipeline,
    independent of document size.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    stop_ratio = (F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
                  .cast("double") / n_tokens)
    lang_pred = (F.when(F.col("text").like("% der %")
                        | F.col("text").like("% und %"), "de")
                 .when(F.col("text").like("% el %")
                       | F.col("text").like("% los %"), "es")
                 .when(F.col("text").like("% de %")
                       | F.col("text").like("% le %"), "fr")
                 .otherwise("en"))
    score = (stop_ratio * F.lit(0.5)
             + F.when(n_tokens.between(20, 1000), 0.5).otherwise(0.0))

    metrics = docs.select(
        "doc_id",
        F.sha2("text", 256).alias("content_sha"),
        F.col("lang"),
        lang_pred.alias("lang_pred"),
        n_tokens.cast("long").alias("n_tokens"),
        score.alias("quality_score"))
    kept = (metrics.groupBy("content_sha")
            .agg(F.min_by(
                F.struct("lang", "lang_pred", "n_tokens", "quality_score"),
                "doc_id").alias("row"))
            .select("row.lang", "row.lang_pred", "row.n_tokens",
                    "row.quality_score"))
    return (kept.filter(F.col("quality_score") >= 0.5)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_ws_tokens"),
                 # decimal accumulator: order-insensitive avg (the
                 # davg idiom at 12 dp, since quality is not a ≤4-dp
                 # value) — bit-identical at any parallelism.
                 # scale-12 sum reduced to scale 8 before the double
                 # cast (2^53 single-rounding rule, see stats.py)
                 F.round(F.sum(F.col("quality_score")
                               .cast("decimal(18,12)"))
                         .cast("decimal(38,8)").cast("double")
                         / F.count("*"), 6).alias("avg_quality"),
                 F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1)
                       .otherwise(0)).alias("n_pred_match")))


@register(
    "pipeline_corpus_curation",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             string_split(text, ' ') AS toks
      FROM documents
      WHERE source <> 'src0'
        AND doc_id % 100 <
            CASE WHEN lang = 'en' THEN 20 ELSE 60 END
    ), bench AS (
      SELECT DISTINCT list_aggregate(toks[i+1:i+5], 'string_agg', ' ')
               AS gram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE source = 'src0') t,
           UNNEST(range(len(toks) - 4)) AS u(i)
    ), contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id,
                   list_aggregate(toks[i+1:i+5], 'string_agg', ' ') AS gram
            FROM corpus, UNNEST(range(len(toks) - 4)) AS u(i)) g
      JOIN bench USING (gram)
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM corpus LEFT JOIN contaminated c USING (doc_id)
    GROUP BY lang
    """,
    tags=("pipeline", "text", "sample"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #2 — corpus curation: stratified sample (en
    downweighted to 20%, others 60%) → benchmark decontamination
    (5-gram overlap vs the held-out src0 slice) → per-language
    token-budget rollup with a contamination tally.

    Scale shape: the sample is a scan-stage filter (no data moves to
    decide it); the decontamination probe is a broadcast of the
    benchmark gram hashes against the sampled corpus' grams
    (map-side, corpus text never shuffles); the contaminated-id set
    is a doc_id aggregate that AQE broadcasts back onto the corpus.
    Three exchanges end-to-end — the benchmark-gram dedup (bounded by
    the tiny held-out slice), the contaminated-id agg (proportional
    to matches, not the corpus), and the final rollup — for a
    three-stage pipeline, because Catalyst sees one plan and fuses
    everything narrow in between; the corpus itself never shuffles.
    """
    from .text import DECON_BENCH_SRC, DECON_W, _wgrams

    docs = load(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 20).otherwise(60)
    corpus = (docs.filter(F.col("source") != DECON_BENCH_SRC)
              .filter(F.pmod(F.col("doc_id"), F.lit(100)) < rate)
              .select("doc_id", "lang",
                      F.split(F.col("text"), " ").alias("toks")))
    bench = (docs.filter(F.col("source") == DECON_BENCH_SRC)
             .select(F.explode(
                 _wgrams(F.split(F.col("text"), " "), DECON_W))
                 .alias("gram"))
             .select(F.xxhash64("gram").alias("gh"))
             .distinct())
    contaminated = (corpus
                    .select("doc_id",
                            F.explode(_wgrams(F.col("toks"), DECON_W))
                            .alias("gram"))
                    .select("doc_id", F.xxhash64("gram").alias("gh"))
                    .join(F.broadcast(bench), "gh")
                    .select("doc_id").distinct()
                    .withColumn("is_contaminated", F.lit(1)))
    return (corpus
            .join(contaminated, "doc_id", "left")
            .groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.sum(F.size("toks")).cast("long").alias("tokens_kept"),
                 F.count("is_contaminated").alias("n_contaminated")))


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH uniq AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM uniq
    ), chunks AS (
      SELECT doc_id, b AS pos,
             list_aggregate(toks[b*{_BW}+1 : b*{_BW}+{_BW}],
                            'string_agg', ' ') AS chunk
      FROM toks, UNNEST(range((len(toks) + {_BW} - 1) // {_BW}))
                   AS u(b)
    ), shared AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING COUNT(DISTINCT doc_id) > 1
    ), kept AS (
      SELECT c.doc_id, c.pos, c.chunk
      FROM chunks c LEFT JOIN shared s ON c.chunk = s.chunk
      WHERE s.chunk IS NULL
    ), clean AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    ), final AS (
      SELECT u.lang, COALESCE(cl.clean_text, '') AS clean_text
      FROM uniq u LEFT JOIN clean cl ON u.doc_id = cl.doc_id
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN clean_text = '' THEN 0
                    ELSE len(string_split(clean_text, ' ')) END)
                AS BIGINT) AS total_tokens
    FROM final GROUP BY lang
    """,
    tags=("pipeline", "dedup", "text"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #3 — the cleaning half of a corpus build, fused:
    exact dedup (keep min doc_id per sha256) → cross-doc boilerplate
    strip over the SURVIVORS → per-language clean-token budget.
    Complements pipeline_training_data (filter+rollup) and
    pipeline_corpus_curation (sample+decontaminate): this one
    REWRITES the corpus before counting.

    Fusion notes: the dedup is one min_by hash aggregate keyed on
    the 32-byte sha (no window, no sort of texts); only surviving
    docs enter the block machinery (strip_shared_blocks — hash-only
    counting shuffle), so shared-block counts are computed on the
    deduped corpus, where they mean boilerplate rather than
    wholesale duplication; the final rollup is a tiny hash agg on
    lang. Catalyst pipelines the three stages into one job — no
    materialization between them.
    """
    docs = fanout(load(spark, sf_dir, "documents")
                  .select("doc_id", "text", "lang"))
    uniq = (docs.groupBy(F.sha2("text", 256).alias("sha"))
            .agg(F.min_by(F.struct("doc_id", "text", "lang"),
                          F.col("doc_id")).alias("s"))
            .select(F.col("s.doc_id").alias("doc_id"),
                    F.col("s.text").alias("text"),
                    F.col("s.lang").alias("lang")))
    clean = strip_shared_blocks(uniq.select("doc_id", "text"))
    final = (uniq.select("doc_id", "lang")
             .join(clean, "doc_id", "left")
             .select("lang",
                     F.coalesce("clean_text", F.lit(""))
                     .alias("clean_text")))
    n_toks = F.when(F.col("clean_text") == "", F.lit(0)).otherwise(
        F.size(F.split("clean_text", " ")))
    return (final.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(n_toks).cast("long").alias("total_tokens")))
