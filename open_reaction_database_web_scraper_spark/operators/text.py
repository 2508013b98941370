"""Text analysis for training-data pipelines (SURVEY.md §2.11).

Language ID (marker heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), n-grams, per-language token stats, and
rolling-hash fingerprinting, cross-doc boilerplate stripping,
containment and n-gram novelty, a BPE merge step and the Gopher rule
battery — all JVM-side expressions over the ``documents`` table; the
only Python is in the test suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fanout, load
from ..registry import register
from .dedup import _shingles, portable_hash32, shingle_hash_unnest_sql

STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

# Keep regexes to constructs with identical semantics in Java
# (Spark) and RE2-ish (DuckDB) dialects: plain char classes only.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


@register(
    "text_tokenize_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ), kept AS (
      SELECT * FROM tok WHERE word NOT IN {STOPWORDS!r}
    )
    SELECT lang,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT word) AS n_distinct,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM kept GROUP BY lang
    """,
    tags=("text",),
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → stopword-filter → term statistics per language."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(_tokens()).alias("word"))
    kept = tok.filter(~F.col("word").isin(*STOPWORDS))
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct"),
        F.countDistinct("doc_id").alias("n_docs"))


@register(
    "text_ngrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS word,
             UNNEST(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), bi AS (
      SELECT a.doc_id, a.word || ' ' || b.word AS bigram
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bi GROUP BY bigram HAVING COUNT(*) >= 10
    """,
    tags=("text",),
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram generation + frequency: sliding slices over the token
    array (higher-order, no self-join on Spark's side — the oracle
    does the positional self-join instead)."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    return (docs.select(F.explode(_wgrams(toks, 2)).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= 10))


@register(
    "text_language_id",
    oracle="""
    SELECT doc_id,
           CASE WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
                WHEN text LIKE '% el %'  OR text LIKE '% los %' THEN 'es'
                WHEN text LIKE '% de %'  OR text LIKE '% le %'  THEN 'fr'
                ELSE 'en' END AS lang_pred
    FROM documents
    """,
    tags=("text",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram-presence scoring
    reduced to a deterministic rule chain; a real model slots in as
    a pandas UDF without changing the plan shape)."""
    docs = load(spark, sf_dir, "documents")
    pred = (F.when(F.col("text").like("% der %")
                   | F.col("text").like("% und %"), "de")
            .when(F.col("text").like("% el %")
                  | F.col("text").like("% los %"), "es")
            .when(F.col("text").like("% de %")
                  | F.col("text").like("% le %"), "fr")
            .otherwise("en"))
    return docs.select("doc_id", pred.alias("lang_pred"))


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split(text, ' ') AS words
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars,
             len(words) AS n_tokens,
             len(list_filter(words,
                 w -> list_contains({list(STOPWORDS)!r}, w)))
               AS n_stop
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5
             + (CASE WHEN n_tokens BETWEEN 20 AND 1000
                     THEN 0.5 ELSE 0.0 END) AS quality_score
    FROM m
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / stopword-density signals — the
    standard cheap pre-filter before expensive pipeline stages.
    Pure integer counts + double ratios → bit-identical everywhere."""
    docs = load(spark, sf_dir, "documents")
    words = _tokens()
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(
        words, lambda w: w.isin(*STOPWORDS)))
    avg_len = F.col("n_chars").cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    score = (stop_ratio * 0.5
             + F.when(n_tokens.between(20, 1000), 0.5).otherwise(0.0))
    return docs.select(
        "doc_id", n_tokens.cast("long").alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"))


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT)
             AS bpe_ish_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    regex (letter runs / digit runs / single punctuation) — the
    cheap proxy for LLM token budgeting."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
        .cast("long").alias("bpe_ish_tokens"))


FP_WINDOW = 8  # shingle width in tokens (shared with the oracle)


@register(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(t) - {FP_WINDOW - 1}, 1) + 1),
               i -> CAST(('0x' || substr(md5(array_to_string(
                      t[CAST(i AS BIGINT):
                        CAST(i + {FP_WINDOW - 1} AS BIGINT)], ' ')),
                    1, 8)) AS BIGINT)) AS sh
      FROM toks
    )
    SELECT doc_id, list_min(sh) AS fingerprint,
           CAST(len(list_distinct(sh)) AS INT) AS n_shingles
    FROM sh
    """,
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style): hash
    every 8-token shingle, keep the minimum and the count of
    distinct shingle hashes. The shingle hash is the first 32 bits
    of md5 over the space-joined shingle — md5 is bit-identical in
    every engine, so DuckDB recomputes the ACTUAL fingerprints and
    the driver value-hashes them (this was xxhash64/rows-only
    through round 5). md5 stays JVM-native inside codegen — a
    first-cut portable hash that folded a per-CHARACTER modular
    polynomial through nested HOF aggregates benched 19.9 s at
    sf0.1 vs xxhash64's 0.35 s (per-char array allocation, nothing
    vectorizes); hashing the joined shingle once restores the
    original plan shape at ~0.5 s. No Python, no shuffle.

    NULL posture is PINNED, not accidental: text is coalesced to ''
    on BOTH sides (a NULL doc fingerprints as md5('') — here, in the
    oracle, and on any future corpus), where the round-6 form would
    have diverged (Spark concat_ws over a NULL token array yields ''
    while DuckDB string_split(NULL) stays NULL).

    fanout (round-13 optimization): the per-doc work is ~100 md5s
    over 8-token shingles — the heaviest pure-map text kernel — and
    the documents table arrives as ONE input split locally, so the
    whole ~500 k-md5 pass ran on one core (bench: 1.48 s with zero
    shuffle). Round-robin fanout spreads it across the session's
    cores for one exchange of the (small) input; on any real layout
    with ≥ cores splits it is a no-op (catalog.fanout contract)."""
    docs = fanout(load(spark, sf_dir, "documents"))
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    w = FP_WINDOW
    n = F.greatest(F.size(toks) - (w - 1), F.lit(1))  # ≥1: short docs
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.conv(F.substring(
            F.md5(F.encode(F.concat_ws(" ", F.slice(toks, i + 1, w)),
                           "utf-8")), 1, 8), 16, 10).cast("long"))
    return docs.select(
        "doc_id",
        F.array_min(shingle_hashes).alias("fingerprint"),
        F.size(F.array_distinct(shingle_hashes)).alias("n_shingles"))


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.word,
           ROUND(t.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
    FROM tf t JOIN df ON t.word = df.word
    WHERE df.df >= 5
    """,
    tags=("text",),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): term frequency per doc × ln(N/df),
    restricted to terms in ≥5 docs. Two hash aggregates + one join on
    the term — the df side is tiny relative to the corpus (vocab ≪
    rows) so Catalyst broadcasts it; at petabyte vocab scale it's a
    shuffle join on the term, still linear. The score is rounded to 6
    decimals on both sides: JVM Math.log and C libm differ by 1 ulp
    on some inputs, the one transcendental in the engine."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))  # 1-row frame, stays lazy
    tok = docs.select("doc_id", F.explode(_tokens()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = (tok.groupBy("word")
          .agg(F.countDistinct("doc_id").alias("df"))
          .filter(F.col("df") >= 5))
    return (tf.join(df, "word").crossJoin(F.broadcast(n))
            .select("doc_id", "word",
                    F.round(F.col("tf")
                            * F.log(F.col("n_docs") / F.col("df")), 6)
                    .alias("tfidf")))


# -- redaction + decontamination (LLM-pipeline hygiene ops) -----------------

# One alternation shared verbatim by Spark (Java regex) and DuckDB
# (RE2): email shape, long digit runs, and a denylist of terms (the
# stand-in for a real PII/blocked-term list). Only constructs with
# identical semantics in both dialects: classes, +/{n,}, \b, |.
REDACT_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9._]+|[0-9]{7,}|\bcustomer\b|\bsupplier\b"


@register(
    "text_pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(text, '{REDACT_RE}', '[REDACTED]', 'g')
             AS redacted,
           len(regexp_extract_all(text, '{REDACT_RE}')) AS n_redactions
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / denylist redaction: replace emails, long digit runs, and
    blocked terms with a placeholder; count hits per document. Pure
    per-row JVM regex — embarrassingly parallel, no shuffle at all,
    the cheapest possible 100 TB pass (scan → project → write). The
    oracle hash covers the full redacted text, pinning Java-vs-RE2
    regex parity, not just the counts."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", REDACT_RE, "[REDACTED]").alias("redacted"),
        F.regexp_count("text", F.lit(REDACT_RE)).cast("long")
        .alias("n_redactions"))


DECON_W = 5            # decontamination n-gram width
DECON_BENCH_SRC = "src0"   # the 'held-out benchmark' slice of documents


def _wgrams(toks: F.Column, w: int) -> F.Column:
    """All w-token grams of a token array (empty when size < w)."""
    n = F.size(toks) - (w - 1)
    return F.when(n >= 1, F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)))
    ).otherwise(F.array().cast("array<string>"))


@register(
    "text_decontaminate_ngram",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT list_aggregate(toks[i+1:i+{DECON_W}], 'string_agg', ' ')
               AS gram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE source = '{DECON_BENCH_SRC}') t,
           UNNEST(range(len(toks) - {DECON_W - 1})) AS u(i)
    ), corpus_grams AS (
      SELECT DISTINCT doc_id,
             list_aggregate(toks[i+1:i+{DECON_W}], 'string_agg', ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE source <> '{DECON_BENCH_SRC}') t,
           UNNEST(range(len(toks) - {DECON_W - 1})) AS u(i)
    ), hits AS (
      SELECT doc_id, COUNT(*) AS n_overlap
      FROM corpus_grams JOIN bench USING (gram)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           COALESCE(h.n_overlap, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.source <> '{DECON_BENCH_SRC}'
    """,
    tags=("text", "pipeline"),
)
def text_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {w}-token gram with a held-out benchmark slice (source = src0) —
    the standard eval-leakage check before LLM training.

    Spark side joins on the 64-bit xxhash64 of the gram, never the
    gram text, so only 8-byte keys shuffle; the benchmark side is a
    DISTINCT over a tiny slice → Catalyst broadcasts it, making the
    whole check a map-side semi-probe over the corpus (the 100 TB
    shape: one scan, no corpus shuffle). The corpus grams are NOT
    pre-deduplicated — that would shuffle every gram of the corpus;
    instead the broadcast probe drops non-matches map-side and the
    per-doc DISTINCT runs over the (tiny) matched set, giving the
    same overlap count. The oracle joins on the gram string itself —
    identical up to 64-bit hash collisions.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = _wgrams(toks, DECON_W)
    bench = (fanout(docs.filter(F.col("source") == DECON_BENCH_SRC))
             .select(F.explode(grams).alias("gram"))
             .select(F.xxhash64("gram").alias("gh"))
             .distinct())
    corpus = docs.filter(F.col("source") != DECON_BENCH_SRC)
    cg = (fanout(corpus).select("doc_id", F.explode(grams).alias("gram"))
          .select("doc_id", F.xxhash64("gram").alias("gh")))
    hits = (cg.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.count_distinct("gh").alias("n_overlap")))
    return (corpus.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
            .withColumn("contaminated", F.col("n_overlap") > 0))


@register(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS cnt
      FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           MAX(cnt) AS top_token_cnt,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6)
             AS top_token_ratio
    FROM tf GROUP BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher/C4-style quality signal):
    the fraction of a document's tokens taken by its single most
    frequent token — high values flag boilerplate/spam for the
    quality filter.

    Two hash aggregates, both keyed by doc_id (the second reuses the
    first's partitioning, so one real exchange): per-(doc, token)
    counts, then per-doc max/sum. No token strings survive the first
    aggregate; at 100 TB the shuffle carries (doc_id, token, count)
    with map-side combine already applied."""
    docs = load(spark, sf_dir, "documents")
    tf = (fanout(docs)
          .select("doc_id", F.explode(_tokens()).alias("word"))
          .groupBy("doc_id", "word").agg(F.count("*").alias("cnt")))
    return (tf.groupBy("doc_id")
            .agg(F.sum("cnt").alias("n_tokens"),
                 F.max("cnt").alias("top_token_cnt"))
            .select("doc_id", "n_tokens", "top_token_cnt",
                    F.round(F.col("top_token_cnt")
                            / F.col("n_tokens"), 6)
                    .alias("top_token_ratio")))


HH_TOP_K = 20


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH tf AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY word
    )
    SELECT word, cnt
    FROM tf
    QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, word) <= {HH_TOP_K}
    """,
    tags=("agg", "text", "topk"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the top-{K} most frequent tokens —
    the vocabulary-head profile every corpus audit starts with.

    Scale shape: the token-frequency aggregate partial-combines
    map-side, so the exchange carries one (word, count) row per
    distinct word per task, never the token stream; the global top-k
    is ``orderBy().limit()`` which Spark executes as
    TakeOrderedAndProject — each task keeps a k-row heap and the
    driver merges |tasks|×k rows, no full sort of the vocabulary.
    Ties break on the token itself for cross-engine determinism."""
    docs = load(spark, sf_dir, "documents")
    tf = (fanout(docs)
          .select(F.explode(_tokens()).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    return (tf.orderBy(F.desc("cnt"), F.asc("word")).limit(HH_TOP_K)
            .select("word", "cnt"))


@register(
    "text_vocab_topk",
    oracle="""
    WITH counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word
    ), ranked AS (
      SELECT word, n_occurrences,
             ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, word)
               AS vocab_id
      FROM counts
    )
    SELECT CAST(vocab_id AS BIGINT) AS vocab_id, word, n_occurrences
    FROM ranked WHERE vocab_id <= 100
    """,
    tags=("text", "agg"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: global token frequencies, top-100
    tokens assigned dense ids by rank — the first step of training
    any tokenizer or embedding table over a scraped corpus.

    Plan: explode → hash-aggregate (map-side combined, so the
    shuffle carries |distinct tokens| per task, not |tokens|) →
    orderBy+limit, which Spark executes as TakeOrderedAndProject
    (per-task K-row heaps, merged on the driver) — the full
    vocabulary is NEVER globally sorted, which matters because
    |vocab| at 100 TB is itself huge. Only the K surviving rows see
    the rank window (a one-partition sort of exactly K rows);
    (count DESC, word) is a total order so ids are stable.
    """
    docs = load(spark, sf_dir, "documents")
    counts = (fanout(docs)
              .select(F.explode(F.split("text", " ")).alias("word"))
              .filter(F.col("word") != "")
              .groupBy("word")
              .agg(F.count("*").alias("n_occurrences")))
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("word")).limit(100)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("word"))
    return (top
            .withColumn("vocab_id", F.row_number().over(w).cast("bigint"))
            .select("vocab_id", "word", "n_occurrences"))


@register(
    "text_entropy_quality",
    oracle="""
    WITH prep AS (
      SELECT doc_id, string_split(text, '') AS chars,
             CAST(length(text) AS DOUBLE) AS n
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           ROUND(-list_sum(list_transform(list_distinct(chars),
                 c -> (len(list_filter(chars, x -> x = c)) / n)
                      * log2(len(list_filter(chars, x -> x = c)) / n)))
                 + 0.0,
                 6) AS char_entropy
    FROM prep
    """,
    tags=("text", "quality"),
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    cheap perplexity proxy: gibberish/binary-noise docs score far
    from natural text (English prose ≈ 4.0-4.3 bits), so a band
    filter on this column is a standard corpus-quality gate.

    Computed entirely WITHIN each row by higher-order functions
    (array_distinct → per-char count via filter+size → Σ p·log2 p):
    no explode, no shuffle — the whole query is scan → project, the
    ideal 100 TB shape for a per-document signal. Both engines walk
    the distinct-char list in first-occurrence order so the float
    sum accumulates identically; ROUND(6) absorbs libm log2 ULP
    differences between JVM and C.
    """
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = F.split("text", "")
    n = F.length("text").cast("double")
    p_of = lambda c: F.size(F.filter(chars, lambda x: x == c)) / n  # noqa: E731
    # + 0.0 normalizes the all-same-character case: the negated sum
    # is -0.0, whose string render ('-0.0' vs '0.0') differs between
    # pandas paths and flips the driver hash; adding positive zero
    # canonicalizes it in BOTH engines (IEEE: -0.0 + 0.0 == +0.0).
    entropy = -F.aggregate(
        F.transform(F.array_distinct(chars),
                    lambda c: p_of(c) * F.log2(p_of(c))),
        F.lit(0.0), lambda acc, v: acc + v) + F.lit(0.0)
    return (fanout(docs)
            .select("doc_id", F.round(entropy, 6).alias("char_entropy")))


LM_VOCAB = 256     # unigram-LM vocabulary size (fixed, broadcastable)


@register(
    "text_lm_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tok2 AS (
      SELECT doc_id, tok FROM tok WHERE tok <> ''
    ), lm AS (
      SELECT tok, COUNT(*) AS c FROM tok2 GROUP BY tok
      QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
              <= {LM_VOCAB}
    ), n AS (
      SELECT COUNT(*) AS total FROM tok2
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(
                   -ln((COALESCE(lm.c, 0) + 1.0)
                       / (n.total + {LM_VOCAB} + 1))
                   AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6)
             AS avg_nll
    FROM tok2 t CROSS JOIN n LEFT JOIN lm ON t.tok = lm.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "quality", "lm"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering signal: each document scored
    by its average negative log-likelihood under a Laplace-smoothed
    unigram language model of the corpus head (top-LM_VOCAB=256 tokens;
    out-of-vocabulary tokens take the smoothed floor). Low avg_nll =
    repetitive/templated head-heavy text, high = rare-token soup —
    both tails are what a perplexity gate trims before LM training.

    Scale shape: the LM is the corpus aggregate REDUCED to a fixed
    vocabulary — token counts shuffle once (map-side combined), the
    head is a TakeOrderedAndProject (per-task heaps, no global
    vocabulary sort), and the resulting ≤256-row model plus
    the 1-row total broadcast to the scoring join, so the corpus
    itself shuffles only for the final per-doc rollup. This mirrors
    production perplexity filtering, where the LM is pretrained and
    broadcast — bounded by construction, never corpus-sized. The
    per-token -ln p terms are rounded into DECIMAL(18,12) before the
    per-doc sum, so accumulation order cannot perturb the hash
    (davg idiom, functions/numeric.py); ROUND(6) absorbs the libm
    ln() ULP gap.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != ""))

    lm = (tok.groupBy("tok").agg(F.count("*").alias("c"))
          .orderBy(F.desc("c"), F.asc("tok")).limit(LM_VOCAB))
    total = tok.agg(F.count("*").alias("total"))

    p = ((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
         / (F.col("total") + F.lit(LM_VOCAB) + 1))
    return (tok.crossJoin(F.broadcast(total))
            .join(F.broadcast(lm), "tok", "left")
            .select("doc_id",
                    (-F.log(p)).cast("decimal(18,12)").alias("nll"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.sum("nll").cast("double") / F.count("*"), 6)
                 .alias("avg_nll")))


@register(
    "text_keyword_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.word,
             ROUND(t.tf * ln((SELECT n_docs FROM n) / df.df), 6)
               AS tfidf
      FROM tf t JOIN df ON t.word = df.word
      WHERE df.df >= 5
    )
    SELECT doc_id, word, tfidf, rank FROM (
      SELECT doc_id, word, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, word)
                  AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    tags=("text", "window"),
)
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by TF-IDF —
    the retrieval/tagging step downstream of `text_tfidf`, built by
    composing that registered operator with a per-doc rank window.

    Ranking happens on the ROUNDED scores both engines agree on
    (text_tfidf's 6-dp seal), with `word` as a total tie-break, so
    the top-3 cut is deterministic cross-engine even when scores
    collide. The window partitions on doc_id — the same
    high-cardinality key the tf aggregate already shuffled on, so
    Catalyst reuses that exchange; per-doc state is a 3-row heap's
    worth of the doc's distinct scored terms, never corpus-sized.
    """
    from ..registry import REGISTRY as _R
    scored = _R["text_tfidf"].fn(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word"))
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "word", "tfidf", "rank"))


ZIPF_TOPK = 1000   # fit over the top-K vocabulary by frequency
ZIPF_MIN_TF = 5    # ignore ultra-rare words (unstable log-freq tail)
ZIPF_SCALE = 10**9  # ln values fixed-pointed to 9 dp before summing


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ), tf AS (
      SELECT word, COUNT(*) AS tf FROM tok GROUP BY word
      HAVING COUNT(*) >= {ZIPF_MIN_TF}
    ), ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, word) AS rank
      FROM tf ORDER BY tf DESC, word LIMIT {ZIPF_TOPK}
    ), pts AS (
      SELECT CAST(round(ln(rank) * {ZIPF_SCALE}) AS HUGEINT) AS x,
             CAST(round(ln(tf) * {ZIPF_SCALE}) AS HUGEINT) AS y
      FROM ranked
    ), s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
    FROM s
    """,
    tags=("text", "stats"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq)
    vs ln(rank) over the top-{ZIPF_TOPK} words — natural-language
    corpora sit near −1; big deviations flag boilerplate floods,
    spam, or synthetic text (a standard corpus-quality diagnostic).

    Determinism across engines: ln() can differ by 1 ulp between JVM
    and libm, so both sides fix-point the logs to 9 dp BEFORE any
    summation and accumulate EXACT integers (decimal(38,0) here,
    HUGEINT in DuckDB — plain BIGINT would overflow: Σx·y ≈ 7·10²²).
    The closed-form slope is then one exact-integer expression whose
    final double division both engines round identically to 6 dp —
    the decimal-accumulator idiom extended to regression.

    Scale shape: one tf hash-aggregate (map-side combined) over the
    token stream, then `orderBy().limit()` compiles to
    TakeOrderedAndProject — the top-K cut never materializes the
    vocabulary on one node — and the fit itself runs on K rows.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens()).alias("word"))
    tf = (tok.groupBy("word").agg(F.count("*").alias("tf"))
          .filter(F.col("tf") >= ZIPF_MIN_TF))
    top = tf.orderBy(F.desc("tf"), F.asc("word")).limit(ZIPF_TOPK)
    ranked = top.withColumn(
        "rank", F.row_number().over(
            Window.orderBy(F.desc("tf"), F.asc("word"))))
    pts = ranked.select(
        F.round(F.log("rank") * ZIPF_SCALE).cast("decimal(38,0)").alias("x"),
        F.round(F.log("tf") * ZIPF_SCALE).cast("decimal(38,0)").alias("y"))
    s = pts.agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"))
    return s.select(
        F.col("n").cast("long").alias("n_words"),
        F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double"), 6).alias("zipf_slope"))


_BW = 8  # tokens per block, matching dedup_subdoc_blocks' BLOCK_W


@register(
    "text_boilerplate_strip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
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
    )
    SELECT d.doc_id, COALESCE(cl.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN clean cl ON d.doc_id = cl.doc_id
    """,
    tags=("text", "dedup", "rewrite"),
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL with document reconstruction: cut every
    8-token block that appears in more than one document (both
    copies — CCNet-style shared-block stripping) and re-join each
    doc's surviving blocks in order.

    Where dedup_subdoc_blocks stops at counting shared blocks, this
    emits the cleaned corpus. Scale shape, in three exchanges none
    of which carries more text than the output:
    1. blocks are built row-locally (split → slice over a sequence →
       posexplode) and COUNTED by their xxhash64 — the counting
       shuffle moves (8-byte hash, doc_id) only;
    2. the >1-doc hash set joins back to the block stream as a plain
       equi-join on the hash (an anti-join shape — no broadcast of
       anything corpus-sized);
    3. reassembly groups by doc_id collecting (pos, chunk) structs,
       array_sort restores order inside the row (no window, no
       secondary sort), array_join rebuilds the text.
    Hash collisions can only over-strip a block (two distinct chunks
    sharing an xxhash64) — the same accepted 2⁻⁶⁴ trade
    dedup_subdoc_blocks documents; the oracle groups the block
    strings themselves.
    """
    docs = fanout(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return (load(spark, sf_dir, "documents").select("doc_id")
            .join(strip_shared_blocks(docs), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


def strip_shared_blocks(docs: DataFrame) -> DataFrame:
    """Core of the boilerplate strip (shared with the
    pipeline_clean_corpus capstone): (doc_id, text) in →
    (doc_id, clean_text) out for docs with ≥1 surviving block —
    callers left-join and COALESCE('') for fully-stripped docs.

    Known cost: the chunk stream feeds BOTH the shared-count
    aggregate and the anti-join probe side, and the two branches
    project differently, so Catalyst cannot reuse the exchange —
    tokenize/slice/hash runs twice per query. At the 100 TB posture
    a production run would persist (or checkpoint) the hashed chunk
    stream between the two uses; kept un-materialized here so the
    registered query stays a single pipelined job."""
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    n_blocks = F.expr(f"(size(toks) + {_BW} - 1) DIV {_BW}").cast("int")
    chunks = (toks.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(
                F.slice("toks", i * _BW + 1, _BW), " "))))
        .withColumnRenamed("col", "chunk")
        .withColumn("h", F.xxhash64("chunk")))
    shared = (chunks.groupBy("h")
              .agg(F.count_distinct("doc_id").alias("nd"))
              .filter(F.col("nd") > 1)
              .select("h"))
    kept = chunks.join(shared, "h", "left_anti")
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("pos", "chunk"))),
                    lambda s: s["chunk"]),
                " ").alias("clean_text")))


CONTAIN_MIN = 0.8           # directional containment gate


@register(
    "text_containment_ngram",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.word = b.word
                           AND b.doc_id = a.doc_id + 1
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.i AS DOUBLE) / sa.n AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE CAST(i.i AS DOUBLE) / sa.n >= {CONTAIN_MIN}
    """,
    tags=("text", "dedup", "llm-data"),
)
def text_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL token-set containment C(A→B) = |A∩B| / |A| over
    adjacent-id pairs — the asymmetric cousin of dedup_ngram_jaccard
    (same pluggable pair generator, same exact-set machinery): a
    short doc quoted inside a long one scores ~1.0 here but low on
    Jaccard, which is why decontamination pipelines check
    containment, not just symmetric similarity. Plan shape is the
    jaccard one minus the union denominator: explode → distinct →
    pair join → intersection count over one side's size."""
    docs = load(spark, sf_dir, "documents")
    tok = (docs.select("doc_id",
                       F.explode(F.split(F.col("text"), " ")).alias("word"))
           .distinct())
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (a.join(b, (F.col("a.word") == F.col("b.word"))
                    & (F.col("b.doc_id") == F.col("a.doc_id") + 1))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    cont = F.col("i").cast("double") / F.col("na")
    return (inter.join(sa, "doc_a")
            .filter(cont >= CONTAIN_MIN)
            .select("doc_a", "doc_b", cont.alias("containment")))


_NOVELTY_SHINGLE_SQL = f"""
      SELECT DISTINCT doc_id, {shingle_hash_unnest_sql("t")} AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS ({_NOVELTY_SHINGLE_SQL}
    ), firsts AS (
      SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY h
    ), per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_ngrams,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN firsts f ON f.h = sh.h
      GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_ngrams, 0) AS n_ngrams,
           COALESCE(p.n_novel, 0) AS n_novel,
           ROUND(COALESCE(p.n_novel / p.n_ngrams, 0.0), 9) AS novelty
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    tags=("text", "dedup", "llm-data", "quality"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    3-word shingles whose first corpus occurrence (minimum doc_id) is
    this doc — ~1.0 for fresh content, →0 for recombinations of
    already-seen text. The keep-score complement to pair-based dedup
    (a doc can be 60% recycled without being anyone's near-dup).

    Scale shape: shingles hash to the portable 8-byte md5 family at
    the source, so the distinct, the first-occurrence min-aggregate
    (map-side combined) and the join back all shuffle (hash, doc_id)
    pairs — never shingle text. First-occurrence is an aggregate, not
    a window: no global sort anywhere. Ratio rounds to 9 dp on both
    sides (engine-boundary convention).
    """
    docs = fanout(load(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = (docs.select(
        "doc_id", F.explode(_shingles(_tokens())).alias("shingle"))
        .select("doc_id", portable_hash32(F.col("shingle")).alias("h"))
        .distinct())
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (sh.join(firsts, "h")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_ngrams"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                          .otherwise(0)).cast("bigint").alias("n_novel")))
    return (load(spark, sf_dir, "documents").select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
                F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
                F.round(F.coalesce(
                    F.col("n_novel") / F.col("n_ngrams"), F.lit(0.0)),
                    9).alias("novelty")))


BPE_TOP_K = 20


@register(
    "text_bpe_pair_merge",
    oracle=f"""
    WITH words AS (
      SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ), wf AS (
      SELECT word, COUNT(*) AS freq FROM words
      WHERE length(word) >= 2 GROUP BY word
    ), exploded AS (
      SELECT UNNEST(list_transform(range(1, length(word)),
                    i -> substr(word, CAST(i AS INTEGER), 2))) AS pair,
             freq
      FROM wf
    ), pairs AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM exploded GROUP BY pair
    )
    SELECT pair, pair_count, CAST(rn AS INTEGER) AS rank
    FROM (SELECT pair, pair_count,
                 ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rn
          FROM pairs) WHERE rn <= {BPE_TOP_K}
    """,
    tags=("text", "tokenizer", "llm-data"),
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step over the corpus: count adjacent
    character pairs inside words, weighted by word frequency, and
    emit the top-{BPE_TOP_K} merge candidates — the inner loop of
    byte-pair-encoding tokenizer training (Sennrich et al. 2016)
    expressed as two hash aggregates.

    Scale shape — the reason BPE training is feasible on a 100 TB
    corpus at all: the corpus collapses to its WORD-FREQUENCY table
    first (one hash agg, map-side combined — the vocabulary is
    millions of rows regardless of corpus size), and pair counting
    then runs over the vocab × word-length, never the corpus. The
    pair domain is bounded by alphabet² per step, so the second agg
    is tiny; top-k is a TakeOrderedAndProject. Iterating merges
    would loop this plan with a vocab rewrite per round — this
    registers the single auditable step (count parity is what
    tokenizer reproducibility rests on), exactly oracled with ties
    broken on the pair string."""
    docs = load(spark, sf_dir, "documents")
    words = fanout(docs.select(
        F.explode(F.split("text", " ")).alias("word")))
    wf = (words.filter(F.length("word") >= 2)
          .groupBy("word").agg(F.count("*").alias("freq")))
    pairs = (wf.select(
        F.explode(F.expr(
            "transform(sequence(1, length(word) - 1), "
            "i -> substring(word, i, 2))")).alias("pair"),
        "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count")))
    wtop = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (pairs.withColumn("rank", F.row_number().over(wtop))
            .filter(F.col("rank") <= BPE_TOP_K)
            .select("pair", "pair_count", F.col("rank").cast("int")))


_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MAX_SYMBOL = 0.1
_GOPHER_MIN_ALPHA = 0.8
_GOPHER_MIN_STOP = 2


@register(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS words
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(words) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w)))
                  AS BIGINT) AS char_sum,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             len(list_filter(words,
                 w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             len(list_filter({list(STOPWORDS)!r},
                 s -> list_contains(words, s))) AS stop_hits
      FROM t
    )
    SELECT doc_id, n_words,
           ROUND(char_sum / n_words, 9) AS mean_word_len,
           ROUND(n_hash / n_words, 9) AS symbol_ratio,
           ROUND(n_alpha / n_words, 9) AS alpha_ratio,
           CAST(stop_hits AS INTEGER) AS stop_hits,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND char_sum / n_words BETWEEN {_GOPHER_MIN_MWL}
                                       AND {_GOPHER_MAX_MWL}
            AND n_hash / n_words < {_GOPHER_MAX_SYMBOL}
            AND n_alpha / n_words > {_GOPHER_MIN_ALPHA}
            AND stop_hits >= {_GOPHER_MIN_STOP}) AS passes_gopher
    FROM m
    """,
    tags=("text", "llm-data", "quality"),
)
def text_gopher_quality_rules(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery (the Rae et al. 2021
    heuristics re-expressed over the driver corpus): per document,
    the five signals — word count, mean word length, symbol ratio
    ('#' characters per word), alphabetic-word ratio, distinct
    stopword hits — and the conjunction verdict ``passes_gopher``.
    Emitting the signals alongside the verdict is deliberate: a
    curation pipeline tunes thresholds from the signal distribution,
    then applies the verdict column as its filter.

    All five signals are integer counts or integer-ratio doubles
    rounded at the engine boundary (9 dp), so the whole battery is
    exactly value-checked cross-engine. Everything is JVM-side HOF
    arithmetic over the one tokenization every text query shares
    (split on single space) — no shuffle, no Python, scales as a
    pure map stage.
    """
    docs = fanout(load(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    char_sum = F.aggregate(
        F.transform(words, F.length),
        F.lit(0).cast("long"), lambda a, x: a + x)
    n_hash = (F.length("text")
              - F.length(F.regexp_replace("text", "#", ""))).cast("long")
    n_alpha = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in STOPWORDS]),
        lambda s: F.array_contains(words, s)))
    mwl = char_sum / n_words
    sym = n_hash / n_words
    alpha = n_alpha / n_words
    passes = (n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
              & mwl.between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
              & (sym < _GOPHER_MAX_SYMBOL)
              & (alpha > _GOPHER_MIN_ALPHA)
              & (stop_hits >= _GOPHER_MIN_STOP))
    return docs.select(
        "doc_id", n_words.alias("n_words"),
        F.round(mwl, 9).alias("mean_word_len"),
        F.round(sym, 9).alias("symbol_ratio"),
        F.round(alpha, 9).alias("alpha_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
        passes.alias("passes_gopher"))
