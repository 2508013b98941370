"""Grow scale corpora from a base scale-factor directory, and time
registered queries on them.

    python scripts/scale_corpus.py build {sf1,sf10,sf10_docs} [out]
    python scripts/scale_corpus.py probe [op ...] [sf_dir]

``build`` writes one preset corpus (``PRESETS``) from the sf0.1 test
data (``BASE``). It runs on pyarrow alone, with no Spark session, so it
can run next to a probe. ``probe`` grows the corpus each selected
``PROBES`` row names, one per (growth models, scale), times every op of
the row on it, and prints one JSON line per cell. With no op named it
runs every row; with no directory it grows from ``BASE``.

A corpus is grown per table: ``grow`` writes ``copies`` copies of the
base table, one parquet row group per piece, each shaped by the table's
growth model (``MODELS``). Every model starts from the same key shift:
copy ``c`` adds ``c * (max(key) + 1)`` to each key column in ``PLAN``,
so keys stay unique. A foreign key shifts with the table that owns it
when that table grows too, so every FK still resolves; when the owner
stays 1x, the FK stays 1x as well, and the grown facts land on the same
dimension rows. Copy 0 of every model except ``skew`` is the base
table itself.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_reaction_database_web_scraper_spark.catalog import TABLES  # noqa: E402

BASE = "/root/testdata/sf0.1"
# Wall budget of one timed run of a probe cell; a run that passes it is
# cancelled and recorded as a DNF cell instead of stalling the session.
BUDGET_S = 900.0

# key column -> the table whose max(key) + 1 is the per-copy stride
OWNER = {"c_custkey": "customer", "s_suppkey": "supplier",
         "p_partkey": "part", "o_orderkey": "orders",
         "event_id": "events", "user_id": "events",
         "doc_id": "documents", "vec_id": "embeddings"}
# table -> (column, owner key) pairs the key shift moves
PLAN = {
    "customer": (("c_custkey", "c_custkey"),),
    "supplier": (("s_suppkey", "s_suppkey"),),
    "part": (("p_partkey", "p_partkey"),),
    "orders": (("o_orderkey", "o_orderkey"), ("o_custkey", "c_custkey")),
    "lineitem": (("l_orderkey", "o_orderkey"), ("l_partkey", "p_partkey"),
                 ("l_suppkey", "s_suppkey")),
    "events": (("event_id", "event_id"), ("user_id", "user_id")),
    "documents": (("doc_id", "doc_id"),),
    "embeddings": (("vec_id", "vec_id"),),
}

BOILERPLATE = ("breaking news subscribe to our newsletter all rights "
               "reserved terms of service privacy policy contact us")
HOT_USER = 777
N_QUERIES = 8  # embeddings rows with vec_id < 8 are the ANN query set


def _set(tb: pa.Table, col: str, values) -> pa.Table:
    field = tb.schema.field(col)
    return tb.set_column(tb.schema.get_field_index(col), field,
                         pc.cast(values, field.type))


def _shift(tb: pa.Table, c: int, keys) -> pa.Table:
    for col, span in keys:
        tb = _set(tb, col, pc.add(tb[col], c * span))
    return tb


def _names(tb, t, c):
    """Length-distinct ``X``*c suffix on customer names: verbatim
    copies would make every name a distance-0 family whose pair count
    grows with the square of the copies."""
    return _set(t, "c_name", pc.binary_join_element_wise(
        t["c_name"].cast(pa.string()), "X" * c, ""))


def _salt(tb, t, c):
    """One per-copy salt token between every two words: no 3-word
    shingle crosses copies, near-dup structure repeats per copy.
    ``n_chars`` keeps the base value."""
    return _set(t, "text", pc.replace_substring(t["text"], " ", f" s{c} "))


def _suffix(tb, t, c):
    """Every token ``w`` becomes ``w_c<copy>``: a bijection, so each
    copy's shingle graph is the base graph exactly (the model for
    fixpoint ops, whose round count follows the graph's diameter)."""
    tag = f"_c{c}"
    return _set(t, "text", pc.binary_join_element_wise(
        pc.replace_substring(t["text"], " ", tag + " "), tag, ""))


def _doc_salt(tb, t, c):
    """Salt ``s<copy>d<doc_id % 97>x<pos>`` after every word but the
    last, then ``n_chars`` recomputed. The salt varies per document, so
    it does not dominate token-frequency-weighted signatures the way a
    single per-copy token does."""
    toks = pc.split_pattern(t["text"], " ").combine_chunks()
    words = toks.flatten()
    parent = pc.list_parent_indices(toks).to_numpy()
    offsets = toks.offsets.to_numpy()
    pos = np.arange(len(words)) - (offsets[parent] - offsets[0])
    last = pos == pc.list_value_length(toks).to_numpy()[parent] - 1
    doc = (t["doc_id"].to_numpy() % 97)[parent]
    salted = pc.binary_join_element_wise(
        words, f" s{c}d", pa.array(doc).cast(pa.string()), "x",
        pa.array(pos).cast(pa.string()), "")
    text = pc.binary_join(pa.ListArray.from_arrays(
        pa.array(offsets - offsets[0], pa.int32()),
        pc.if_else(pa.array(last), words, salted)), " ")
    return _set(_set(t, "text", text), "n_chars",
                pc.utf8_length(text).cast(pa.int64()))


def _isotropic(tb, t, c):
    """Fresh uniform directions from a per-copy seed, labels kept: no
    planted near-duplicate pairs across copies."""
    dim = len(tb["embedding"][0])
    vecs = np.random.default_rng(1_000_003 * c).uniform(
        -0.5, 0.5, (t.num_rows, dim)).astype(np.float32)
    return _set(t, "embedding", _lists(vecs))


def _jitter(tb, t, c):
    """Every coordinate moved by ``((c*31 + i) % 7 - 3) / 1000``; the
    query rows stay 1x (a fixed probe set against a growing corpus)."""
    t = t.filter(pc.greater_equal(tb["vec_id"], N_QUERIES))
    dim = len(tb["embedding"][0])
    vecs = (t["embedding"].combine_chunks().flatten().to_numpy()
            .reshape(-1, dim))
    delta = ((c * 31 + np.arange(dim)) % 7 - 3) / 1000
    return _set(t, "embedding", _lists((vecs + delta).astype(np.float32)))


def _lists(vecs: np.ndarray) -> pa.ListArray:
    n, dim = vecs.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.ravel()))


def _per_copy(fn=None):
    """A model that key-shifts every copy and reshapes copies > 0
    with ``fn(base, shifted, copy)``."""
    def model(tb, copies, keys):
        for c in range(copies):
            t = _shift(tb, c, keys)
            yield fn(tb, t, c) if fn and c else t
    return model


def _skew(tb, copies, keys):
    """Key shift, then 90% of all rows (``event_id % 10 < 9``) moved
    to one user: the hot key that serializes a keyed-state stream."""
    for c in range(copies):
        t = _shift(tb, c, keys)
        hot = t["event_id"].to_numpy() % 10 < 9
        yield _set(t, "user_id", pa.array(
            np.where(hot, HOT_USER, tb["user_id"].to_numpy())))


def _hot(tb, k, keys):
    """The base documents plus ``k`` identical boilerplate documents
    (the scale is the cluster size ``k``, not a copy count)."""
    yield tb
    (_, span), = keys
    cols = {"doc_id": pa.array(np.arange(span, span + k)),
            "text": pa.repeat(BOILERPLATE, k),
            "n_chars": pa.repeat(len(BOILERPLATE), k)}
    yield pa.table([cols[f.name].cast(f.type) if f.name in cols
                    else pa.nulls(k, f.type) for f in tb.schema],
                   schema=tb.schema)


MODELS = {
    "shift": _per_copy(),
    "names": _per_copy(_names),
    "salt": _per_copy(_salt),
    "suffix": _per_copy(_suffix),
    "doc_salt": _per_copy(_doc_salt),
    "iso": _per_copy(_isotropic),
    "jitter": _per_copy(_jitter),
    "skew": _skew,
    "hot": _hot,
}

_KEYS = {"region": "once", "nation": "once",
         **dict.fromkeys(("customer", "supplier", "part", "orders",
                          "lineitem", "events"), "shift")}
# preset -> (default out, copies, table -> model)
PRESETS = {
    # the sf1 sweep: similarity structure stays 1x-like per copy
    "sf1": ("/tmp/ordspark_sf1", 10,
            {**_KEYS, "customer": "names", "documents": "doc_salt",
             "embeddings": "iso"}),
    # decimal/window gate: verbatim documents scale token counts exactly
    # x copies; no query of the gate reads embeddings
    "sf10": ("/tmp/ordspark_sf10", 100, {**_KEYS, "documents": "shift"}),
    "sf10_docs": ("/tmp/ordspark_sf10docs", 100, {"documents": "doc_salt"}),
}

_SALT = {"documents": "salt"}
_JITTER = {"embeddings": "jitter"}
_SKEW = {"events": "skew"}
_FACTS = dict.fromkeys(("lineitem", "orders", "part", "supplier"), "shift")
# (ops, table -> model, scales). A table no model names is copied 1x.
PROBES = (
    (("text_pii_redact", "text_decontaminate_ngram", "dedup_subdoc_blocks",
      "dedup_minhash_lsh", "pipeline_training_data", "sample_stratified",
      "pipeline_corpus_curation", "text_vocab_topk", "text_entropy_quality",
      "sink_compact_small_files", "text_boilerplate_strip",
      "split_train_test", "corpus_mix_report", "export_jsonl_sharded",
      "quality_gate_reasons", "sample_weighted_bernoulli"),
     {"documents": "shift"}, (1, 10)),
    (("dedup_fuzzy_levenshtein",), {"customer": "names"}, (1, 10)),
    (("win_fill_forward", "agg_bitmap_distinct", "win_sessionize_gaps",
      "event_funnel", "retention_cohorts", "join_asof_forward",
      "assoc_pair_lift", "ts_resample_interpolate", "agg_time_bucket_multi",
      "win_streak_longest", "anomaly_zscore", "cdc_apply_changelog",
      "join_interval_overlap", "event_markov_transitions"),
     {"events": "shift"}, (1, 10)),
    (("agg_min_max_by", "merge_upsert_scd2", "agg_incremental_merge",
      "scan_observed_metrics"), {"orders": "shift"}, (1, 10)),
    (("num_histogram_fixed",), {"lineitem": "shift"}, (1, 10)),
    (("join_bloom_prefilter",), {"lineitem": "shift", "orders": "shift"},
     (1, 10)),
    (("sql_tpch_q18",), dict.fromkeys(("lineitem", "orders", "customer"),
                                      "shift"), (1, 10)),
    (("skyline_pareto",), {"part": "shift"}, (1, 10)),
    (("vector_centroid_agg", "embedding_quantize_int8", "dedup_semdedup"),
     {"embeddings": "shift"}, (1, 10)),
    (("vector_knn_join",), {"embeddings": "iso"}, (1, 10)),
    (("graph_pagerank",), _FACTS, (1, 10)),
    (("agg_multi", "join_shuffle_equi", "graph_triangle_count",
      "graph_bfs_levels", "graph_degree_topk"), _FACTS, (1, 10, 100)),
    (("join_groupwise_max", "join_anti", "sql_tpch_q7", "multimodal_columns",
      "multimodal_resize_stub", "multimodal_frame_sample",
      "multimodal_phash_dedup"),
     {**dict.fromkeys(("lineitem", "orders", "customer"), "shift"), **_SALT},
     (1, 10)),
    (("dedup_minhash_lsh", "text_boilerplate_strip", "dedup_subdoc_blocks",
      "text_bpe_pair_merge", "text_ngram_novelty", "dedup_simhash",
      "text_fingerprint"), _SALT, (1, 10, 100)),
    (("vector_ann_lsh", "dedup_embed_cosine", "vector_ann_ivf",
      "vector_ann_pq", "sample_hard_negative_mine_ann",
      "embedding_binarize_hamming", "vector_matryoshka_truncate"),
     _JITTER, (1, 10, 100)),
    # all-pairs by spec: its 100x decade ran >75 min without finishing
    (("sample_hard_negative_mine",), _JITTER, (1, 10)),
    (("dedup_embed_cosine",), {"embeddings": "iso"}, (1, 10, 100)),
    # the sf1 corpus's embeddings (sf1 = 10 isotropic copies)
    (("sample_hard_negative_mine_ann", "sample_hard_negative_mine"),
     {"embeddings": "iso"}, (10,)),
    (("dedup_clusters", "dedup_clusters_neardup", "text_gopher_quality_rules",
      "curation_cluster_representative"), {"documents": "suffix"},
     (1, 10, 100)),
    # stops at 10x: at 100x the salt model densifies each copy's pair
    # graph past the 20-round CC budget (the model, not the engine)
    (("dedup_clusters", "dedup_clusters_neardup"), _SALT, (1, 10)),
    (("dedup_clusters_neardup",), {"documents": "hot"},
     (10_000, 100_000, 1_000_000)),
    (("stream_dedup_ttl", "stream_dedup_adaptive", "stream_dedup_salted"),
     {}, (1,)),
    (("stream_ewma_stateful",), _SKEW, (1, 4, 16, 64)),
    (("stream_dedup_ttl", "stream_dedup_salted"), _SKEW, (1, 4, 16)),
    (("stream_dedup_adaptive",), _SKEW, (16,)),
)


def _span(base: str, key: str) -> int:
    col = pq.read_table(f"{base}/{OWNER[key]}.parquet", columns=[key])[key]
    return pc.max(col).as_py() + 1


def grow(base: str, out: str, copies: int, models: dict) -> None:
    """Write each table ``models`` names under ``out``: ``copies``
    copies of it through its growth model, or, for ``"once"``, the
    base file as it is."""
    os.makedirs(out, exist_ok=True)
    grown = {t for t, m in models.items() if m != "once"}
    for t, m in models.items():
        src, dst = f"{base}/{t}.parquet", f"{out}/{t}.parquet"
        if m == "once":
            shutil.copyfile(src, dst)
            continue
        tb = pq.read_table(src)
        keys = [(col, _span(base, key)) for col, key in PLAN.get(t, ())
                if OWNER[key] in grown]
        rows = 0
        with pq.ParquetWriter(dst, tb.schema) as writer:
            for part in MODELS[m](tb, copies, keys):
                writer.write_table(part)
                rows += part.num_rows
        print(f"  {t}: {rows} rows ({m} x{copies})", flush=True)


def build_salted_docs(base: str, copies: int, out: str) -> None:
    """``documents`` x ``copies`` under the salt-interleave model, the
    densifying decade the LSH hot-bucket cap exists for."""
    grow(base, out, copies, {"documents": "salt"})


def build(preset: str, out: str | None = None) -> None:
    default, copies, models = PRESETS[preset]
    out = out or default
    grow(BASE, out, copies, models)
    print(f"{preset} ready at {out}", flush=True)


def time_cell(spark, run, budget_s: float = BUDGET_S):
    """Run ``run()`` once to warm (codegen, JIT, footer caches), clear
    caches, then time one more run. A timer cancels every Spark job of
    a run that passes ``budget_s``. Returns the seconds, ``DNF>Ns``, or
    the error; caches and drained memory sinks are dropped after the
    cell so a long probe session does not pile them up."""
    from open_reaction_database_web_scraper_spark.testing import (
        drop_drained_memory_sinks)

    fired = threading.Event()

    def kill(done):
        # keep cancelling: a job the run submits after the first cancel
        # would otherwise run unbounded
        fired.set()
        while not done.is_set():
            spark.sparkContext.cancelAllJobs()
            done.wait(0.5)

    try:
        for _ in ("warm", "timed"):
            done = threading.Event()
            timer = threading.Timer(budget_s, kill, (done,))
            timer.start()
            try:
                t0 = time.perf_counter()
                run()
                secs = time.perf_counter() - t0
            finally:
                done.set()
                timer.cancel()
            spark.catalog.clearCache()
        return round(secs, 2)
    except Exception as exc:  # one failed cell must not end the session
        if fired.is_set():
            return f"DNF>{budget_s:g}s"
        traceback.print_exc()
        return f"error: {type(exc).__name__}: {str(exc).splitlines()[0]}"
    finally:
        spark.catalog.clearCache()
        drop_drained_memory_sinks(spark)


def probe(ops: list[str], base: str = BASE) -> None:
    from open_reaction_database_web_scraper_spark.operators import dedup
    from open_reaction_database_web_scraper_spark.registry import (
        REGISTRY, load_all_operators)
    from open_reaction_database_web_scraper_spark.session import get_session
    from open_reaction_database_web_scraper_spark.streaming import jobs

    # per-call diagnostics an op may set, read through the module's
    # public name; each is thread-local, and cells run on this thread
    diags = {"LAST_CC_ROUNDS": (dedup, "cc_rounds"),
             "LAST_LSH_HOT_BUCKETS": (dedup, "lsh_hot_buckets"),
             "LAST_DEDUP_SALT_DECISION": (jobs, "dedup_salt_decision"),
             "LAST_TTL_EVICTIONS": (jobs, "ttl_evictions")}
    cells: dict[tuple, list[str]] = {}
    for row_ops, models, scales in PROBES:
        for scale in scales:
            key = (tuple(sorted(models.items())), scale)
            cells.setdefault(key, []).extend(
                op for op in row_ops if not ops or op in ops)
    load_all_operators()
    spark = get_session("scale_corpus")
    spark.sparkContext.setLogLevel("ERROR")
    for (models, scale), names in cells.items():
        if not names:
            continue
        with tempfile.TemporaryDirectory(prefix="ordspark_probe_") as d:
            grow(base, d, scale, {**dict.fromkeys(TABLES, "once"),
                                  **dict(models)})
            for name in names:
                for mod, attr in diags.values():
                    vars(mod._DIAG).pop(attr, None)
                secs = time_cell(spark, lambda: REGISTRY[name].fn(spark, d)
                                 .write.format("noop").mode("overwrite")
                                 .save())
                print(json.dumps({
                    "op": name, "scale": scale, "models": dict(models),
                    "s": secs, **{k: getattr(mod, k) for k, (mod, attr)
                                  in diags.items()
                                  if hasattr(mod._DIAG, attr)}}),
                      flush=True)


def main(argv: list[str]) -> None:
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    if cmd == "build" and args and args[0] in PRESETS and len(args) <= 2:
        build(*args)
    elif cmd == "probe":
        ops = [a for a in args if "/" not in a]
        known = {op for row in PROBES for op in row[0]}
        if set(ops) - known:
            sys.exit(f"unknown probe op(s) {sorted(set(ops) - known)}; "
                     f"known: {sorted(known)}")
        if "SPARK_GRAFT_SHUFFLE" in os.environ:
            sys.exit("probe times the default shuffle width; "
                     "unset SPARK_GRAFT_SHUFFLE")
        probe(ops, next((a for a in args if "/" in a), BASE))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
