"""Round-7 pins: portable (md5/universal) minhash & simhash parity
with their new DuckDB oracles, the content-addressed streaming
offsets (late arrivals discovered, replay stable under growth), and
the multi-commit sink semantics (append unions the manifest,
overwrite supersedes atomically, nothing is clobbered)."""

import glob
import json
import os
import shutil

import duckdb
import pytest

from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)
from open_reaction_database_web_scraper_spark.sources.ord_datasource import (
    OrdShardCommit,
    OrdSinkDataSource,
    OrdSinkWriter,
    OrdStreamReader,
)

load_all_operators()


# ---------------------------------------------------------------------------
# portable sketch hashes: Spark == DuckDB, value-exact


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "vector_ann_lsh"])
def test_portable_sketch_matches_duckdb(spark, sf_dir, name):
    """The round-7 portable hash/plane constants (md5-derived +
    (a·h+b) mod p; interpolated plane literals) must make the WHOLE
    approximate output engine-recomputable — rows, schema order, and
    every value."""
    spec = REGISTRY[name]
    assert spec.oracle, f"{name} lost its oracle"
    rows = sorted(tuple(r) for r in spec.fn(spark, sf_dir).collect())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    orc = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert rows == orc
    assert len(rows) > 0  # vacuity guard: planted dups / top-k present


def test_minhash_coeffs_are_fixed():
    """The universal-hash constants are part of the on-disk contract
    (the oracle SQL interpolates them); a drift here silently breaks
    every recorded signature. Pin the first/last of each."""
    from open_reaction_database_web_scraper_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_P, N_HASHES)
    assert len(MINHASH_A) == len(MINHASH_B) == N_HASHES
    assert all(1 <= a < (1 << 30) for a in MINHASH_A)
    assert all(0 <= b < MINHASH_P for b in MINHASH_B)
    # regression pin: regenerating with a different seed must fail here
    import hashlib
    digest = hashlib.md5(
        ",".join(map(str, MINHASH_A + MINHASH_B)).encode()).hexdigest()
    assert digest == "f02316e8a4497c444e0e4676e10267d5", digest


# ---------------------------------------------------------------------------
# streaming source: late arrivals + growth-stable replay


def _mk_capture(dirpath: str, name: str, dataset_id: str, n: int) -> None:
    doc = {dataset_id: {
        "dataset_id": dataset_id, "total_reactions_scraped": n,
        "reactions": [
            {"reaction_id": f"{dataset_id}-r{i}", "success": True,
             "inputsMap": {"a": 1}, "outcomes": [{}]}
            for i in range(n)],
    }}
    with open(os.path.join(dirpath, name), "w", encoding="utf-8") as f:
        json.dump(doc, f)


def test_ord_stream_discovers_late_arrivals(tmp_path):
    d = str(tmp_path / "arrivals")
    os.makedirs(d)
    _mk_capture(d, "cap-001.json", "ds1", 2)
    r = OrdStreamReader({"path": f"{d}/cap-*.json"})
    rows1, off1 = r.read(r.initialOffset())
    assert len(list(rows1)) == 2 and off1 == {"seen": ["cap-001.json"]}
    # a file that lands AFTER stream start must be picked up
    _mk_capture(d, "cap-002.json", "ds2", 3)
    rows2, off2 = r.read(off1)
    assert len(list(rows2)) == 3
    assert off2 == {"seen": ["cap-001.json", "cap-002.json"]}
    # round-8 fix: a late arrival sorting BELOW the frontier (a slow
    # writer finishing cap-000 after cap-002 was read) must still be
    # ingested — the round-7 watermark offset silently dropped it
    _mk_capture(d, "cap-000.json", "ds0", 4)
    rows3, off3 = r.read(off2)
    assert len(list(rows3)) == 4
    assert off3 == {"seen": ["cap-000.json", "cap-001.json",
                             "cap-002.json"]}
    # a committed range replays the same rows even though the corpus
    # grew after the range was committed (positional offsets would
    # have replayed different rows for cap-001's range)
    _mk_capture(d, "cap-003.json", "ds3", 1)
    replay = list(r.readBetweenOffsets({"seen": []}, off1))
    assert len(replay) == 2
    assert all(row[0] == "ds1" for row in replay)
    # the out-of-order batch replays exactly itself
    replay0 = list(r.readBetweenOffsets(off2, off3))
    assert len(replay0) == 4
    assert all(row[0] == "ds0" for row in replay0)
    # legacy round-7 watermark offsets (pre-upgrade checkpoints)
    # still convert: everything <= the watermark counts as seen
    legacy = list(r.readBetweenOffsets({"last_file": ""},
                                       {"last_file": "cap-000.json"}))
    assert len(legacy) == 4 and all(row[0] == "ds0" for row in legacy)


# ---------------------------------------------------------------------------
# sink: multi-commit semantics


def _write_sink(spark, out, values, mode):
    df = spark.createDataFrame([(i, f"v{i}") for i in values],
                               "id long, v string")
    (df.coalesce(2).write.format("ord_sink")
     .option("path", out).mode(mode).save())


def _manifest(out):
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        return json.load(f)


def test_ord_sink_commit_lock_serializes_and_cleans(tmp_path):
    """The manifest read-modify-write runs under an O_EXCL lock file
    (round-8 advice: two unlocked concurrent appends could both read
    the old manifest and the loser's shards would vanish from it):
    the lock is gone after a successful commit, stale locks are
    TAKEN OVER (round-9: dead owner → immediately, unknown owner →
    after the budget) instead of wedging the sink forever, and a
    LIVE holder that never yields still fails loudly."""
    import time
    out = str(tmp_path / "sink_lock")
    os.makedirs(out)
    w = OrdSinkWriter({"path": out}, overwrite=False)
    lock = os.path.join(out, "_MANIFEST.lock")

    def shard(name, payload):
        p = os.path.join(out, name)
        with open(p, "w", encoding="utf-8") as f:
            f.write(payload + "\n")
        return p

    w.commit([OrdShardCommit(shard("_tmp-a.jsonl", '{"x": 1}'), 1)])
    assert not os.path.exists(lock)  # released on success
    assert _manifest(out)["total_rows"] == 1

    # a peer SIGKILLed mid-critical-section: its PID is dead, so the
    # next commit takes the lock over immediately (round-8 advice:
    # this used to require a human to delete the file)
    with open(lock, "w", encoding="utf-8") as f:
        f.write(f"999999999 {time.time()}")  # PID that cannot exist
    w._LOCK_TIMEOUT_S = 30.0
    w.commit([OrdShardCommit(shard("_tmp-b.jsonl", '{"x": 2}'), 1)])
    assert _manifest(out)["total_rows"] == 2
    assert not os.path.exists(lock)

    # unknown-owner (empty) lock: trusted until it outlives the
    # budget, then taken over
    open(lock, "w").close()
    w._LOCK_TIMEOUT_S = 0.2
    time.sleep(0.25)
    w.commit([OrdShardCommit(shard("_tmp-c.jsonl", '{"x": 3}'), 1)])
    m = _manifest(out)
    assert m["total_rows"] == 3 and len(m["shards"]) == 3
    assert not os.path.exists(lock)

    # a LIVE owner (our own PID) whose lock never goes stale (mtime
    # pinned in the future) still fails loudly at the deadline —
    # takeover must not break a healthy holder's mutual exclusion
    with open(lock, "w", encoding="utf-8") as f:
        f.write(f"{os.getpid()} {time.time()}")
    future = time.time() + 3600
    os.utime(lock, (future, future))
    with pytest.raises(RuntimeError, match="could not acquire"):
        w.commit([OrdShardCommit(shard("_tmp-d.jsonl", '{"x": 4}'), 1)])
    assert _manifest(out)["total_rows"] == 3  # manifest intact
    os.remove(lock)


def test_ord_sink_append_unions_manifest(spark, tmp_path):
    out = str(tmp_path / "sink_append")
    shutil.rmtree(out, ignore_errors=True)
    _write_sink(spark, out, range(10), "append")
    first = _manifest(out)
    _write_sink(spark, out, range(10, 15), "append")
    second = _manifest(out)
    assert second["total_rows"] == 15
    assert set(first["shards"]) <= set(second["shards"])
    # no clobber: every first-commit shard file still exists intact
    n = sum(1 for s in second["shards"]
            for _ in open(os.path.join(out, s)))
    assert n == 15


def test_ord_sink_overwrite_supersedes_and_gcs(spark, tmp_path):
    out = str(tmp_path / "sink_ovw")
    _write_sink(spark, out, range(10), "append")
    first = _manifest(out)
    _write_sink(spark, out, range(7), "overwrite")
    second = _manifest(out)
    assert second["total_rows"] == 7
    assert not (set(first["shards"]) & set(second["shards"]))
    # superseded shards are gone; manifested ones are all present
    names = set(os.listdir(out))
    assert not (set(first["shards"]) & names)
    assert set(second["shards"]) <= names
    assert not [f for f in names if f.startswith("_tmp-")]


@pytest.fixture(scope="module", autouse=True)
def _register_sink(spark):
    spark.dataSource.register(OrdSinkDataSource)
    yield


# ---------------------------------------------------------------------------
# round-7 tranche: mixing / containment behavior pins


def test_reservoir_plans_take_ordered(spark, sf_dir):
    """ORDER BY priority LIMIT K must plan as TakeOrderedAndProject
    (per-shard top-K + driver merge) — never a global sort."""
    df = REGISTRY["sample_reservoir_hash"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort") <= plan.count("TakeOrderedAndProject")


def test_temperature_mix_flattens(spark, sf_dir):
    """T=2 flattening must downsample big sources harder: acceptance
    rate is (weakly) decreasing in source token mass, every rate is
    in (0, 1], and at least one source is genuinely downsampled."""
    rows = (REGISTRY["sample_temperature_mix"].fn(spark, sf_dir)
            .collect())
    by_tokens = sorted(rows, key=lambda r: r.tokens)
    rates = [r.rate for r in by_tokens]
    assert all(0 < r <= 1.0 for r in rates)
    assert all(a >= b - 1e-12 for a, b in zip(rates, rates[1:]))
    assert any(r.n_sampled < r.n_docs for r in rows)
    assert all(r.n_sampled <= r.n_docs for r in rows)


def test_budget_alloc_respects_clamps(spark, sf_dir):
    """Shares sum to ~1, every share respects the (renormalized)
    floor, and the summed allocation never exceeds the budget."""
    from open_reaction_database_web_scraper_spark.operators.curation import (
        BUDGET_TOKENS, SHARE_FLOOR)
    rows = (REGISTRY["corpus_token_budget_alloc"].fn(spark, sf_dir)
            .collect())
    total_share = sum(r.share for r in rows)
    assert abs(total_share - 1.0) < 1e-6
    # one-pass renormalization can shrink clamped shares by at most
    # the clamp-mass ratio; the floor can only shrink, never vanish
    assert min(r.share for r in rows) >= SHARE_FLOOR / 2
    assert sum(r.alloc_tokens for r in rows) <= BUDGET_TOKENS


def test_containment_detects_planted_quote(spark, tmp_path):
    """A short doc fully quoted inside its successor must score
    containment 1.0 forward; unrelated successors must not pass."""
    rows = [
        (0, "alpha beta gamma"),                     # quoted in 1
        (1, "alpha beta gamma plus lots of wrapper text here"),
        (2, "totally different words entirely now"),  # unrelated to 3
        (3, "another disjoint vocabulary set again"),
    ]
    d = str(tmp_path / "contain")
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {(r.doc_a, r.doc_b): r.containment
           for r in REGISTRY["text_containment_ngram"].fn(spark, d)
           .collect()}
    assert out.get((0, 1)) == 1.0
    assert (2, 3) not in out


# ---------------------------------------------------------------------------
# WAV codec (round-7 audio member of the decode family)


def test_wav_roundtrip_and_corruptions():
    """encode_wav -> decode_real recovers exact PCM byte-sum, sample
    count and rate; every corruption class maps to the sentinel (not
    an exception, not stub-fabricated geometry)."""
    import struct
    from open_reaction_database_web_scraper_spark.operators.multimodal \
        import CORRUPT_SENTINEL, decode, decode_real, encode_wav
    p = encode_wav(bytes(range(24)))
    assert decode_real(p, "wav") == (sum(range(24)), 24, 8000)
    assert decode_real(encode_wav(b"", sr=44100), "wav") == (0, 0, 44100)
    # corruption classes -> sentinel via the total dispatch
    assert decode(b"RIFX" + p[4:], "wav") == CORRUPT_SENTINEL   # magic
    assert decode(p[:-3], "wav") == CORRUPT_SENTINEL            # truncated
    bad = bytearray(p)
    struct.pack_into("<H", bad, 20, 3)                          # float PCM
    assert decode(bytes(bad), "wav") == CORRUPT_SENTINEL
    stereo = bytearray(p)
    struct.pack_into("<H", stereo, 22, 2)                       # 2 channels
    assert decode(bytes(stereo), "wav") == CORRUPT_SENTINEL
    nodata = p[:36]                                             # no data chunk
    assert decode(nodata, "wav") == CORRUPT_SENTINEL
    # odd-sized unknown chunk between fmt and data must be skipped
    # with its pad byte (RIFF chunks align to even offsets)
    extra = (p[:12] + p[12:36]  # fmt chunk
             + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
             + p[36:])
    assert decode_real(extra, "wav") == (sum(range(24)), 24, 8000)


def test_wav_query_matches_oracle(spark, sf_dir):
    import duckdb
    spec = REGISTRY["multimodal_decode_wav"]
    rows = sorted(tuple(r) for r in spec.fn(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    orc = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert rows == orc and len(rows) > 0
