"""The ORD pipeline stages on a generated corpus, checked against the
generator's truth, plus the guards on how the stages are built.

Runs on any host: the corpus comes from ``ordbench.corpus`` (seeded,
no reference files needed).
"""

from __future__ import annotations

import base64
import json
import os

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from open_reaction_database_web_scraper_spark.sources import ord as ord_src
from open_reaction_database_web_scraper_spark.sources.ord_datasource import (
    OrdSinkDataSource,
)
from ordbench import corpus


@pytest.fixture(scope="module")
def ord_corpus(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ord_corpus"))
    truth = corpus.generate(root, 11, 300)
    return truth, os.path.join(root, "store", "*.json"), \
        os.path.join(root, "raw", "*.jsonl")


def _scraped(spark, raw):
    return spark.read.schema("data string, success boolean").json(raw)


@pytest.mark.parametrize("call", [1, 2])
def test_stages_match_corpus_truth(spark, ord_corpus, call):
    """Every stage reproduces the generator's counts, on the first
    build of its trees and on the reused ones."""
    t, store, raw = ord_corpus
    fmt = ord_src.format_reactions(_scraped(spark, raw))
    assert fmt.filter(F.col("reaction_id").isNotNull()).count() == t.raw_ok
    docs = ord_src.read_ord_documents(spark, store)
    assert tuple(docs.agg(F.countDistinct("dataset_id"),
                          F.count("reaction_id")).first()) == \
        (t.datasets, t.reactions)
    assert ord_src.components_flat(docs).count() == t.component_rows
    assert ord_src.outcomes_flat(docs).count() == t.outcome_rows
    roll = ord_src.dataset_rollup(docs).agg(
        F.count("*"), F.sum("total_reactions"),
        F.sum("successful_scrapes")).first()
    assert tuple(roll) == (t.datasets, t.reactions, t.successful)
    assert ord_src.renest_documents(docs).count() == t.datasets


def _jvm_calls(spark, build) -> int:
    """Commands ``build()`` sends to the JVM, not counting the
    deletes of garbage-collected Python handles."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\nd\n"):
            n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return n


def test_second_build_reuses_trees(spark, ord_corpus):
    """A later call reuses the stage's trees instead of rebuilding them
    node by node (a rebuilt formatter is ~2,200 JVM calls, a rebuilt
    document reader ~340)."""
    _, store, raw = ord_corpus
    scraped = _scraped(spark, raw)
    ord_src.format_reactions(scraped)
    ord_src.read_ord_documents(spark, store)
    assert _jvm_calls(spark, lambda: ord_src.format_reactions(scraped)) <= 40
    assert _jvm_calls(
        spark, lambda: ord_src.read_ord_documents(spark, store)) <= 40


def test_once_per_jvm_rebuilds_under_a_new_jvm(monkeypatch):
    builds = []

    @ord_src.once_per_jvm
    def build(key):
        builds.append(key)
        return (key,)

    monkeypatch.setattr(SparkContext, "_jvm", object())
    assert build("a") is build("a")
    build("b")
    assert builds == ["a", "b"]
    monkeypatch.setattr(SparkContext, "_jvm", object())
    build("a")
    assert builds == ["a", "b", "a"]


def test_ord_sink_keeps_nested_field_names(spark, tmp_path):
    """Nested structs, arrays of structs and maps of structs are
    written as JSON objects with their field names."""
    spark.dataSource.register(OrdSinkDataSource)
    schema = ("id long, s struct<a: int, b: struct<c: string>>, "
              "arr array<struct<x: int>>, m map<string, struct<y: double>>")
    df = spark.createDataFrame(
        [(1, (2, ("z",)), [(3,), (4,)], {"k": (0.5,)})], schema)
    out = str(tmp_path / "sink")
    df.coalesce(1).write.format("ord_sink").option("path", out) \
        .mode("overwrite").save()
    with open(os.path.join(out, "_MANIFEST.json"), encoding="utf-8") as f:
        (shard,) = json.load(f)["shards"]
    with open(os.path.join(out, shard), encoding="utf-8") as f:
        (line,) = f.read().splitlines()
    assert json.loads(line) == {
        "id": 1, "s": {"a": 2, "b": {"c": "z"}},
        "arr": [{"x": 3}, {"x": 4}], "m": {"k": {"y": 0.5}}}


def _sink_lines(df, out: str) -> list[str]:
    df.write.format("ord_sink").option("path", out) \
        .mode("overwrite").save()
    with open(os.path.join(out, "_MANIFEST.json"), encoding="utf-8") as f:
        shards = json.load(f)["shards"]
    lines = []
    for shard in shards:
        with open(os.path.join(out, shard), encoding="utf-8") as f:
            lines += f.read().splitlines()
    return sorted(lines)


def _row_default(v):
    """The per-row writer's ``default=str``, but binary as base64."""
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    return str(v)


def test_ord_sink_lines_match_row_encoding(spark, ord_corpus, tmp_path):
    """Each shard line is ``json.dumps(row.asDict(recursive=True),
    sort_keys=True, default=str)``, the encoding of the per-row
    writer, here computed on the driver over the collected rows;
    binary is base64, as Spark's JSON writer renders it, so Spark's
    JSON reader decodes it back."""
    import datetime
    import decimal

    spark.dataSource.register(OrdSinkDataSource)
    schema = ("id long, ts timestamp, d date, dec decimal(10,3), "
              "bin binary, n string, f double, em map<string, int>, "
              "ms map<string, struct<y: double, t: timestamp>>, "
              "arr array<struct<x: int, b: boolean>>, "
              "aa array<array<long>>, mb map<int, boolean>")
    rows = [
        (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
         datetime.date(2024, 2, 29), decimal.Decimal("1.250"), b"\x00ab",
         None, float("nan"), {}, {"k": (0.5, datetime.datetime(2020, 1, 1))},
         [(3, None), None], [[2**62, None], None, []], {7: None}),
        (2, None, None, None, None, "s\u00e9", None, None, {"k": None},
         [], None, {1: True, 2: False}),
        (3, None, None, None, None, None, -0.0, {"z": None}, None,
         [(None, True)], [[1], [2, 3]], None)]
    # one row per task: a batch whose nested arrays are all empty or
    # null arrives with no offsets buffer for them
    tricky = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)), schema)
    _, store, _ = ord_corpus
    docs = ord_src.renest_documents(ord_src.read_ord_documents(spark, store))
    for name, df in [("tricky", tricky), ("docs", docs)]:
        expected = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True,
                       default=_row_default)
            for r in df.collect())
        assert _sink_lines(df, str(tmp_path / name)) == expected
    assert tricky.select(F.to_json(F.struct("bin"))).first()[0] \
        == '{"bin":"AGFi"}'
    back = spark.read.schema("id long, bin binary").json(
        str(tmp_path / "tricky" / "part-*"))
    assert {r.id: r.bin for r in back.collect()} == {
        1: b"\x00ab", 2: None, 3: None}
