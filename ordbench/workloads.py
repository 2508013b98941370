"""The benchmark workloads.

Each workload is a closed loop with one client: the runner calls
``op`` again only after the previous call returned. ``op`` does one
fixed unit of work through the program's public functions; the
checks run outside the timed section.

* ``ord_etl``   one pass of the paper's pipeline over a generated
                ORD corpus per round (unit: reactions).
* ``query_mix`` one registered query per op: batch queries into a
                noop sink, and one drain of the stateful stream
                ``stream_ewma_stateful``; a round is one pass over the
                mix (unit: query executions).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_reaction_database_web_scraper_spark import testing
from open_reaction_database_web_scraper_spark.registry import REGISTRY
from open_reaction_database_web_scraper_spark.sources import ord as ordsrc
from open_reaction_database_web_scraper_spark.sources.ord_datasource import (
    OrdSinkDataSource,
)
from open_reaction_database_web_scraper_spark.streaming.jobs import (
    ewma_stateful_updates,
)

from . import corpus
from .trace import BatchListener, Mark, Spans, median, spark_since

# Scale factors of the fixed test tables (TESTDATA.md; read-only). The
# stateful stream's per-micro-batch fixed cost (~6 s on 4 cores) is the
# same at every scale factor, so its drain is one micro-batch of the
# sf0.01 events.
MIX_SF, STREAM_SF = "0.1", "0.01"
ORD_REACTIONS = 1000
MIX = ["agg_multi", "win_topk_per_group", "sql_tpch_q18"]
STREAM_QUERY = "stream_ewma_stateful"
EVENTS_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                 "event_type string, value double, props string")


@dataclass
class Out:
    """What one operation did."""
    kind: str
    ok: bool = True                       # the op's own output check
    # durations of the Spark batches the op ran: micro-batches of a
    # stream, or the whole pass for ord_etl
    batches: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def testdata_dirs() -> dict[str, str]:
    """Scale factor → directory of the fixed test tables, read from
    the table in TESTDATA.md at the repository root."""
    with open("TESTDATA.md", encoding="utf-8") as f:
        rows = re.findall(r"^\| ([0-9.]+) \| `([^`]+)` \|", f.read(), re.M)
    return {sf: d.rstrip("/") for sf, d in rows}


def _replay_dir(events_dir: str, out: str) -> str:
    """The stream's input: the sf0.01 events in (ts, event_id) order in
    one parquet file, so a drain is one micro-batch. ``ts`` is floored
    from ns to µs, as ``catalog.load`` and the oracle do."""
    ev = pq.read_table(os.path.join(events_dir, "events.parquet"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       pc.floor_temporal(ev["ts"], unit="microsecond")
                       .cast(pa.timestamp("us")))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    os.makedirs(out)
    pq.write_table(ev, os.path.join(out, "events.parquet"))
    return out


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """What the runner drives. A round calls ``op`` once per kind, in
    ``kinds`` order; ``op`` is the timed section and every other hook
    runs outside it. A run is at least ``min_rounds`` rounds, so each
    kind's median has that many samples."""

    name = ""
    kinds: list[str] = []
    units = 0            # items one round processes (items_per_s)
    # an op's duration varies ~10% from one round to the next, so a run
    # takes the median of three; each further round adds ~10 s to a run
    min_rounds = 3

    def op(self, kind: str, spans: Spans, traced: bool) -> Out:
        raise NotImplementedError

    def check_op(self, out: Out) -> bool:
        """Check one op's output (and attach what listeners reported)."""
        return True

    def check_run(self) -> dict[str, bool]:
        """Each kind's verdict, read after the timed rounds."""
        raise NotImplementedError

    def between(self) -> None:
        """Drop what one op left behind before the next starts."""

    def warm(self) -> None:
        raise NotImplementedError

    def run_layers(self) -> dict[str, float]:
        """Per-layer figures measured once per run, not per op."""
        return {}


class OrdEtl(Workload):
    """Raw scrape records → ``format_reactions``, and golden store →
    ``read_ord_documents`` → silver tables and rollup →
    ``renest_documents`` → ``ord_sink`` write → read-back."""

    name = "ord_etl"
    kinds = ["pass"]

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 trace: bool):
        self.spark = spark
        root = os.path.join(work, "corpus")
        self.truth = corpus.generate(root, seed, ORD_REACTIONS)
        self.store = os.path.join(root, "store", "*.json")
        self.raw = os.path.join(root, "raw", "*.jsonl")
        self.sink = os.path.join(work, "sink")
        self.units = self.truth.raw_records + self.truth.generated
        self.format_ok_share = 0.0
        spark.dataSource.register(OrdSinkDataSource)

    def _docs(self) -> DataFrame:
        return ordsrc.read_ord_documents(self.spark, self.store)

    def _formatted(self) -> DataFrame:
        raw = self.spark.read.schema("data string, success boolean") \
            .json(self.raw)
        return ordsrc.format_reactions(raw)

    def op(self, kind: str, spans: Spans, traced: bool) -> Out:
        spark, t = self.spark, self.truth
        start = time.perf_counter()
        with spans.span("ord.format_s"):
            _noop(self._formatted())
        mark = Mark(spark) if traced else None
        with spans.span("ord.ingest_s"):
            _noop(self._docs())
        ingest_tasks = spark_since(spark, mark)["sched.tasks"] \
            if traced else 0
        with spans.span("ord.silver_s"):
            _noop(ordsrc.components_flat(self._docs()))
            _noop(ordsrc.outcomes_flat(self._docs()))
        with spans.span("ord.rollup_s"):
            roll = ordsrc.dataset_rollup(self._docs()).agg(
                F.count("*"), F.sum("total_reactions"),
                F.sum("successful_scrapes")).collect()[0]
        with spans.span("ord.renest_s"):
            _noop(ordsrc.renest_documents(self._docs()))
        with spans.span("ord_sink.write_s"):
            (ordsrc.renest_documents(self._docs()).write.format("ord_sink")
             .mode("overwrite").option("path", self.sink).save())
        with spans.span("ord_sink.readback_s"):
            back = spark.read.text(os.path.join(self.sink, "part-*.jsonl")) \
                .count()
        with open(os.path.join(self.sink, "_MANIFEST.json"),
                  encoding="utf-8") as f:
            manifest = json.load(f)
        pass_s = time.perf_counter() - start
        ok = (tuple(roll) == (t.datasets, t.reactions, t.successful)
              and manifest["total_rows"] == t.datasets == back)
        return Out("pass", ok, batches=[pass_s],
                   layers={"ord.ingest_tasks": ingest_tasks,
                           "ord_sink.rows": manifest["total_rows"],
                           "ord_sink.shards": len(manifest["shards"])})

    def check_run(self) -> dict[str, bool]:
        t = self.truth
        fmt_ok = self._formatted().filter(
            F.col("reaction_id").isNotNull()).count()
        self.format_ok_share = fmt_ok / t.raw_records
        docs = self._docs()
        counts = docs.agg(F.countDistinct("dataset_id"),
                          F.count("reaction_id")).collect()[0]
        ok = (fmt_ok == t.raw_ok
              and tuple(counts) == (t.datasets, t.reactions)
              and ordsrc.components_flat(docs).count() == t.component_rows
              and ordsrc.outcomes_flat(docs).count() == t.outcome_rows)
        return {"pass": ok}

    def between(self) -> None:
        shutil.rmtree(self.sink, ignore_errors=True)
        self.spark.catalog.clearCache()

    def warm(self) -> None:
        self.op("pass", Spans(), traced=False)

    def run_layers(self) -> dict[str, float]:
        return {"ord.format_ok_share": self.format_ok_share}


class QueryMix(Workload):
    """Registered batch queries at sf0.1 through their registry ``fn``
    into a noop sink, and one drain of ``stream_ewma_stateful``'s
    stateful transform (``ewma_stateful_updates``: per-user state via
    ``applyInPandasWithState``) over the sf0.01 events replayed as one
    micro-batch into a memory sink. The tables are fixed, so the seed
    does not change this workload's inputs."""

    name = "query_mix"

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 trace: bool):
        self.spark = spark
        self.work = work
        self.kinds = MIX + [STREAM_QUERY]
        self.units = len(self.kinds)
        self.listener = BatchListener(detail=trace)
        spark.streams.addListener(self.listener)
        self.streams = 0  # streaming queries started in this session
        dirs = testdata_dirs()
        self.sf_dir, self.stream_sf_dir = dirs[MIX_SF], dirs[STREAM_SF]
        self.replay = _replay_dir(self.stream_sf_dir,
                                  os.path.join(work, "replay"))
        self.sink_name = ""
        self.first_batch = 0  # listener index of the drain's first batch
        self.checks: dict[str, bool] = {}

    def op(self, kind: str, spans: Spans, traced: bool) -> Out:
        if kind != STREAM_QUERY:
            with spans.span(f"mix.{kind}_s"):
                _noop(REGISTRY[kind].fn(self.spark, self.sf_dir))
            return Out(kind)
        self.first_batch = len(self.listener.batches)
        self.streams += 1
        self.sink_name = f"ewma_{self.streams}"
        with spans.span("stream.drain_s"):
            stream = self.spark.readStream.schema(EVENTS_SCHEMA) \
                .option("maxFilesPerTrigger", 1).parquet(self.replay) \
                .filter(F.col("value").isNotNull())
            (ewma_stateful_updates(stream).writeStream.format("memory")
             .queryName(self.sink_name).outputMode("append")
             .trigger(availableNow=True).start().awaitTermination())
        return Out(kind)

    def check_op(self, out: Out) -> bool:
        """A drain: attach its micro-batch progress to ``out`` once the
        listener bus delivered it, and compare the sink with the
        oracle. Batch queries are checked once, in ``check_run``."""
        if out.kind != STREAM_QUERY:
            return True
        self.listener.wait_terminated(self.streams)
        bs = self.listener.batches[self.first_batch:]
        out.batches = [b["trigger_s"] for b in bs]
        if self.listener.detail:
            out.layers.update({
                "stream.batches": len(bs),
                "stream.events": sum(b["rows"] for b in bs),
                "stream.batch_s": median(out.batches),
                "stream.add_batch_s": median([b["add_batch_s"] for b in bs]),
                "state.commit_s": median([b["commit_s"] for b in bs]),
                "state.rows_total": max((b["rows_total"] for b in bs),
                                        default=0),
                "state.memory_bytes": max((b["memory_bytes"] for b in bs),
                                          default=0)})
        return testing.compare_full(self.spark.table(self.sink_name),
                                    REGISTRY[out.kind].oracle,
                                    self.stream_sf_dir, out.kind).ok

    def check_run(self) -> dict[str, bool]:
        """The batch queries were checked in ``warm`` (their timed runs
        write to a noop sink); each drain was checked in ``check_op``."""
        return {**self.checks, STREAM_QUERY: True}

    def between(self) -> None:
        # the drain's memory sink is this benchmark's own view (not one
        # streaming.jobs registered), so it is dropped here by name
        if self.sink_name:
            self.spark.catalog.dropTempView(self.sink_name)
            self.sink_name = ""
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)
        self.spark.catalog.clearCache()

    def warm(self) -> None:
        """One untimed round: each batch query checked against its
        oracle, then one drain of the replay. Loads and compiles the
        code paths and starts the Python workers and the state store."""
        for q in MIX:
            try:
                self.checks[q] = testing.compare_full(
                    REGISTRY[q].fn(self.spark, self.sf_dir),
                    REGISTRY[q].oracle, self.sf_dir, q).ok
            except Exception:  # a check that cannot run fails the query
                self.checks[q] = False
        self.op(STREAM_QUERY, Spans(), traced=False)
        self.listener.wait_terminated(self.streams)
        self.between()


WORKLOADS = {w.name: w for w in (OrdEtl, QueryMix)}

