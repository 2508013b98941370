"""Benchmark entry point.

    python3 ordbench/run.py --workload ord_etl --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. Builds one Spark session on
``local[nproc]``, sets up the workload (input generation and one
warm-up pass), runs rounds of operations in a closed loop for at
least ``--seconds`` and the workload's minimum number of rounds,
checks the outputs outside the timed section, and prints two JSON
lines: the run's context (host, samples; data, not metrics), then the
result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds and reports the per-layer vector of the
traced rounds plus the tracing overhead (traced minus untraced
``run_s``).
Everything the run writes lives under ``.bench_work/`` in the current
directory and is removed when it ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# The per-layer vector every traced run reports; a layer the
# workload does not exercise reads 0.
PER_LAYER = [
    "session.start_s", "trace.run_s", "trace.overhead_s",
    "ord.format_s", "ord.format_ok_share", "ord.ingest_s",
    "ord.ingest_tasks", "ord.silver_s", "ord.rollup_s", "ord.renest_s",
    "ord_sink.write_s", "ord_sink.readback_s", "ord_sink.rows",
    "ord_sink.shards",
    "mix.agg_multi_s", "mix.win_topk_per_group_s", "mix.sql_tpch_q18_s",
    "stream.drain_s", "stream.batches", "stream.events", "stream.batch_s",
    "stream.add_batch_s", "state.commit_s", "state.rows_total",
    "state.memory_bytes",
    "driver.idle_s", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.task_skew", "sched.max_attempt", "exec.run_s", "exec.cpu_s",
    "exec.noncpu_s", "jvm.gc_s", "exec.peak_memory_bytes",
    "shuffle.write_rows", "shuffle.write_bytes", "shuffle.write_s",
    "shuffle.fetch_wait_s", "spill.bytes",
]
MAXIMA = {"sched.max_attempt", "exec.peak_memory_bytes", "state.rows_total",
          "state.memory_bytes"}
PER_OP_MEDIAN = {"sched.task_skew", "stream.batches", "stream.events",
                 "stream.batch_s", "stream.add_batch_s", "state.commit_s",
                 "ord.ingest_tasks", "ord_sink.rows", "ord_sink.shards"}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Keep every file Spark and the program write inside ``work``
    and let Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def _session(work: str):
    from open_reaction_database_web_scraper_spark.session import get_session
    spark = get_session("ordbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then close the pipe the driver JVM watches
    (it exits when the pipe breaks) and wait for the JVM to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _aggregate(per_op: list[dict], rounds: int) -> dict[str, float]:
    """Per-layer vector of the traced ops: additive metrics per round
    (``rounds`` traced rounds), maxima as maxima, per-op figures as
    medians."""
    from ordbench.trace import median
    names = {k for d in per_op for k in d}
    out = {}
    for k in sorted(names):
        vals = [d[k] for d in per_op if k in d]
        if k in MAXIMA:
            out[k] = max(vals)
        elif k in PER_OP_MEDIAN:
            out[k] = median(vals)
        else:
            out[k] = sum(vals) / rounds
    return out


def _one_op(spark, wl, kind: str, traced: bool,
            traced_layers: list[dict]) -> dict:
    """Run one timed op, then (untimed) read its trace and check it. A
    failed op or check is counted, not fatal."""
    from ordbench.trace import Mark, Spans, spark_since
    wl.between()
    spans = Spans()
    mark = Mark(spark) if traced else None
    t = time.perf_counter()
    try:
        out = wl.op(kind, spans, traced)
        dt = time.perf_counter() - t
    except Exception:
        dt = time.perf_counter() - t
        return {"kind": kind, "s": dt, "traced": traced, "ok": False,
                "batches": [], "error": traceback.format_exc()}
    # the status store is read before the check runs its own jobs
    layers = {**spark_since(spark, mark), **spans.seconds} if traced else {}
    err = None
    try:
        ok = out.ok and wl.check_op(out)
    except Exception:
        ok, err = False, traceback.format_exc()
    if traced:
        traced_layers.append({**layers, **out.layers})
    return {"kind": kind, "s": dt, "traced": traced, "ok": ok,
            "batches": out.batches, "error": err}


def run(args, work: str) -> tuple[dict, dict]:
    from open_reaction_database_web_scraper_spark.registry import (
        load_all_operators,
    )
    from ordbench import workloads as W
    from ordbench.trace import median

    load_launch = os.getloadavg()[0]
    load_all_operators()
    t = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        wl = W.WORKLOADS[args.workload](spark, work, args.seed,
                                        bool(args.trace))
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        kinds = wl.kinds
        setup_s = time.perf_counter() - T0

        # traced runs alternate untraced and traced rounds, starting
        # untraced, so the overhead estimate is not biased by warming
        # over the run
        ops, traced_layers = [], []
        steal0, total0 = _cpu_ticks()
        start = time.perf_counter()
        rnd = 0
        while (rnd < wl.min_rounds
               or time.perf_counter() - start < args.seconds):
            traced = bool(args.trace) and rnd % 2 == 1
            for kind in kinds:
                ops.append(_one_op(spark, wl, kind, traced, traced_layers))
            rnd += 1
        timed_s = time.perf_counter() - start
        steal1, total1 = _cpu_ticks()
        wl.between()
        try:
            checks = wl.check_run()
        except Exception:  # a check that cannot run fails every op
            checks = {}
            traceback.print_exc()
    finally:
        _stop(spark)

    for op in ops:
        op["ok"] = op["ok"] and checks.get(op["kind"], False)
    plain = [op for op in ops if not op["traced"]]
    traced = [op for op in ops if op["traced"]]
    per_kind = {k: median([op["s"] for op in plain if op["kind"] == k])
                for k in kinds}
    run_s = sum(per_kind.values())
    batches = [b for op in plain for b in op["batches"]]
    metrics = {
        "run_s": (run_s, "s"),
        "items_per_s": (wl.units / run_s if run_s else 0.0, "1/s"),
        "setup_s": (setup_s, "s"),
        "ops_ok_share": (sum(op["ok"] for op in ops) / len(ops), "ratio"),
        "batch_p50_s": (median(batches), "s"),
    }
    if args.trace:
        traced_s = sum(median([op["s"] for op in traced if op["kind"] == k])
                       for k in kinds)
        layers = _aggregate(traced_layers, len(traced) // len(kinds))
        layers.update(wl.run_layers())
        layers["session.start_s"] = session_s
        layers["trace.run_s"] = traced_s
        layers["trace.overhead_s"] = traced_s - run_s
        metrics = {k: (layers.get(k, 0.0), _unit(k)) for k in PER_LAYER}
    context = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": _nproc(), "loadavg_launch": round(load_launch, 2),
        "cpu_steal_share": ((steal1 - steal0) / (total1 - total0)
                            if total1 > total0 else 0.0),
        "setup": {"session_s": session_s, "prepare_s": prepare_s,
                  "warm_s": warm_s},
        "timed_s": timed_s, "rounds": rnd, "batch_samples": len(batches),
        "ops": [{k: v for k, v in op.items() if k != "batches"}
                for op in ops],
        "checks": checks,
    }
    return context, {
        "correct": all(op["ok"] for op in ops),
        "attempted": len(ops),
        "failed": sum(not op["ok"] for op in ops),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or name.endswith("_skew"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ord_etl", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work)
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
