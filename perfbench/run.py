"""Pipeline benchmark for the Spark RAG engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``workloads.py``):

- ``daily_backfill``: ``run_daily_summary_pipeline`` re-run over a 2-day
  window at the tail of a 365-row pre-seeded sink; its traced run also
  times four ``queries.QUERIES`` entries (two streaming drains, the
  block-pair kNN graph, connected-components dedup) on seeded tables;
- ``rag_ingest``: ``ingest()`` of a seeded ~1.3k-document corpus with
  planted duplicates into an empty store; its traced run also serves
  top-k requests from the store.

One process drives ``local[nproc]`` with one closed-loop caller. Set-up
is session start, the JVM and Python-worker warm-up, the workload's own
set-up and ``UNTIMED_OPS`` operations; then operations run back to back
(see ``timed_loop``), each checked after it returns, untimed. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the same loop runs untraced and then again traced (spans,
Spark event log, call-site labels, counting wrappers) and the last line
carries the per-layer metrics. The line before it is the full record
(inputs, machine, confs, every metric with its unit, spans with self
time), also written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()

# untimed operations before the timed loop: the first pays the JVM's
# compilation of the hot paths and the Python workers' imports
UNTIMED_OPS = 1

# timed operations of the traced loop: its counters are per operation and
# repeat exactly, so more operations would only lengthen the traced run
TRACED_OPS = 2

# the bounded end-to-end metrics (name -> unit). Latency percentiles and
# peak RSS are in the full record only: with one to three timed operations
# per run the median latency is items_per_s restated, and peak RSS (G1 heap
# growth) spreads 14-20% between runs, too close to the largest bound.
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.task_wait_s": "s",
    "sources.fetch_s": "s", "sources.envelopes": "count", "sources.plan_leaves": "count",
    "plans.build_s": "s", "plans.count_jobs": "count",
    "embedding.calls": "count", "embedding.texts": "count", "embedding.encode_s": "s",
    "embedding.zero_vectors": "count",
    "text.gate_s": "s", "dedup.exact_s": "s", "dedup.near_s": "s",
    "dedup.lsh_candidates": "count", "dedup.lsh_kept": "count", "dedup.lsh_yield": "ratio",
    "similarity.pairs_scored": "count", "serve.build_s": "s", "serve.exec_s": "s",
    "upsert.s": "s", "upsert.rows_new": "count", "upsert.rows_rewritten": "count",
    "upsert.rewrite_amp": "ratio", "upsert.bytes_written": "bytes",
    "upsert.files_written": "count",
    "corpus.build_s": "s", "corpus.exec_s": "s", "streaming.drain_s": "s",
    "trace.overhead_ratio": "ratio",
}

SPAN_METRICS = {  # span name -> per-layer metric (mean seconds per span)
    "sources.fetch": "sources.fetch_s", "plans.build": "plans.build_s", "upsert": "upsert.s",
    "text.gate": "text.gate_s", "dedup.exact": "dedup.exact_s", "dedup.near": "dedup.near_s",
    "serve.build": "serve.build_s", "serve.exec": "serve.exec_s",
}


def per_layer_units() -> dict[str, str]:
    """``PER_LAYER`` plus each corpus query's build and execute time."""
    from perfbench.workloads import CORPUS

    return {**PER_LAYER, **{f"corpus.{q}.{p}": "s" for q in CORPUS for p in ("build_s", "exec_s")}}


def machine() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mib": mem_kb // 1024,
            "spark": pyspark.__version__, "python": platform.python_version()}


def heap_size(mem_total_mib: int) -> str:
    """A fifth of the box, 1-8 GiB: the program's 48g default assumes a
    128 GiB host."""
    return f"{max(1, min(8, mem_total_mib // 1024 // 5))}g"


def start_session(work: str, heap: str, event_log: str | None = None):
    from quantum_rag_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_log}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _py_warm(it):
    import numpy  # noqa: F401 — preload into the reused worker
    import pandas  # noqa: F401

    for pdf in it:
        yield pdf


def warm(spark, cores: int) -> None:
    """The JVM and Python-worker warm steps of ``bench.py``: one plain
    job, then one pandas job touching every task slot."""
    spark.range(0, 1 << 16, 1, cores).selectExpr("sum(id)").collect()
    spark.range(0, cores, 1, cores).mapInPandas(_py_warm, "id long") \
        .write.mode("overwrite").format("noop").save()


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def untimed_ops(spark, wl) -> list[float]:
    """Runs ``UNTIMED_OPS`` operations; returns their seconds."""
    lat = []
    for _ in range(UNTIMED_OPS):
        wl.reset(spark)
        t0 = time.perf_counter()
        wl.warm_op(spark)
        lat.append(time.perf_counter() - t0)
    return lat


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this box's CPUs since
    boot (``/proc/stat``): the other tenants' load, which slows every
    operation it overlaps."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def timed_loop(spark, wl, tracer, tag: str, seconds: float = 0.0, ops: int = 1) -> dict:
    """Closed loop: operations back to back, at least ``ops`` and until
    ``seconds`` of operation time are spent, each checked after it
    returns (untimed)."""
    from perfbench.trace import group_counts

    sc = spark.sparkContext
    lat, steal, items, failed, errors = [], [], 0, 0, []
    counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    spent, i = 0.0, 0
    while i < ops or spent < seconds:
        wl.reset(spark)
        # each operation starts on collected heaps, so no operation pays
        # for a collection its predecessor left due
        gc.collect()
        spark._jvm.System.gc()
        group = f"{tag}-{i}"
        sc.setJobGroup(group, group)
        tracer.run_id = group
        stolen = steal_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                result = wl.op(spark)
            dt = time.perf_counter() - t0
            errs = wl.check(result, i)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            dt = time.perf_counter() - t0
            errs = [traceback.format_exc(limit=3)]
        sc.setLocalProperty("spark.jobGroup.id", None)
        lat.append(dt)
        steal.append((steal_s() - stolen) / (dt * os.cpu_count()))
        spent += dt
        if errs:
            failed += 1
            errors.append({"op": i, "errors": errs})
            print(f"perfbench: op {i} failed: {errs}", file=sys.stderr)
        else:
            items += wl.items(result)
        for k, v in group_counts(sc, group).items():
            counts[k] += v
        i += 1
    return {"lat": lat, "steal": steal, "items": items, "failed": failed, "errors": errors,
            "spent": spent,
            "groups": {f"{tag}-{i}" for i in range(len(lat))}, "counts": counts}


def latency_summary(lat: list[float]) -> dict:
    q = statistics.quantiles(lat, n=10, method="inclusive") if len(lat) > 1 else [lat[0]] * 9
    p90 = q[8]
    return {"p50_s": statistics.median(lat), "p90_s": p90, "samples": len(lat),
            "beyond_p90": sum(1 for x in lat if x > p90)}


def run(args, wl, work: str) -> dict:
    from perfbench.trace import (
        Tracer,
        callsite_labels,
        parse_event_log,
        peak_rss_mb,
        reset_peak_rss,
    )

    info = machine()
    heap = heap_size(info["mem_total_mib"])
    os.environ["SPARK_GRAFT_CPUS"] = str(info["nproc"])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "size": args.size, "machine": info,
              "load": f"one closed-loop caller, local[{info['nproc']}]"}

    t_gen = time.perf_counter()
    record["inputs"] = wl.prepare()
    record["inputs"]["generate_s"] = time.perf_counter() - t_gen

    t0 = time.perf_counter()
    spark = start_session(work, heap)
    try:
        t1 = time.perf_counter()
        warm(spark, info["nproc"])
        t2 = time.perf_counter()
        wl.setup(spark)
        wl.bind(spark)
        t3 = time.perf_counter()
        warm_lat = untimed_ops(spark, wl)
        t4 = time.perf_counter()
        setup_s = t4 - t0
        record["setup_parts"] = {"session_start_s": t1 - t0, "warmup_s": t2 - t1,
                                 "workload_setup_s": t3 - t2, "untimed_ops_s": warm_lat}
        record["confs"] = dict(sorted(spark.sparkContext.getConf().getAll()))
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())

        reset_peak_rss(jvm_pid)
        plain = timed_loop(spark, wl, Tracer(False), "op", seconds=args.seconds, ops=wl.timed_ops)
        rss = peak_rss_mb(jvm_pid)
        lat = latency_summary(plain["lat"])
        attempted, failed, errors = len(plain["lat"]), plain["failed"], plain["errors"]
        n = len(plain["lat"])
        # items over the time of all timed operations. On a shared host the
        # box's speed swings with the hypervisor's steal in spells of tens
        # of seconds to minutes, which slow every operation of a run alike:
        # over ten seeds on a 4-vCPU host, the median of rag_ingest's three
        # operations spread 0.33 of its median, this rate 0.24
        rate = plain["items"] / plain["spent"]
        record["end_to_end"] = {"setup_s": setup_s, "items_per_s": rate}
        unit = wl.item_unit
        record["workload_metrics"] = {
            f"{unit}_per_s": {"value": rate, "unit": f"{unit}/s"},
            "op_p50_s": {"value": lat["p50_s"], "unit": "s"},
            "op_p90_s": {"value": lat["p90_s"], "unit": "s", "samples": lat["samples"],
                         "beyond_p90": lat["beyond_p90"]},
            "peak_rss_mb": {"value": rss, "unit": "MiB"},
        }
        record["op_latencies_s"] = plain["lat"]
        # share of the box's CPU time stolen during each operation; on a
        # 4-vCPU host a rag_ingest operation with a third stolen took
        # twice as long
        record["op_steal_share"] = plain["steal"]
        record["spark_per_op"] = {k: v / n for k, v in plain["counts"].items()}

        if args.trace:
            # the event log is a session conf: restart the context (the
            # JVM stays) so the untraced loop above ran without it
            spark.stop()
            event_log = f"{work}/eventlog"
            spark = start_session(work, heap, event_log)
            warm(spark, info["nproc"])
            wl.bind(spark)
            untimed_ops(spark, wl)
            tracer = Tracer(True)
            with callsite_labels(spark, ROOT), wl.layers(spark, tracer):
                traced = timed_loop(spark, wl, tracer, "traced", ops=min(n, TRACED_OPS))
            tracer.run_id = "extras"
            extra_ops, extra_errors = wl.extras(spark, tracer)
            attempted += len(traced["lat"]) + extra_ops
            failed += traced["failed"] + len(extra_errors)
            errors += traced["errors"]
            if extra_errors:
                errors.append({"op": "extras", "errors": extra_errors})
                print(f"perfbench: traced extras failed: {extra_errors}", file=sys.stderr)
            spark.stop()
            sites = parse_event_log(event_log, traced["groups"])
            record["per_layer"] = per_layer(wl, tracer, traced, plain, sites, t1 - t0, t2 - t1)
            record["spans"] = tracer.self_times()
            record["spark_by_call_site"] = sites
            tracer.dump(f"{args.results}/{args.workload}-seed{args.seed}-{os.getpid()}.spans.jsonl")
    finally:
        shutdown(spark)
    record.update({"attempted": attempted, "failed": failed, "errors": errors})
    record["workload_metrics"]["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    return record


UPSERT_SITE = "parquet at quantum_rag_data_pipeline_spark/sinks/upsert.py:"


def per_layer(wl, tracer, traced, plain, sites, start_s, warmup_s) -> dict:
    """Counters per timed operation, span times per span occurrence
    (once per operation or per forced pass), ``wl.once`` values as set."""
    n = len(traced["lat"])
    v = {k: 0.0 for k in per_layer_units()}
    v.update({k: x / n for k, x in wl.layer.items()})
    v.update(wl.once)
    v.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
    for k, c in traced["counts"].items():
        v[f"spark.{k}"] = c / n
    for d in sites.values():
        for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "task_wait_s"):
            v[f"spark.{k}"] += d[k] / n
    v["plans.count_jobs"] = sum(d["jobs"] for s, d in sites.items()
                                if s.startswith("count at quantum_rag_data_pipeline_spark/plans/")) / n
    # what the merge's write jobs wrote, from their output metrics
    upserts = [d for s, d in sites.items() if s.startswith(UPSERT_SITE)]
    v["upsert.rows_rewritten"] = sum(d["records_written"] for d in upserts) / n
    v["upsert.bytes_written"] = sum(d["bytes_written"] for d in upserts) / n
    v["upsert.files_written"] = sum(d["output_tasks"] for d in upserts) / n
    spans = tracer.self_times()
    for span, name in SPAN_METRICS.items():
        if span in spans:
            v[name] = spans[span]["total_s"] / spans[span]["count"]
    if v["upsert.rows_new"]:
        v["upsert.rewrite_amp"] = v["upsert.rows_rewritten"] / v["upsert.rows_new"]
    v["trace.overhead_ratio"] = statistics.median(traced["lat"]) / statistics.median(plain["lat"])
    return v


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test inputs")
    p.add_argument("--plant", action="store_true",
                   help="plant a wrong output after the first operation (smoke test)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "quantum_rag_data_pipeline_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    args.results = os.path.join(base, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(args.results, exist_ok=True)
    # every scratch path the program, Spark and the JVM use stays in the checkout
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "XDG_CACHE_HOME": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # no hsperfdata file in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    wl = WORKLOADS[args.workload](work, args.seed, args.size, args.plant)
    try:
        record = run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    table = END_TO_END if not args.trace else per_layer_units()
    values = record["end_to_end"] if not args.trace else record["per_layer"]
    metrics = {k: {"value": values[k], "unit": u} for k, u in table.items()}
    record["correct"] = record["failed"] == 0
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(args.results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
