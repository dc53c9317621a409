"""Interleaved A/B of two arms over named corpus queries.

    python tools/ab.py ARM_A ARM_B QUERY... [--pairs N]

An arm is ``REF[+KEY=VALUE...]``. ``REF`` is a git ref, checked out
into a temporary worktree outside the repo (removed at exit), or ``.``
for the working tree as it is. A ``spark.*`` KEY is a Spark conf passed
to ``get_spark(extra_conf=...)``; any other KEY is an env var set in the
child (e.g. ``SPARK_GRAFT_BCAST_MAX_ROWS``,
``SPARK_GRAFT_CC_LOCAL_MAX_EDGES``, ``SPARK_GRAFT_ALLOC_TUNE``). The
scale-factor directory comes from ``$SPARK_GRAFT_SF_DIR`` (required)
and the core count from ``$SPARK_GRAFT_CPUS``, as in bench.py::

    python tools/ab.py 281de49~1 281de49 kendall_tau_blocked
    python tools/ab.py . .+SPARK_GRAFT_BCAST_MAX_ROWS=0 \\
        dbscan_core_border_noise semdedup_prune

Each pair runs one child process per arm, A first in even pairs and B
first in odd ones, after one ``era_probe()``. A child starts a
session, runs ``warm_session``, then per query: one untimed run that
collects the result and hashes it with ``oracle_check.table_hash``;
then three noop-sink runs, cache cleared before each, timing the
query-function call (``build_s``, and its py4j round trips as
``build_py4j``, see ``py4j_calls``) and the write (``exec_s``) apart. The
last timed run's jobs, stages and tasks are read from its job group
(jobs a streaming query runs on its own thread are not in it). Each
operator of the formatted physical plan is counted once, in the initial
plan (``plan``) and in the final adaptive plan of the untimed run
(``final_plan``): only the final plan shows what adaptive execution made
of it (``ReusedExchange``, ``TableCacheQueryStage``, ``InMemoryRelation``).

The report gives, per query, each arm's per-pair min time (build +
exec), the medians, A's quartiles, B's wins, the job counts, the
initial- and final-plan operators whose counts differ and whether the
result hashes match. The verdict (see ``verdict``) needs both nine
tenths of the pair wins and a median gap wider than A's spread. The full
record is the last stdout line, as JSON.

This module imports nothing from the engine package at import time,
and the parent process imports nothing from it at all: a child must
import only its own arm's package. bench.py imports ``warm_session``,
``warm_streaming`` and ``era_probe`` from here.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import types

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
RUNS = 3
# A formatted plan's detail headers: "(1) Scan parquet ", "(7) Exchange",
# "(5) ReusedExchange [Reuses operator id: 4]".
_PLAN_OP = re.compile(r"^\((\d+)\) ([^\[]+?)\s*(?:\[.*)?$")
# A node of a formatted plan's tree: "+- * HashAggregate (17)",
# "+- ShuffleQueryStage (24), Statistics(sizeInBytes=...)".
_TREE_ID = re.compile(r" \((\d+)\)(?:,|$)", re.M)


def warm_streaming(spark) -> None:
    """One-time streaming-engine warm-up, billed to the session instead
    of the first streaming query: state-store provider classloading,
    micro-batch thread pools, WAL/commit-log codepaths. Measured round
    13: the FIRST drain of a session reads ~2-3 s over its warm floor
    (4.83 s vs 1.47 s for the same sessionization query; chained aggs
    3.65 cold vs 2.24 warm in a mixed session) — session overhead by
    the same argument as the JVM and numpy-worker warm-ups. A 3-row
    availableNow drain through a real stateful aggregate touches all of
    it once. Fail-open: a warm-up failure must never cost the run its
    timings (the round-3 lesson, applied here too)."""
    try:
        from quantum_rag_data_pipeline_spark.paths import artifact_root

        warm_dir = os.path.join(artifact_root(), "bench_stream_warm",
                                 spark.sparkContext.applicationId)
        src = spark.range(3).selectExpr(
            "id", "timestamp_micros(id * 1000000) as ts")
        src.write.mode("overwrite").parquet(warm_dir)
        sdf = (spark.readStream.schema(src.schema).parquet(warm_dir)
               .groupBy("id").count())
        q = (sdf.writeStream.foreachBatch(lambda df, _e: df.count())
             .queryName("bench_stream_warm").outputMode("complete")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    except Exception as exc:  # noqa: BLE001 — warm-up must never fail a run
        print(f"warm_streaming: skipped ({type(exc).__name__}: "
              f"{str(exc)[:120]})", file=sys.stderr)


def warm_session(spark, sf_dir: str) -> None:
    """The session warm-up every timing harness runs before its first
    timed query, so that no query is billed session overhead:

    - ``j2_join_agg`` to the noop sink: JVM warm-up and parquet footer
      reads;
    - a 32-task numpy ``mapInPandas``: Python worker fork + numpy import
      happen once per reused worker, ~2-3 s that the first pandas-UDF
      query would otherwise pay;
    - ``warm_streaming``: the rotation prefix reorders per round, so which
      streaming query lands first is round-dependent, and without this
      it is billed ~2-3 s of engine spin-up and reads as a phantom
      regression (round 13)."""
    from quantum_rag_data_pipeline_spark.queries import QUERIES

    QUERIES["j2_join_agg"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # nested, so cloudpickle ships it by value: a Python worker cannot
    # import this module
    def _py_warm(it):
        import numpy  # noqa: F401 — preload into the reused worker

        for pdf in it:
            yield pdf

    spark.range(0, 32, 1, 32).mapInPandas(_py_warm, "id long") \
        .write.mode("overwrite").format("noop").save()
    warm_streaming(spark)


def fault_probe_gbps(size_mb: int = 128, reps: int = 3) -> float:
    """First-touch page-fault throughput probe (GB/s), median of
    ``reps`` fresh-mmap touch loops (~1 s total at a healthy era).

    Round 11 established that this VM's dominant noise source is the
    KERNEL's fresh-page fault rate, which swings by era (measured
    55 s/GB -> 9.3 s/GB within one day; BASELINE.md round-11) and
    uniformly drags every query that grows worker RSS, so a run records
    it next to its timings. Each rep maps a fresh anonymous region and
    touches one byte per 4 KiB page (the fault is the cost being
    measured; the ~32k-iteration Python loop overhead is ~10 ms against
    a >=100 ms fault bill). Median of 3 rejects the first-rep page-table
    warm-up skew observed at calibration (0.53/0.93/1.12 GB/s on a quiet
    VM; re-touch control 10 GB/s)."""
    import mmap

    samples = []
    for _ in range(reps):
        n = size_mb << 20
        buf = mmap.mmap(-1, n)
        mv = memoryview(buf)
        t0 = time.perf_counter()
        for off in range(0, n, 4096):
            mv[off] = 1
        dt = time.perf_counter() - t0
        mv.release()
        buf.close()
        samples.append((size_mb / 1024.0) / dt)
    return round(sorted(samples)[len(samples) // 2], 4)


def era_probe() -> dict:
    """Three-dimension VM-era vector, ~4 s total. One dimension cannot
    label the era: the round-12 bench ran slow under a healthy fault
    probe, and that day's degraded dimension was disk (write+fsync
    swinging 0.02-0.4 GB/s within a minute).

    - ``fault_gbps``: first-touch page-fault throughput (the round-11
      mechanism; healthy ~0.9-1.5, degraded era ~0.02-0.1).
    - ``cpu_gflops``: aggregate float64 matmul throughput across 32
      single-BLAS-thread processes (host CPU oversubscription shows
      here first), and ``cpu_gflops_min``, the slowest of them.
      Subprocess-isolated so OPENBLAS_NUM_THREADS=1 binds before numpy
      loads and no fork touches a live py4j gateway.
    - ``disk_wgbps``: median of three 32 MB write+fsync rounds on the
      filesystem of the Spark scratch roots (``paths.artifact_root``
      lives under ``$XDG_CACHE_HOME`` or the temp dir: shuffle files,
      drain parquet and state stores land there; healthy >=0.4,
      contended ~0.02). ``disk_probe_path`` names the directory.

    A dimension that cannot be measured reads None: a probe never fails
    the run it labels."""
    import subprocess
    import tempfile

    try:
        out = {"fault_gbps": fault_probe_gbps()}
    except Exception:  # noqa: BLE001 — probe must never fail the run
        # mmap of the 128 MB probe region can ENOMEM on a pressured VM
        out = {"fault_gbps": None}
    cpu_script = (
        "import multiprocessing as mp, time\n"
        "def w(_):\n"
        "    import numpy as np, time\n"
        "    a = np.arange(256*256, dtype='float64').reshape(256,256)/65536.\n"
        "    b = a.T.copy(); a @ b\n"
        "    t0 = time.perf_counter(); n = 0\n"
        "    while time.perf_counter() - t0 < 0.4:\n"
        "        a @ b; n += 1\n"
        "    return n * 2 * 256**3 / (time.perf_counter() - t0)\n"
        "if __name__ == '__main__':\n"
        "    with mp.Pool(32) as p:\n"
        "        r = sorted(p.map(w, range(32)))\n"
        "    print(round(sum(r) / 1e9, 1), round(r[0] / 1e9, 1))\n"
    )
    try:
        env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
        r = subprocess.run([sys.executable, "-c", cpu_script], env=env,
                           capture_output=True, text=True, timeout=60)
        if r.returncode != 0:
            # leave the subprocess's own diagnostics behind: a
            # persistently-None dimension with no stderr trail is
            # undebuggable
            tail = (r.stderr or "").strip().splitlines()
            print(f"era_probe: cpu probe exited rc={r.returncode}: "
                  f"{tail[-1] if tail else '(no stderr)'}", file=sys.stderr)
            out["cpu_gflops"] = None
            out["cpu_gflops_min"] = None
        else:
            agg, worst = r.stdout.split()
            # the straggler minimum matters as much as the aggregate: a
            # 32-task Spark stage's wall is its SLOWEST task, so a few
            # host-throttled vCPUs (measured round 12: workers at 6-20
            # GFLOP/s while siblings ran 40) drag every wide stage
            # without moving the aggregate much.
            out["cpu_gflops"] = float(agg)
            out["cpu_gflops_min"] = float(worst)
    except Exception as exc:  # noqa: BLE001 — probe must never fail the run
        print(f"era_probe: cpu probe failed: {type(exc).__name__}: "
              f"{str(exc)[:160]}", file=sys.stderr)
        out["cpu_gflops"] = None
        out["cpu_gflops_min"] = None
    try:
        # the base of paths.artifact_root(), computed here because this
        # module must not import the engine package
        probe_dir = os.environ.get("XDG_CACHE_HOME") or tempfile.gettempdir()
        buf = b"\xa5" * (32 << 20)
        samples = []
        for _ in range(3):
            with tempfile.NamedTemporaryFile(dir=probe_dir) as f:
                t0 = time.perf_counter()
                f.write(buf)
                f.flush()
                os.fsync(f.fileno())
                samples.append((32 / 1024.0) / (time.perf_counter() - t0))
        out["disk_wgbps"] = round(sorted(samples)[1], 4)
        out["disk_probe_path"] = probe_dir
    except Exception:  # noqa: BLE001 — probe must never fail the run
        out["disk_wgbps"] = None
    return out


def verdict(a: list[float], b: list[float]) -> dict:
    """Per-pair times of arms A and B (index i is pair i) -> the
    verdict: B is "faster" only if it wins at least
    nine tenths of the pairs (ties count for neither side) AND A's
    median exceeds B's by more than A's inter-quartile distance; "B
    slower" is the mirror image; anything else is "unresolved"."""
    n = len(a)
    b_wins = sum(y < x for x, y in zip(a, b))
    a_wins = sum(x < y for x, y in zip(a, b))
    med_a, med_b = statistics.median(a), statistics.median(b)
    q1, _, q3 = statistics.quantiles(a, n=4, method="inclusive") if n > 1 else a * 3
    need = -(-9 * n // 10)
    if b_wins >= need and med_a - med_b > q3 - q1:
        v = "B faster"
    elif a_wins >= need and med_b - med_a > q3 - q1:
        v = "B slower"
    else:
        v = "unresolved"
    return {"pairs": n, "b_wins": b_wins, "a_wins": a_wins,
            "a_median": round(med_a, 3), "b_median": round(med_b, 3),
            "a_q1": round(q1, 3), "a_q3": round(q3, 3), "verdict": v}


def parse_arm(spec: str) -> dict:
    ref, *pairs = spec.split("+")
    arm = {"ref": ref, "conf": {}, "env": {}}
    for kv in pairs:
        key, sep, value = kv.partition("=")
        if not (key and sep):
            raise ValueError(f"arm {spec!r}: {kv!r} is not KEY=VALUE")
        arm["conf" if key.startswith("spark.") else "env"][key] = value
    return arm


def _plan_ops(df, final: bool = False) -> dict:
    """Operator name -> count in ``df``'s formatted physical plan. Once
    an action has run on ``df``, the plan is its final adaptive plan with
    the initial plan under it; ``final`` counts the operators of the
    final plan alone."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    ids = None
    if final and "== Final Plan ==" in text:
        tree = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        ids = set(_TREE_ID.findall(tree))
    ops: dict[str, int] = {}
    for line in text.splitlines():
        m = _PLAN_OP.match(line)
        if m and (ids is None or m.group(1) in ids):
            ops[m.group(2)] = ops.get(m.group(2), 0) + 1
    return ops


@contextlib.contextmanager
def py4j_calls(spark):
    """Counts the py4j round trips the driver makes inside the block::

        with py4j_calls(spark) as calls:
            build(spark)
        calls.n

    Every driver-to-JVM call, including the proxy releases py4j sends
    when Python garbage-collects a JVM object reference, goes through
    ``send_command``."""
    client = spark.sparkContext._gateway._gateway_client
    calls = types.SimpleNamespace(n=0)
    send = client.send_command

    def counting(*args, **kwargs):
        calls.n += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        client.send_command = send


def _job_counts(sc, group: str) -> dict:
    # the status store is fed by the listener bus; drain it first so the
    # last stage's task counts are in
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    ran = [st for s in stage_ids
           if (st := tracker.getStageInfo(s)) and st.numCompletedTasks > 0]
    return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(st.numTasks for st in ran)}


def _measure(spark, fn, sf_dir: str, group: str) -> dict:
    from oracle_check import table_hash

    sc = spark.sparkContext
    spark.catalog.clearCache()
    df = fn(spark, sf_dir)
    plan = _plan_ops(df)  # before execution: the initial plan only, once
    cols = df.columns
    rows = [tuple(d[c] for c in cols) for d in df.toArrow().to_pylist()]
    rec = {"hash": table_hash(cols, rows), "rows": len(rows), "plan": plan,
           "final_plan": _plan_ops(df, final=True), "runs": []}
    for i in range(RUNS):
        spark.catalog.clearCache()
        sc.setJobGroup(f"{group}#{i}", group)
        try:
            t0 = time.perf_counter()
            with py4j_calls(spark) as calls:
                df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["runs"].append({"build_s": round(t1 - t0, 4), "exec_s": round(t2 - t1, 4),
                            "build_py4j": calls.n})
    rec.update(_job_counts(sc, f"{group}#{RUNS - 1}"))
    return rec


def child(argv: list[str]) -> None:
    """Child-process body: ``argv`` is the arm's Spark conf as JSON, then
    the query names. The arm's checkout is the working directory and
    first on ``sys.path``; it prints its record as one JSON line."""
    conf, names = json.loads(argv[0]), argv[1:]
    import quantum_rag_data_pipeline_spark as pkg
    from quantum_rag_data_pipeline_spark.queries import QUERIES
    from quantum_rag_data_pipeline_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name="ab", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)
    out = {"package": os.path.dirname(os.path.abspath(pkg.__file__)),
           "conf": {k: spark.conf.get(k) for k in conf}, "queries": {}}
    for name in names:
        try:
            out["queries"][name] = _measure(spark, QUERIES[name], sf_dir, f"ab:{name}")
        except Exception as exc:  # noqa: BLE001 — one query's failure is reported, not fatal
            out["queries"][name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    spark.stop()
    print(json.dumps(out))


def _run_child(root: str, arm: dict, names: list[str]) -> dict:
    code = f"import sys; sys.path.insert(1, {TOOLS!r}); import ab; ab.child(sys.argv[1:])"
    r = subprocess.run([sys.executable, "-c", code, json.dumps(arm["conf"]), *names],
                       cwd=root, env={**os.environ, **arm["env"]},
                       capture_output=True, text=True)
    try:
        return json.loads(r.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        tail = (r.stderr or "").strip().splitlines()[-3:]
        err = f"child exited rc={r.returncode}: {' | '.join(tail)}"[:300]
        return {"error": err, "queries": {n: {"error": err} for n in names}}


@contextlib.contextmanager
def _checkout(ref: str):
    path = tempfile.mkdtemp(prefix="ab-worktree-")
    try:
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--quiet", "--detach", path, ref],
                       check=True)
        yield path
    finally:
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", path],
                       capture_output=True)
        shutil.rmtree(path, ignore_errors=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"], capture_output=True)


def summarize(pairs: list[dict], name: str) -> dict:
    """One query's report over all pairs: per-pair min times, verdict,
    job counts, differing initial- and final-plan operators and the hash
    match."""
    errors = [f"pair {i} {s}: {p[s]['queries'][name]['error']}"
              for i, p in enumerate(pairs) for s in "AB" if "error" in p[s]["queries"][name]]
    ok = [p for p in pairs if not any("error" in p[s]["queries"][name] for s in "AB")]
    recs = {s: [p[s]["queries"][name] for p in ok] for s in "AB"}
    out = {"errors": errors,
           "min_s": {s: [round(min(r["build_s"] + r["exec_s"] for r in q["runs"]), 3)
                         for q in recs[s]] for s in "AB"}}
    if not ok:
        return {**out, "verdict": "error"}
    out.update(verdict(out["min_s"]["A"], out["min_s"]["B"]))
    if errors:
        out["verdict"] = "error"
    for k in ("jobs", "stages", "tasks"):
        out[k] = {s: statistics.median_low(q[k] for q in recs[s]) for s in "AB"}
    for key in ("plan", "final_plan"):
        plan_a, plan_b = recs["A"][0][key], recs["B"][0][key]
        out[f"{key}_diff"] = {op: [plan_a.get(op, 0), plan_b.get(op, 0)]
                              for op in sorted(set(plan_a) | set(plan_b))
                              if plan_a.get(op, 0) != plan_b.get(op, 0)}
    out["hash_match"] = len({q["hash"] for s in "AB" for q in recs[s]}) == 1
    return out


def _report(name: str, q: dict) -> None:
    print(f"{name}: {q['verdict']}")
    for e in q["errors"]:
        print(f"  error {e}")
    if "b_wins" not in q:
        return
    print(f"  A min/pair {q['min_s']['A']}  median {q['a_median']} "
          f"(q1 {q['a_q1']}, q3 {q['a_q3']}, IQR {q['a_q3'] - q['a_q1']:.3f})")
    print(f"  B min/pair {q['min_s']['B']}  median {q['b_median']}")
    print(f"  B won {q['b_wins']}/{q['pairs']} (A won {q['a_wins']}); jobs "
          f"{q['jobs']['A']} -> {q['jobs']['B']}, stages {q['stages']['A']} -> "
          f"{q['stages']['B']}, tasks {q['tasks']['A']} -> {q['tasks']['B']}")
    for key, label in (("plan_diff", "plan"), ("final_plan_diff", "final plan")):
        diff = ", ".join(f"{op} {a} -> {b}" for op, (a, b) in q[key].items())
        print(f"  {label} operators differing: {diff or 'none'}")
    print(f"  result hashes {'match' if q['hash_match'] else 'DIFFER'}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("arm_a")
    ap.add_argument("arm_b")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    if not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("set SPARK_GRAFT_SF_DIR to the scale-factor directory")
    try:
        arms = {"A": parse_arm(args.arm_a), "B": parse_arm(args.arm_b)}
    except ValueError as exc:
        ap.error(str(exc))
    for ref in {arm["ref"] for arm in arms.values()} - {"."}:
        if subprocess.run(["git", "-C", REPO, "rev-parse", "--verify", "--quiet", f"{ref}^{{commit}}"],
                          stdout=subprocess.DEVNULL).returncode:
            ap.error(f"{ref!r} is not a commit")
    # a SIGTERM unwinds through the finally blocks that remove worktrees
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with contextlib.ExitStack() as stack:
        roots = {}
        for arm in arms.values():
            if arm["ref"] not in roots:
                roots[arm["ref"]] = (REPO if arm["ref"] == "." else
                                     stack.enter_context(_checkout(arm["ref"])))
        pairs = []
        for i in range(args.pairs):
            pair = {"order": list("AB" if i % 2 == 0 else "BA"), "era": era_probe()}
            for s in pair["order"]:
                pair[s] = _run_child(roots[arms[s]["ref"]], arms[s], args.queries)
            pairs.append(pair)
            print(f"pair {i + 1}/{args.pairs} done ({''.join(pair['order'])})", file=sys.stderr)
    record = {"arms": {"A": args.arm_a, "B": args.arm_b},
              "roots": {s: roots[arms[s]["ref"]] for s in "AB"},
              "sf_dir": os.environ["SPARK_GRAFT_SF_DIR"], "pairs": pairs,
              "queries": {n: summarize(pairs, n) for n in args.queries}}
    for name, q in record["queries"].items():
        _report(name, q)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
