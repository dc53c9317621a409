"""Quiet-VM min-of-N triage for bench drift suspects.

bench_compare's 1.5x warning tier (round 6) flags queries drifting
toward the 2x anchor gate before they trip it; this tool re-measures the
suspects under controlled conditions and splits PLAN-BUILD (driver-side
DataFrame construction, pure py4j) from EXECUTE (noop-sink action) so a
drift can be attributed to the right layer — the round-7 drift group
turned out to be 100% plan-build (repeated parquet footer inference)
and was fixed by the load_table memo, not by touching any operator.

    python tools/triage_bench.py                      # built-in suspect list
    python tools/triage_bench.py name1 name2 ...      # explicit names
    python tools/triage_bench.py --runs 5 name ...

Prints one line per query: anchor, min/median build+exec, ratio vs
anchor, and a verdict (ok <1.3x / watch <1.5x / warn >=1.5x), plus a
JSON tail line for scripting.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_anchors import ANCHOR_FLOOR  # noqa: E402 — shared policy value

# Round-8 suspect list: the nine 1.5-1.9x warnings from the driver's
# BENCH_r07 (VERDICT round 7, "What's wrong" item 2).
DEFAULT_SUSPECTS = [
    "association_rules_lift",
    "wl_node_signatures",
    "user_growth_accounting",
    "quantile_transform_scaler",
    "feature_leakage_audit",
    "retrieval_eval_ndcg",
    "dedup_pipeline_canonical",
    "recsys_coverage_diversity",
    "text_lang_id_confusion",
]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
        args = [a for a in args if a != str(runs)]
    cheapest = 0
    if "--cheapest" in sys.argv:
        # overhead-floor profiling (round-6/7 stretch item): the N
        # queries with the smallest anchors are the ones where per-query
        # fixed costs (plan build py4j traffic, job scheduling) dominate
        # — the build/exec split shows which side the floor lives on.
        cheapest = int(sys.argv[sys.argv.index("--cheapest") + 1])
        args = [a for a in args if a != str(cheapest)]
    names = args or DEFAULT_SUSPECTS

    from quantum_rag_data_pipeline_spark.queries import QUERIES
    from quantum_rag_data_pipeline_spark.session import get_spark

    anchors = {}
    try:
        anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    except (OSError, ValueError):
        pass
    if cheapest:
        names = sorted((n for n in anchors if n in QUERIES),
                       key=anchors.get)[:cheapest]

    # Label the era before measuring anything (round-12): a triage
    # verdict without the era probe can't distinguish "still slow"
    # from "VM era still degraded" — the round-6..12 re-litigation loop.
    from bench import era_probe
    from bench_anchors import ERA_REF, ERA_SENSITIVITY, degraded_era_dims

    probe = era_probe()
    bad = degraded_era_dims(probe)
    print(f"era: probe {probe} vs refs {ERA_REF} "
          f"({'DEGRADED on ' + ','.join(bad) if bad else 'healthy'})")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="triage")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench.py: JVM, py-worker pool, streaming engine
    from ab import warm_session
    warm_session(spark, sf_dir)

    out = {}
    for name in names:
        if name not in QUERIES:
            print(f"SKIP  {name}: not registered")
            continue
        fn = QUERIES[name]
        builds, execs, totals = [], [], []
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            totals.append(t2 - t0)
        best = min(totals)
        anchor = anchors.get(name)
        # Anchor-floor policy (BASELINE.md round-10, mirrors
        # bench_compare --anchor-floor): ratios judge against
        # max(recorded, floor) so sub-second era minima don't
        # manufacture WARN verdicts a fresh session can never clear.
        ratio = best / max(anchor, ANCHOR_FLOOR) if anchor else None
        verdict = ("ok" if ratio is None or ratio < 1.3
                   else "watch" if ratio < 1.5 else "WARN")
        out[name] = {
            "anchor_s": anchor,
            "min_total_s": round(best, 3),
            "med_total_s": round(statistics.median(totals), 3),
            "min_build_s": round(min(builds), 3),
            "min_exec_s": round(min(execs), 3),
            "ratio": round(ratio, 2) if ratio else None,
            "verdict": verdict,
        }
        # mechanism tag (round-13): a WARN on a query whose binding era
        # dimension is known prints it inline, with this session's probe
        # reading for that dimension — the triage verdict then carries
        # its own discount context.
        sens = ERA_SENSITIVITY.get(name)
        sens_note = ""
        if sens and verdict != "ok":
            cur, ref = probe.get(sens), ERA_REF.get(sens)
            if isinstance(cur, (int, float)) and ref:
                sens_note = (f" [{sens}-bound; probe {cur:g} vs ref "
                             f"{ref:g} = {cur / ref:.2f}x]")
            else:
                sens_note = f" [{sens}-bound]"
        print(f"{verdict:5s} {name}: anchor={anchor} min={best:.3f} "
              f"(build {min(builds):.3f} + exec {min(execs):.3f}) "
              f"med={statistics.median(totals):.3f} "
              f"ratio={ratio and round(ratio, 2)}{sens_note}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
