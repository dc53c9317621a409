"""Plan anti-pattern audit: runs .explain over every corpus query and
flags plans that would hurt at 100 TB:

- CartesianProduct (unhinted cross product — BroadcastNestedLoopJoin with
  an explicitly broadcast side is fine, a shuffled cartesian is not)
- BatchEvalPython / ArrowEvalPython where unexpected (row-at-a-time or
  UDF stages outside the known pandas-UDF operators)
- parquet scans with no ReadSchema pruning (reading all columns)

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries where Python (Arrow) stages are by design
UDF_EXPECTED = {"ann_lsh_topk", "multimodal_features", "multimodal_resize_and_frames",
                # the Arrow-optimized scalar UDF surface demo — the Python
                # stage IS the query's subject (pinned against closed form)
                "arrow_python_udf_digital_root",
                "embedding_near_dup",
                # SRP bucketing pandas_udf feeds the self-recovery invariant
                "ann_lsh_self_recovery",
                # the spark.udf.register demo (registered as a pandas_udf)
                "sql_registered_udf",
                # round 4: UDTF / grouped-agg / grouped-map pandas API queries
                "python_udtf_word_chunks", "pandas_udaf_geomean",
                "group_trend_ols",
                # round 4 wave: block-pair matmul candidate generation
                "knn_graph_mutual", "knn_graph_incremental_parity",
                # the intra-cluster scan is the block-pair kernel with
                # one group per cluster (similarity._score_blocks)
                "semdedup_prune",
                # round 11: the kmeans E-step is a BLAS mapInPandas
                # assignment (replaced the N-by-k interpreted column
                # fold — similarity.assign_to_centroids); these
                # four consume it
                "cluster_purity_eval", "ivf_centroid_assign",
                "kmeans_one_step", "ivf_topk_search",
                # round 5: int-SRP bucket hashing feeds the LSH-bounded
                # DBSCAN pair stage
                "dbscan_core_border_noise",
                # the perceptual-hash pandas UDF is the query's subject;
                # pre-round-5 a localCheckpoint TRUNCATED the displayed
                # plan and hid this stage from the audit — the cache()
                # swap made the full lineage visible
                "image_phash_near_dup"}
# streaming queries start a real stream; skip static explain
SKIP = {"streaming_sliding_window", "streaming_sessionization",
        "streaming_static_enrich", "streaming_dedup_exactly_once",
        "streaming_watermark_append_semantics", "streaming_stateful_key_counts"}


def main() -> int:
    from quantum_rag_data_pipeline_spark.queries import QUERIES
    from quantum_rag_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    problems = []
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        spark.catalog.clearCache()  # cache() registers at plan time; don't accumulate
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        issues = []
        if "CartesianProduct" in plan:
            issues.append("CartesianProduct")
        if re.search(r"BatchEvalPython(?!UDTF)", plan):
            issues.append("row-at-a-time Python UDF")
        if re.search(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|EvalPythonUDTF|AggregateInPandas",
            plan,
        ) and name not in UDF_EXPECTED:
            issues.append("unexpected Python stage")
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            n_cols = len([c for c in m.group(1).split(",") if c])
            if n_cols > 12:
                issues.append(f"wide scan ({n_cols} cols)")
        if issues:
            problems.append((name, issues))
            print(f"FLAG  {name}: {', '.join(issues)}")
        else:
            print(f"ok    {name}")
    print(f"\n{len(problems)} flagged")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
