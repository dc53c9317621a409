"""The flagship pipeline: per-day ERCOT+weather summary → sentence →
embedding → keyed upsert (reference §3.1, src/main.py:239-378).

Where the reference runs a python asyncio loop with one task per day,
this plan is ONE lazy DataFrame DAG over all days:

    sources (6 endpoints × all days, fetched on the driver, decoded to
             (date_from, endpoint, field, value) cells)
      → ONE pandas → Arrow literal relation (a JVM LocalRelation)
      → ONE groupBy(date_from) with a conditional aggregate per
        (endpoint, field): permissive cast (P2) + A1/A2 semantics
      → left join weather (missing weather proceeds, missing ERCOT
        aborts the row — reference sentence_builder.py:122-127)
      → ONE select: vector_id, derived renewables (P8) → 11-line
        sentence (U2, pure expression), pandas_udf embedding (U1) of
        that sentence, updated_at
      → parquet/JDBC upsert by vector_id (K1)

The aggregates and the sentence are Spark SQL strings, which the JVM
parses one per call: the 2-day plan builds in ~210 py4j round trips,
where the same expressions built Column by Column took 3.5k-4.9k. The
plan has one ERCOT leaf whatever the window length, and its row
count rides the upsert as an ``Observation`` (no second pass).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import make_embed_udf, scrubbed_for_embedding
from quantum_rag_data_pipeline_spark.functions.formatting import semantic_sentence
from quantum_rag_data_pipeline_spark.sources.ercot import ErcotQueries, day_windows, envelope_rows

#: the fixed metric catalog (reference src/main.py:101-108,122-125,
#: 140-144,159-162,180-183,203-205): endpoint → [(field, method, alias)]
METRIC_CATALOG: dict[str, list[tuple[str, str, str]]] = {
    "gen_summary": [
        ("sumBasePointNonIRR", "average", "sum_base_point_non_irr"),
        ("sumHASLNonIRR", "average", "sum_hasl_non_irr"),
        ("sumLASLNonIRR", "average", "sum_lasl_non_irr"),
        ("sumBasePointWGR", "sum", "wind_sum"),
        ("sumBasePointPVGR", "sum", "solar_sum"),
        ("sumBasePointREMRES", "sum", "remres_sum"),
    ],
    "load_summary": [
        ("aggLoadSummary", "average", "agg_load_summary"),
        ("sumTelemGenMW", "average", "sum_telem_gen_mw"),
    ],
    "output_schedule": [
        ("sumOutputSched", "average", "sum_output_sched"),
        ("sumLSLOutputSched", "average", "sum_lsl_output_sched"),
        ("sumHSLOutputSched", "average", "sum_hsl_output_sched"),
    ],
    "dsr_loads": [
        ("sumTelemDSRLoad", "average", "sum_telem_dsr_load"),
        ("sumTelemDSRGen", "average", "sum_telem_dsr_gen"),
    ],
    "ancillary_ecrss": [
        ("MWOffered", "max", "mw_offered"),
        ("ECRSSOfferPrice", "average", "ecrss_offer_price"),
    ],
    "dam_hubavg_price": [
        ("settlementPointPrice", "average", "dam_avg_price_raw"),
    ],
}


#: A1/A2 aggregation methods of the catalog, as Spark SQL aggregates
AGGREGATES = {"average": "avg", "max": "max", "sum": "sum"}


def fetch_all_endpoints(
    spark: SparkSession, queries: ErcotQueries, start: str, end: str
) -> tuple[DataFrame, dict[str, set[str]]]:
    """Driver-side fetch of every (endpoint, day-window) envelope into
    ONE long-form frame (date_from, endpoint, field, value), built
    through pandas → Arrow so it plans as a JVM local relation, plus each
    endpoint's header fields over the whole window."""
    fetchers = {
        "load_summary": queries.load_summary,
        "dsr_loads": queries.dsr_loads,
        "gen_summary": queries.gen_summary,
        "output_schedule": queries.output_schedule,
        "ancillary_ecrss": lambda a, b: queries.as_offers(a, b, "ecrss"),
        "dam_hubavg_price": queries.dam_prices,
    }
    cells = []
    headers: dict[str, set[str]] = {}
    for name, fetch in fetchers.items():
        header = headers[name] = set()
        for date_from, date_to in day_windows(start, end):
            for env in fetch(date_from, date_to):
                header.update(f["name"] for f in env.get("fields", []))
                cells += [(date_from, name, field, value) for field, value in envelope_rows(env)]
    pdf = pd.DataFrame(cells, columns=["date_from", "endpoint", "field", "value"])
    schema = "date_from string, endpoint string, field string, value string"
    return spark.createDataFrame(pdf, schema), headers


def daily_aggregates(cells: DataFrame, headers: dict[str, set[str]]) -> DataFrame:
    """One row per day any endpoint served, one DOUBLE column per catalog
    alias, with the reference's semantics: a field absent from the
    endpoint's header → NULL (P3 → N/A downstream); a day the endpoint
    served with zero parseable values → 0.0 (src/main.py:90-91); a day
    the endpoint did not serve → NULL. Each aggregate is one SQL string
    (``0D``: a bare ``0.0`` would be a DECIMAL)."""
    aggs = []
    for name, catalog in METRIC_CATALOG.items():
        ours = f"endpoint = '{name}'"
        served = f"CASE WHEN max({ours}) THEN 0D END"
        for field, method, alias in catalog:
            if field in headers[name]:
                value = f"CASE WHEN {ours} AND field = '{field}' THEN try_cast(value AS DOUBLE) END"
                aggs.append(f"coalesce({AGGREGATES[method]}({value}), {served}) AS {alias}")
            else:
                aggs.append(f"CAST(NULL AS DOUBLE) AS {alias}")
    return cells.groupBy("date_from").agg(*map(F.expr, aggs))


def build_daily_summaries(
    spark: SparkSession,
    queries: ErcotQueries,
    weather_daily_avg: DataFrame | None,
    start: str,
    end: str,
    encoder=None,
    embed_dim: int = 1536,
) -> DataFrame:
    """Returns one row per day: (vector_id, semantic_sentence, date_from,
    embedding, updated_at) — the pgvector sink row (FIXTURES.md §4)."""
    # a day missing from ONE endpoint keeps its row with NULL metrics
    # (→ N/A in the sentence), matching the reference, where
    # extract_field_values returns {} for an empty envelope but the day's
    # sentence still renders (src/main.py + sentence_builder N/A paths).
    # A day with data from NO endpoint forms no group — the reference's
    # fetch-returned-None case.
    days = daily_aggregates(*fetch_all_endpoints(spark, queries, start, end))
    if weather_daily_avg is not None:
        w = weather_daily_avg.selectExpr("CAST(date AS STRING) AS date_from", "avg_temp_c")
        days = days.join(F.broadcast(w), "date_from", "left")
        avg_temp_c = "avg_temp_c"
    else:
        avg_temp_c = "CAST(NULL AS DOUBLE)"
    sentence = semantic_sentence(
        date_from="date_from",
        date_to="date_add(date_from, 1)",
        agg_load_summary="agg_load_summary",
        sum_telem_gen_mw="sum_telem_gen_mw",
        # DAM price parity (src/main.py:207): a falsy average (0.0 or
        # missing) renders N/A, not "0.00 $/MWh"
        dam_avg_price="nullif(dam_avg_price_raw, 0D)",
        wind_sum="wind_sum",
        solar_sum="solar_sum",
        remres_sum="remres_sum",
        mw_offered="mw_offered",
        sum_telem_dsr_load="sum_telem_dsr_load",
        sum_output_sched="sum_output_sched",
        sum_lsl_output_sched="sum_lsl_output_sched",
        sum_hsl_output_sched="sum_hsl_output_sched",
        sum_base_point_non_irr="sum_base_point_non_irr",
        sum_hasl_non_irr="sum_hasl_non_irr",
        sum_lasl_non_irr="sum_lasl_non_irr",
        avg_temp_c=avg_temp_c,
    )
    embed = make_embed_udf(encoder, embed_dim)
    # the embedding reads the sentence by its alias (a lateral column
    # alias), so the plan renders each sentence once
    return days.select(
        F.expr("concat('daily_summary_', date_from) AS vector_id"),
        F.expr(f"{sentence} AS semantic_sentence"),
        "date_from",
        embed(scrubbed_for_embedding(F.col("semantic_sentence"))).alias("embedding"),
        F.current_timestamp().alias("updated_at"),
    )


def run_daily_summary_pipeline(
    spark: SparkSession,
    queries: ErcotQueries,
    weather_daily_avg: DataFrame | None,
    start: str,
    end: str,
    sink_path: str,
    encoder=None,
    embed_dim: int = 1536,
) -> int:
    """End-to-end: build + upsert. Returns the number of summary rows,
    counted by an ``Observation`` riding the upsert's write (no second
    pass over the lineage). Idempotent: re-running any window leaves the
    sink unchanged modulo updated_at (K1 semantics)."""
    from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert

    rows = build_daily_summaries(spark, queries, weather_daily_avg, start, end, encoder, embed_dim)
    obs = Observation("daily_summary_rows")
    out = rows.select("vector_id", "embedding", "semantic_sentence", "updated_at") \
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    parquet_upsert(spark, out, sink_path, ["vector_id"], version_col="updated_at")
    return obs.get["rows"]
