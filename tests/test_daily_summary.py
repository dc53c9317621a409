"""The daily-summary plan's presence rules, pagination, plan shape and
row accounting, pinned through the public entry points."""

from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch
from quantum_rag_data_pipeline_spark.plans.daily_summary import (
    METRIC_CATALOG,
    build_daily_summaries,
    run_daily_summary_pipeline,
)
from quantum_rag_data_pipeline_spark.sources.ercot import ENDPOINTS, ErcotQueries, FakeErcotClient
from quantum_rag_data_pipeline_spark.sources.weather import daily_avg_temperature, fake_daily_weather

ROUTES = {
    ENDPOINTS["load_summary"]: "load_summary",
    ENDPOINTS["dsr_loads"]: "dsr_loads",
    ENDPOINTS["gen_summary"]: "gen_summary",
    ENDPOINTS["output_schedule"]: "output_schedule",
    ENDPOINTS["as_offers"].format(service_type="ecrss"): "ancillary_ecrss",
    ENDPOINTS["dam_prices"]: "dam_hubavg_price",
}

#: one constant value per field, so every average and max equals it and
#: every sum is twice it (two records per envelope)
VALUES = {
    "aggLoadSummary": 50000, "sumTelemGenMW": 48000, "settlementPointPrice": 31.25,
    "sumBasePointWGR": 960, "sumBasePointPVGR": 1920, "sumBasePointREMRES": 480,
    "MWOffered": 4400, "ECRSSOfferPrice": 12, "sumTelemDSRLoad": 220, "sumTelemDSRGen": 100,
    "sumOutputSched": 4300, "sumLSLOutputSched": 3000, "sumHSLOutputSched": 16000,
    "sumBasePointNonIRR": 34500, "sumHASLNonIRR": 41000, "sumLASLNonIRR": 19600,
}


class EdgeClient:
    """Two records per envelope, except on the planted edge days:

    - gen_summary never serves ``sumBasePointNonIRR`` (absent header field);
    - 2025-05-02: dsr_loads serves no records;
    - 2025-05-03: no endpoint serves any record;
    - 2025-05-04: output_schedule serves only junk and an empty record.
    """

    def get_data(self, endpoint, params):
        name = ROUTES[endpoint]
        day = (params.get("SCEDTimestampFrom") or params["deliveryDateFrom"])[:10]
        fields = [f for f, _, _ in METRIC_CATALOG[name] if f != "sumBasePointNonIRR"]
        header = [{"name": f} for f in fields]
        if day == "2025-05-03" or (day == "2025-05-02" and name == "dsr_loads"):
            return {"fields": header, "data": []}
        if day == "2025-05-04" and name == "output_schedule":
            return {"fields": header, "data": [["N/A", None, "junk"], []]}
        rec = [VALUES[f] for f in fields]
        return {"fields": header, "data": [rec, [str(v) for v in rec]]}


def _sentence(day, next_day, dsr="220 MW", sced="4300 MW (headroom LSL 3000 MW | HSL 16000 MW)"):
    return "\n".join([
        "ISO: ERCOT",
        f"Date_from: {day}",
        f"Date_to:   {next_day}",
        "Avg system load: 50000 MW",
        "Telemetry generation: 48000 MW",
        "DAM HubAvg price: 31.25 $/MWh",
        "Renewables: 70 MW (wind 20 MW | solar 40 MW | other 10 MW) (0%)",
        "ECRSS max offer: 4400 MW",
        f"DSR load: {dsr}",
        f"SCED dispatchable: {sced}",
        "Base-point non-intermittent: N/A (SH 41000 MW | SL 19600 MW)",
        "Avg Texas temp: N/A",
    ])


def test_presence_rules_and_empty_day(spark):
    """A header-absent field renders N/A on every day; an endpoint that
    served nothing that day renders N/A; an endpoint that served records
    with no parseable value renders 0; a day no endpoint served has no
    row at all."""
    df = build_daily_summaries(
        spark, ErcotQueries(spark, EdgeClient()), None, "2025-05-01", "2025-05-05", embed_dim=8)
    got = {r["vector_id"]: r["semantic_sentence"] for r in df.collect()}
    assert got == {
        "daily_summary_2025-05-01": _sentence("2025-05-01", "2025-05-02"),
        "daily_summary_2025-05-02": _sentence("2025-05-02", "2025-05-03", dsr="N/A"),
        "daily_summary_2025-05-04": _sentence(
            "2025-05-04", "2025-05-05", sced="0 MW (headroom LSL 0 MW | HSL 0 MW)"),
    }


class PagedClient:
    """250 records per (endpoint, day), served in pages of ``size``;
    record i carries i in every field."""

    ROWS = 250

    def __init__(self):
        self.calls = []

    def get_data(self, endpoint, params):
        self.calls.append((endpoint, params["page"]))
        name = ROUTES[endpoint]
        fields = [f for f, _, _ in METRIC_CATALOG[name]]
        lo = (params["page"] - 1) * params["size"]
        rows = range(lo, min(lo + params["size"], self.ROWS))
        return {"fields": [{"name": f} for f in fields], "data": [[float(i)] * len(fields) for i in rows]}


def test_paginate_fetches_every_page(spark):
    client = PagedClient()
    q = ErcotQueries(spark, client, size=100, paginate=True)
    (row,) = build_daily_summaries(spark, q, None, "2025-05-01", "2025-05-02", embed_dim=8).collect()
    per_endpoint = {}
    for endpoint, page in client.calls:
        per_endpoint.setdefault(endpoint, []).append(page)
    assert per_endpoint == {route: [1, 2, 3] for route in ROUTES}
    lines = row["semantic_sentence"].split("\n")
    # max over all 250 records sits on page 3; the mean of 0..249 is 124.5
    assert "ECRSS max offer: 249 MW" in lines
    assert "Avg system load: 124 MW" in lines  # half-even, like Python's round
    # sum over all 250 records: 249*250/2 / 96 = 324.2 per source, 781% of 124.5
    assert "Renewables: 973 MW (wind 324 MW | solar 324 MW | other 324 MW) (781%)" in lines


def test_pipeline_counts_rows_on_the_write(spark, tmp_path):
    """The returned count equals the days with data, and the whole run
    embeds each row once: nothing re-runs the lineage to count it."""
    embedded = spark.sparkContext.accumulator(0)

    def encoder(texts):
        embedded.add(len(texts))
        return fake_encode_batch(texts, 8)

    sink = str(tmp_path / "sink")
    n = run_daily_summary_pipeline(spark, ErcotQueries(spark, EdgeClient()), None, "2025-05-01",
                                   "2025-05-05", sink, encoder=encoder, embed_dim=8)
    assert n == 3  # 2025-05-03 had no data from any endpoint
    assert embedded.value == 3
    assert spark.read.parquet(sink).count() == 3


def test_plan_leaves_do_not_grow_with_days(spark):
    """The ERCOT cells are one Arrow literal relation: the plan has no
    Python-RDD leaf and as many leaves for 30 days as for 2."""
    fields = {route: [f for f, _, _ in METRIC_CATALOG[name]] for route, name in ROUTES.items()}

    def leaves(end):
        weather = daily_avg_temperature(fake_daily_weather(spark, "2025-05-01", end))
        df = build_daily_summaries(spark, ErcotQueries(spark, FakeErcotClient(fields, rows_per_day=4)),
                                   weather, "2025-05-01", end, embed_dim=8)
        seq = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return [seq.apply(i).nodeName() for i in range(seq.size())]

    two, thirty = leaves("2025-05-03"), leaves("2025-05-31")
    assert "LogicalRDD" not in two + thirty
    assert len(two) == len(thirty)
