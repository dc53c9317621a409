"""Spark 4 Python DataSource for the ERCOT envelope API (S1 scale path).

``plans.daily_summary`` fetches on the driver — right for page-sized
payloads. This DataSource is the 1000-executor version: one input
partition per (endpoint, day-window), each EXECUTOR fetches its own
envelope and decodes it with the same ``envelope_rows``, so ingest
parallelism = number of windows, and Spark task retry covers transient
fetch failures per partition.

Usage:
    from quantum_rag_data_pipeline_spark.sources.ercot_datasource import register
    register(spark)          # registers format "ercot_envelope"
    df = (spark.read.format("ercot_envelope")
          .option("endpoint", "np3-910-er/2d_agg_gen_summary")
          .option("date_from", "2025-05-01")
          .option("date_to", "2025-05-09")   # exclusive
          .load())
    # → long form: date_from, field, value (permissive-cast downstream)

The fetch client is resolved per-partition from the options: the
deterministic fixture client here (executors cannot ship live auth
tokens through options safely; a real deployment resolves credentials
executor-side from its secret store — same hook)."""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from quantum_rag_data_pipeline_spark.sources.ercot import FakeErcotClient, day_windows, envelope_rows

SCHEMA = "date_from string, field string, value string"

#: fields served per endpoint by the fixture client (FIXTURES.md §1)
FIXTURE_FIELDS = {
    "np3-910-er/2d_agg_gen_summary": [
        "SCEDTimestamp", "sumBasePointNonIRR", "sumHASLNonIRR", "sumLASLNonIRR",
        "sumBasePointWGR", "sumBasePointPVGR", "sumBasePointREMRES",
    ],
    "np3-910-er/2d_agg_load_summary": ["SCEDTimestamp", "aggLoadSummary", "sumTelemGenMW"],
    "np3-910-er/2d_agg_out_sched": [
        "SCEDTimestamp", "sumOutputSched", "sumLSLOutputSched", "sumHSLOutputSched",
    ],
    "np3-910-er/2d_agg_dsr_loads": ["SCEDTimestamp", "sumTelemDSRLoad", "sumTelemDSRGen"],
}


class WindowPartition(InputPartition):
    def __init__(self, endpoint: str, date_from: str, date_to: str):
        self.endpoint = endpoint
        self.date_from = date_from
        self.date_to = date_to


class ErcotEnvelopeReader(DataSourceReader):
    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint", "np3-910-er/2d_agg_gen_summary")
        self.date_from = options["date_from"]
        self.date_to = options["date_to"]

    def partitions(self):
        return [WindowPartition(self.endpoint, a, b) for a, b in day_windows(self.date_from, self.date_to)]

    def read(self, partition: WindowPartition):
        # executor-side fetch: one envelope per partition
        fields = FIXTURE_FIELDS.get(partition.endpoint, ["SCEDTimestamp", "value"])
        client = FakeErcotClient({partition.endpoint: fields})
        env = client.get_data(partition.endpoint, {
            "SCEDTimestampFrom": f"{partition.date_from}T00:00:00",
            "SCEDTimestampTo": f"{partition.date_to}T00:00:00",
            "page": 1, "size": 100,
        })
        for field, value in envelope_rows(env):
            yield (partition.date_from, field, value)


class ErcotTickStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the Python DataSource matrix (Spark 4
    ``simpleStreamReader``): a deterministic ERCOT-shaped tick feed.

    Offsets are plain dicts ``{"batch": N}``; each micro-batch emits 16
    ticks whose values are a pure function of (batch, i) — the same
    no-RNG reproducibility rule as the batch reader above — and the
    feed is FINITE (``n_batches``, default 3): once drained,
    ``read`` returns the same offset with no rows, so a test can wait
    for exactly n_batches·16 rows and stop. The driver-side simple
    reader is the right tier here (ticks are tiny; the partition-
    planning ``streamReader`` tier buys nothing) — prefetched rows are
    replayed by the engine between offsets for exactly-once."""

    ROWS_PER_BATCH = 16

    def __init__(self, options: dict):
        self.n_batches = int(options.get("n_batches", "3"))

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def _rows(self, batch: int):
        for i in range(self.ROWS_PER_BATCH):
            # deterministic "SCED telemetry": MW value from the Knuth hash
            mw = float(((batch * self.ROWS_PER_BATCH + i) * 2654435761 % 4294967296) % 100000) / 100.0
            yield (f"2024-01-0{batch + 1}T00:{i:02d}:00", "HB_HUBAVG", mw)

    def read(self, start: dict):
        b = start["batch"]
        if b >= self.n_batches:
            return iter([]), {"batch": b}
        # a LIST iterator, not a generator: the engine's prefetch cache
        # copy.copy()s the iterator for offset replay, and generators
        # aren't copyable (TypeError: cannot pickle 'generator')
        return iter(list(self._rows(b))), {"batch": b + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for b in range(start["batch"], end["batch"]):
            rows.extend(self._rows(b))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


TICK_SCHEMA = "sced_ts string, settlement_point string, mw double"


class ErcotEnvelopeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ercot_envelope"

    def schema(self) -> str:
        # batch reads use the envelope schema; streaming reads (the tick
        # feed) declare theirs via the ercot_ticks source below
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return ErcotEnvelopeReader(self.options)


class ErcotTickStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ercot_ticks"

    def schema(self) -> str:
        return TICK_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return ErcotTickStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ErcotEnvelopeDataSource)
    spark.dataSource.register(ErcotTickStreamDataSource)
