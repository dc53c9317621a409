"""ERCOT-style API sources (SURVEY.md §2.1, S1–S10).

The reference fetches six ERCOT REST endpoints returning a self-describing
envelope ``{"fields": [{"name": ...}, ...], "data": [[v, ...], ...]}``
(consumed at reference ``src/main.py:59-66``) and extracts configured
metric fields with permissive numeric parsing.

Spark-first re-expression:
- a thin **client protocol** (injectable; the deterministic fake below is
  used everywhere in tests) fetches the envelope on the driver — payloads
  are tiny (page size 100, reference ``queries.py:41-42``), and clients
  holding live auth or test state need not pickle to Python workers;
- ``envelope_rows`` decodes an envelope into long form, one
  ``(field, value)`` per cell with ALL values as strings to be
  permissively cast downstream (P2). ``plans.daily_summary`` collects
  every (endpoint, day) envelope into ONE Arrow literal relation of these
  cells;
- query parameters (date range, settlementPoint, hourEnding, service
  type) are **pushdown by construction**: they are sent to the source,
  never filtered post-hoc (reference ``queries.py:66-74,241-253,282-286``).

Retry/backoff (S2, reference ``client.py:61-71``) and OAuth token
management (S3, reference ``auth.py``) are connector concerns: they live
in the client object, outside the query plan.
"""

from __future__ import annotations

import hashlib
import math
import random
import time
from collections.abc import Callable
from datetime import date, timedelta
from typing import Any, Protocol

from pyspark.sql import SparkSession

# endpoints mirrored from reference queries.py (routes at :63,:106,:147,
# :188,:239,:280); service types validated per :233-237.
ENDPOINTS = {
    "load_summary": "np3-910-er/2d_agg_load_summary",
    "dsr_loads": "np3-910-er/2d_agg_dsr_loads",
    "gen_summary": "np3-910-er/2d_agg_gen_summary",
    "output_schedule": "np3-910-er/2d_agg_out_sched",
    "as_offers": "np3-911-er/2d_agg_as_offers_{service_type}",
    "dam_prices": "np4-190-cd/dam_stlmnt_pnt_prices",
}

VALID_AS_TYPES = ("ecrsm", "ecrss", "offns", "onns", "regdn", "regup", "rrsffr", "rrspfr", "rrsufr")


class EnvelopeClient(Protocol):
    def get_data(self, endpoint: str, params: dict[str, Any]) -> dict: ...


class RetryingClient:
    """S2: exponential backoff + jitter on throttling errors — delay =
    base * 2**attempt + uniform(0, 2), mirroring reference client.py:65.
    Wraps any fetch callable; Spark task retry is orthogonal (executor
    side), this guards the driver-side fetch."""

    def __init__(self, fetch: Callable[[str, dict], dict], max_retries: int = 8,
                 base_delay: float = 5.0, sleep=time.sleep, rand=random.uniform):
        self._fetch = fetch
        self.max_retries = max_retries
        self.base_delay = base_delay
        self._sleep = sleep
        self._rand = rand

    def get_data(self, endpoint: str, params: dict[str, Any]) -> dict:
        last: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                return self._fetch(endpoint, params)
            except ThrottledError as e:  # 429-equivalent
                last = e
                self._sleep(self.base_delay * (2**attempt) + self._rand(0, 2))
        raise last if last else RuntimeError("unreachable")


class ThrottledError(RuntimeError):
    """HTTP 429 equivalent."""


class FakeErcotClient:
    """Deterministic fake: seeded by (endpoint, params) hash, emits the
    reference envelope shape including the malformed-cell cases the
    permissive cast must tolerate (numeric strings, None, junk strings,
    short records — FIXTURES.md §1)."""

    def __init__(self, fields_by_endpoint: dict[str, list[str]] | None = None,
                 rows_per_day: int = 96, junk_rate: float = 0.05):
        self.fields_by_endpoint = fields_by_endpoint or {}
        self.rows_per_day = rows_per_day
        self.junk_rate = junk_rate

    def get_data(self, endpoint: str, params: dict[str, Any]) -> dict:
        fields = self.fields_by_endpoint.get(endpoint)
        if fields is None:
            raise KeyError(f"no fixture fields for endpoint {endpoint}")
        seed = int.from_bytes(
            hashlib.sha256(repr((endpoint, sorted(params.items()))).encode()).digest()[:8], "big"
        )
        rng = random.Random(seed)
        data = []
        for i in range(self.rows_per_day):
            rec: list[Any] = []
            for j, _f in enumerate(fields):
                r = rng.random()
                base = 1000.0 * (j + 1) * (1 + 0.3 * math.sin(i / 7.0)) + rng.random() * 50
                if r < self.junk_rate / 3:
                    rec.append(None)
                elif r < 2 * self.junk_rate / 3:
                    rec.append("N/A")
                elif r < self.junk_rate:
                    rec.append(f"{base:.2f}")  # numeric string — must parse
                else:
                    rec.append(round(base, 2))
            if rng.random() < 0.02:
                rec = rec[: max(1, len(fields) - 2)]  # short record — skip cells
            data.append(rec)
        return {"fields": [{"name": f} for f in fields], "data": data}


def envelope_rows(envelope: dict) -> list[tuple[str, str | None]]:
    """One ``(field, value)`` per cell: the ``fields`` header names the
    cells, each record is read up to the header width and right-padded
    with None (the reference skips those cells, ``src/main.py:74``), and
    every value lands as a string (permissive cast happens downstream
    with try_cast, preserving the reference's drop-bad-cells semantics)."""
    names = [f["name"] for f in envelope.get("fields", [])]
    return [
        (name, None if i >= len(rec) or rec[i] is None else str(rec[i]))
        for rec in envelope.get("data", [])
        for i, name in enumerate(names)
    ]


def day_windows(start: str, end: str) -> list[tuple[str, str]]:
    """[(d, d+1) for d in [start, end)) — the reference's 2-day windows
    with 1-day slide (src/main.py:288-303,341-369)."""
    d0, d1 = date.fromisoformat(start), date.fromisoformat(end)
    return [((d0 + timedelta(days=i)).isoformat(), (d0 + timedelta(days=i + 1)).isoformat())
            for i in range((d1 - d0).days)]


class ErcotQueries:
    """Parameterized source views (S4–S9). Each method builds the request
    the reference builds (params at queries.py:69-74,109-110,150-151,
    191-192,244-253,282-286) and returns the fetched envelope pages.
    Predicates are part of source construction — pushdown by
    construction."""

    def __init__(self, spark: SparkSession, client: EnvelopeClient,
                 page: int = 1, size: int = 100, paginate: bool = False):
        # paginate=False reproduces the reference's page-1-only behavior
        # (S10 quirk, call sites src/main.py:97-205); True generalizes.
        self.spark = spark
        self.client = client
        self.page = page
        self.size = size
        self.paginate = paginate

    def _fetch(self, endpoint: str, params: dict[str, Any]) -> list[dict]:
        params = {"page": self.page, "size": self.size, **params}
        pages = [self.client.get_data(endpoint, params)]
        if self.paginate:
            page = self.page
            while len(pages[-1].get("data", [])) == self.size:
                page += 1
                pages.append(self.client.get_data(endpoint, {**params, "page": page}))
        return pages

    def _window_params(self, date_from: str, date_to: str) -> dict[str, Any]:
        return {
            "SCEDTimestampFrom": f"{date_from}T00:00:00",
            "SCEDTimestampTo": f"{date_to}T00:00:00",
        }

    def load_summary(self, date_from: str, date_to: str) -> list[dict]:
        return self._fetch(ENDPOINTS["load_summary"], self._window_params(date_from, date_to))

    def dsr_loads(self, date_from: str, date_to: str) -> list[dict]:
        return self._fetch(ENDPOINTS["dsr_loads"], self._window_params(date_from, date_to))

    def gen_summary(self, date_from: str, date_to: str) -> list[dict]:
        return self._fetch(ENDPOINTS["gen_summary"], self._window_params(date_from, date_to))

    def output_schedule(self, date_from: str, date_to: str) -> list[dict]:
        return self._fetch(ENDPOINTS["output_schedule"], self._window_params(date_from, date_to))

    def as_offers(self, date_from: str, date_to: str, service_type: str = "ecrss",
                  hour_ending_from: int | None = None, hour_ending_to: int | None = None) -> list[dict]:
        service_type = service_type.lower()
        if service_type not in VALID_AS_TYPES:
            raise ValueError(f"service_type must be one of {VALID_AS_TYPES}, got {service_type!r}")
        params: dict[str, Any] = {"deliveryDateFrom": date_from, "deliveryDateTo": date_to}
        if hour_ending_from is not None:
            params["hourEndingFrom"] = hour_ending_from
        if hour_ending_to is not None:
            params["hourEndingTo"] = hour_ending_to
        return self._fetch(ENDPOINTS["as_offers"].format(service_type=service_type), params)

    def dam_prices(self, date_from: str, date_to: str, settlement_point: str = "HB_HUBAVG") -> list[dict]:
        return self._fetch(
            ENDPOINTS["dam_prices"],
            {"deliveryDateFrom": date_from, "deliveryDateTo": date_to, "settlementPoint": settlement_point},
        )
