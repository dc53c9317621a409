"""Sink semantics: K1 parquet upsert, K3/K4 KV flatten + conditional put."""

from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.sinks.kv import flatten_kv_items, store_kv_items
from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert


def test_parquet_upsert_newest_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([("k1", "old", 1), ("k2", "keep", 1)], "id string, v string, ver int")
    parquet_upsert(spark, v1, path, ["id"], version_col="ver")
    v2 = spark.createDataFrame([("k1", "new", 2)], "id string, v string, ver int")
    parquet_upsert(spark, v2, path, ["id"], version_col="ver")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"k1": "new", "k2": "keep"}


def test_parquet_upsert_same_version_prefers_new(spark, tmp_path):
    path = str(tmp_path / "t")
    parquet_upsert(spark, spark.createDataFrame([("k", "a", 1)], "id string, v string, ver int"),
                   path, ["id"], version_col="ver")
    parquet_upsert(spark, spark.createDataFrame([("k", "b", 1)], "id string, v string, ver int"),
                   path, ["id"], version_col="ver")
    assert spark.read.parquet(path).collect()[0]["v"] == "b"


def test_parquet_upsert_failed_swap_keeps_table(spark, tmp_path, monkeypatch):
    """A failure while moving the merged staging copy into place must
    leave the old table readable (deleting it first lost it)."""
    import os

    import pytest

    path = str(tmp_path / "t")
    schema = "id string, v string, ver int"
    parquet_upsert(spark, spark.createDataFrame([("k1", "old", 1), ("k2", "keep", 1)], schema),
                   path, ["id"], version_col="ver")
    real_rename = os.rename

    def failing_rename(src, dst):
        if ".staging-" in str(src):
            raise OSError("injected: staging move failed")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        parquet_upsert(spark, spark.createDataFrame([("k1", "new", 2)], schema),
                       path, ["id"], version_col="ver")
    monkeypatch.undo()
    spark.catalog.refreshByPath(path)
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"k1": "old", "k2": "keep"}
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no aside or staging left


def test_parquet_upsert_restores_leftover_aside(spark, tmp_path):
    """A crash between renaming the live table aside and moving staging
    in leaves only the aside copy; the next upsert must merge into it,
    not start a fresh table."""
    path = str(tmp_path / "t")
    schema = "id string, v string, ver int"
    spark.createDataFrame([("k1", "old", 1), ("k2", "keep", 1)], schema) \
        .write.parquet(f"{path}.aside")
    parquet_upsert(spark, spark.createDataFrame([("k1", "new", 2)], schema),
                   path, ["id"], version_col="ver")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"k1": "new", "k2": "keep"}


KV_SCHEMA = (
    "dataId string, description string, "
    "efficiency struct<value: string, unit: string>, "
    "seller struct<username: string, feedbackScore: bigint, feedbackPercentage: string>, "
    "image struct<imageUrl: string>, "
    "shippingOptions array<struct<shippingCost: struct<value: string>>>, "
    "itemLocation struct<country: string>"
)


def _items(spark):
    return spark.createDataFrame(
        [
            ("i1", "desc", ("12.5", "lm/W"), ("bob", 100, "99.1"), ("http://img",),
             [(("3.99",),)], ("US",)),
            ("i2", "zero-eff", ("0", "lm/W"), (None, None, None), (None,), None, (None,)),
            (None, "no id", ("1", "x"), (None, None, None), (None,), None, (None,)),
            ("i3", "bad eff", ("junk", "x"), (None, None, None), (None,), None, (None,)),
        ],
        KV_SCHEMA,
    )


def test_kv_flatten_paths_and_decimal_coercion(spark):
    flat = flatten_kv_items(_items(spark))
    rows = {r["dataId"]: r for r in flat.collect()}
    assert set(rows) == {"i1", "i2", "i3"}  # NULL dataId rejected (dynamodb.py:67-70)
    assert rows["i1"]["seller_username"] == "bob"
    assert float(rows["i1"]["shipping_cost"]) == 3.99
    assert float(rows["i1"]["efficiency_value"]) == 12.5
    # falsy-0 quirk deliberately FIXED: 0 is kept as a value
    assert float(rows["i2"]["efficiency_value"]) == 0.0
    # invalid numeric → Decimal(0) (dynamodb.py:88-90)
    assert float(rows["i3"]["efficiency_value"]) == 0.0
    assert rows["i1"]["raw_json"].startswith("{")
    assert rows["i1"]["last_updated"] is not None


def test_kv_conditional_put_keeps_existing(spark, tmp_path):
    path = str(tmp_path / "kv")
    store_kv_items(spark, _items(spark), path)
    first = {r["dataId"]: r["description"] for r in spark.read.parquet(path).collect()}
    changed = _items(spark).withColumn("description", F.lit("CHANGED"))
    store_kv_items(spark, changed, path, if_not_exists=True)
    second = {r["dataId"]: r["description"] for r in spark.read.parquet(path).collect()}
    assert second == first  # attribute_not_exists semantics: no overwrite


def test_observed_upsert_tally(spark, tmp_path):
    from quantum_rag_data_pipeline_spark.sinks.upsert import observed_upsert

    path = str(tmp_path / "obs")
    df = spark.createDataFrame(
        [("a", 1, True), ("b", 2, True), ("c", 3, False)],
        "id string, v int, ok boolean",
    )
    tally = observed_upsert(spark, df, path, ["id"], validity_col="ok")
    assert tally == {"attempted": 3, "succeeded": 2, "failed": 1}
    stored = {r["id"] for r in spark.read.parquet(path).collect()}
    assert stored == {"a", "b"}


def test_jdbc_upsert_writer_pages_and_keeps_last_per_key(monkeypatch):
    """The partition goes out in ``page_size`` pages, read lazily, with
    one row per key in a page (its last occurrence); one commit."""
    import sys
    import types

    from pyspark.sql import Row

    from quantum_rag_data_pipeline_spark.sinks.upsert import jdbc_upsert_writer

    log = {"pages": [], "read_at_first_page": None, "commits": 0, "closed": False}
    read = [0]

    class Cursor:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class Conn:
        def cursor(self):
            return Cursor()

        def commit(self):
            log["commits"] += 1

        def close(self):
            log["closed"] = True

    def execute_values(cur, sql, page, page_size):
        assert "ON CONFLICT (vector_id)" in sql and page_size == 3
        if log["read_at_first_page"] is None:
            log["read_at_first_page"] = read[0]
        log["pages"].append(list(page))

    psycopg2 = types.ModuleType("psycopg2")
    psycopg2.connect = lambda dsn: Conn()
    extras = types.ModuleType("psycopg2.extras")
    extras.execute_values = execute_values
    psycopg2.extras = extras
    monkeypatch.setitem(sys.modules, "psycopg2", psycopg2)
    monkeypatch.setitem(sys.modules, "psycopg2.extras", extras)

    keys = ["a", "b", "a", "c", "a", "d", "e", "d", "f", "g"]

    def rows():
        for i, k in enumerate(keys):
            read[0] += 1
            yield Row(vector_id=k, v=i)

    jdbc_upsert_writer("t", ["vector_id"], ["vector_id", "v"], "dsn", page_size=3)(rows())
    assert log["pages"] == [
        [("a", 4), ("b", 1), ("c", 3)],
        [("d", 7), ("e", 6), ("f", 8)],
        [("g", 9)],
    ]
    assert log["read_at_first_page"] == 6  # the 4th distinct key closes page one
    assert log["commits"] == 1 and log["closed"]
