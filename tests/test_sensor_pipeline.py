"""Reference-parity tests for the sensor ingest pipeline.

Mirrors the reference's own suite (test/test_convert.py: happy-path
rename + strict-arity ValueError) and automates what the reference only
verified manually via cqlsh (SURVEY.md §5).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from unimib_simpss_spark.operators.rename import convert, project_ordered
from unimib_simpss_spark.operators.sensor_pipeline import (
    PERSISTED_COLUMNS,
    RAW_TO_PERSISTED,
    dedup_by_primary_key,
    sensor_pipeline,
)
from unimib_simpss_spark.sources.csv_dim import distinct_groups, read_sensor_group_mapping
from unimib_simpss_spark.streaming.sinks import read_keyed_parquet, upsert_keyed_parquet

# FIXTURES.md §1 example row + reference sensor_group.csv:1-5 verbatim shape
RAW_ROWS = [
    {"id": 120, "uptime": 3600, "T": 918, "P": 432, "H": 55, "Ix": -235, "Iy": 12, "Iz": 981, "M": 56},
    {"id": 121, "uptime": 10, "T": 900, "P": 400, "H": 50, "Ix": 1, "Iy": 2, "Iz": 3, "M": 0},
    {"id": 122, "uptime": 20, "T": 910, "P": 410, "H": 51, "Ix": 4, "Iy": 5, "Iz": 6, "M": 1},
]
DIM_CSV = "sensor_id,group_id\n120,g1\n121,g1\n122,g2\n123,g2\n"


@pytest.fixture()
def dim(spark, tmp_path):
    p = tmp_path / "sensor_group.csv"
    p.write_text(DIM_CSV)
    return read_sensor_group_mapping(spark, str(p))


def _raw_df(spark, rows=RAW_ROWS):
    return spark.createDataFrame(
        [json.dumps(r) for r in rows], "string"
    ).withColumnRenamed("value", "value")


# ---------------------------------------------------------------- convert P1
def test_convert_happy_path(spark):
    # reference test/test_convert.py:8-41
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    out = convert(df, {"a": "x", "b": "y"})
    assert out.columns == ["x", "y"]
    assert out.collect()[0].asDict() == {"x": 1, "y": 2}


def test_convert_strict_arity(spark):
    # reference test/test_convert.py:44-66 — ValueError on arity mismatch
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError, match="schema mismatch"):
        convert(df, {"a": "x"})
    with pytest.raises(ValueError, match="schema mismatch"):
        convert(df, {"a": "x", "b": "y", "c": "z"})


def test_project_ordered_missing_becomes_null(spark):
    # cassandra_storage.py:85-86 — absent column → NULL at insert
    df = spark.createDataFrame([(1,)], "a int")
    out = project_ordered(df, ["a", "ghost"], types={"ghost": "long"})
    row = out.collect()[0]
    assert row.a == 1 and row.ghost is None
    assert dict(out.dtypes)["ghost"] == "bigint"


# ---------------------------------------------------------------- dim S5
def test_dim_load_and_groups(dim):
    assert sorted(distinct_groups(dim)) == ["g1", "g2"]
    assert dim.count() == 4


def test_dim_duplicate_id_rejected(spark, tmp_path):
    p = tmp_path / "dup.csv"
    p.write_text("sensor_id,group_id\n120,g1\n120,g2\n")
    with pytest.raises(ValueError, match="duplicated"):
        read_sensor_group_mapping(spark, str(p))


def test_dim_missing_value_rejected(spark, tmp_path):
    p = tmp_path / "nan.csv"
    p.write_text("sensor_id,group_id\n120,g1\n121,\n")
    with pytest.raises(ValueError, match="missing"):
        read_sensor_group_mapping(spark, str(p))


# ------------------------------------------------------------- pipeline EP3
def test_batch_pipeline_end_to_end(spark, dim):
    raw = _raw_df(spark)
    persisted, dead = sensor_pipeline(
        raw, dim, ts_col=F.lit("2024-01-01T12:00:00").cast("timestamp"),
        on_unknown="deadletter",
    )
    rows = {r.sensor_id: r for r in persisted.collect()}
    assert list(persisted.columns) == list(PERSISTED_COLUMNS)
    assert set(rows) == {120, 121, 122}
    assert rows[120].temperature == 918 and rows[120].ix == -235
    assert rows[120].sensor_group == "g1" and rows[122].sensor_group == "g2"
    assert dead.count() == 0


def test_unknown_sensor_deadletter(spark, dim):
    rows = RAW_ROWS + [{**RAW_ROWS[0], "id": 999}]
    persisted, dead = sensor_pipeline(
        _raw_df(spark, rows), dim,
        ts_col=F.lit("2024-01-01T12:00:00").cast("timestamp"),
        on_unknown="deadletter",
    )
    assert persisted.count() == 3
    assert [r.id for r in dead.collect()] == [999]


def test_unknown_sensor_fail_fast(spark, dim):
    # reference behavior: KeyError kills the bridge (mqtt_kafka_producer.py:203-209)
    rows = RAW_ROWS + [{**RAW_ROWS[0], "id": 999}]
    persisted, _ = sensor_pipeline(
        _raw_df(spark, rows), dim,
        ts_col=F.lit("2024-01-01T12:00:00").cast("timestamp"),
        on_unknown="fail",
    )
    with pytest.raises(Exception, match="unknown sensor id: 999"):
        persisted.collect()


def test_corrupt_payload_filtered(spark, dim):
    raw = spark.createDataFrame(
        [json.dumps(RAW_ROWS[0]), "{not json", ""], "string"
    )
    persisted, _ = sensor_pipeline(
        raw, dim, ts_col=F.lit("2024-01-01T12:00:00").cast("timestamp"),
        on_unknown="deadletter",
    )
    assert persisted.count() == 1  # consumer.py:124,133-138 skip semantics


# ------------------------------------------------------------------ sink S4
def test_upsert_last_writer_wins(spark, dim, tmp_path):
    sink = str(tmp_path / "sensor_data")
    ts = F.lit("2024-01-01T12:00:00").cast("timestamp")
    first, _ = sensor_pipeline(_raw_df(spark), dim, ts_col=ts, on_unknown="fail")
    upsert_keyed_parquet(first, sink, ("sensor_group", "sensor_id", "time_received"),
                         partition_col="sensor_group")
    # re-deliver sensor 120 with a changed reading at the SAME PK → overwrite
    redelivered = [{**RAW_ROWS[0], "T": 999}]
    second, _ = sensor_pipeline(_raw_df(spark, redelivered), dim, ts_col=ts, on_unknown="fail")
    upsert_keyed_parquet(second, sink, ("sensor_group", "sensor_id", "time_received"),
                         partition_col="sensor_group")
    stored = spark.read.parquet(sink)
    assert stored.count() == 3  # still one row per PK — Cassandra upsert semantics
    assert stored.filter(F.col("sensor_id") == 120).collect()[0].temperature == 999


def test_read_handle_survives_a_generation_swap(spark, dim, tmp_path):
    """A read handle lists its files when created; a swap before its
    scan must not fail it (FILE_NOT_EXIST) but leave it on the rows of
    the generation it was created on."""
    sink = str(tmp_path / "sensor_data")
    keys = ("sensor_group", "sensor_id", "time_received")
    ts = F.lit("2024-01-01T12:00:00").cast("timestamp")
    first, _ = sensor_pipeline(_raw_df(spark), dim, ts_col=ts, on_unknown="fail")
    upsert_keyed_parquet(first, sink, keys, partition_col="sensor_group")
    handle = read_keyed_parquet(spark, sink)
    second, _ = sensor_pipeline(
        _raw_df(spark, [{**RAW_ROWS[0], "T": 999}]), dim, ts_col=ts, on_unknown="fail"
    )
    upsert_keyed_parquet(second, sink, keys, partition_col="sensor_group")
    rows = {r.sensor_id: r.temperature for r in handle.collect()}
    assert rows == {r["id"]: r["T"] for r in RAW_ROWS}
    # a new handle sees the swap
    assert read_keyed_parquet(spark, sink).where("sensor_id = 120").first().temperature == 999


def test_dedup_by_primary_key(spark, dim):
    ts = F.lit("2024-01-01T12:00:00").cast("timestamp")
    doubled = _raw_df(spark, RAW_ROWS + RAW_ROWS)
    persisted, _ = sensor_pipeline(doubled, dim, ts_col=ts, on_unknown="fail")
    assert dedup_by_primary_key(persisted).count() == 3
