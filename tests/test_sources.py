"""Source/sink round-trips for every built-in file format.

Parquet/ORC are self-describing; CSV/JSON restore types via
schema-on-read (write_table/read_table docstrings explain why
inferSchema is banned in pipelines). Also: the documents-fixture
assumption gate."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from spark_sklearn_spark.sources.io import (
    load,
    read_table,
    snapshot,
    supported_formats,
    write_table,
)


def _sample(spark, sf_dir):
    # nation: strings + ints; plus a timestamp and double column from
    # events to exercise the type surface csv/json most often mangles
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "value", "event_type"
    ).limit(200)
    return ev


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip_lossless_with_schema(spark, sf_dir, tmp_path, fmt):
    df = _sample(spark, sf_dir)
    path = str(tmp_path / f"events_{fmt}")
    write_table(df, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema=df.schema)
    assert back.schema == df.schema
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b, f"{fmt} round-trip lost rows/values"


def test_text_sink_roundtrip(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents").select("text").limit(50)
    path = str(tmp_path / "docs_text")
    write_table(docs, path, fmt="text")
    back = read_table(spark, path, fmt="text").withColumnRenamed(
        "value", "text"
    )
    assert sorted(r.text for r in back.collect()) == sorted(
        r.text for r in docs.collect()
    )


def test_partitioned_csv_prunes(spark, sf_dir, tmp_path):
    df = _sample(spark, sf_dir)
    path = str(tmp_path / "events_csv_part")
    write_table(df, path, fmt="csv", partition_by=["event_type"])
    back = read_table(spark, path, fmt="csv",
                      schema="event_id bigint, ts timestamp, value double")
    one = back.filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert one.count() > 0


def test_supported_formats_reports_builtins(spark):
    fmts = supported_formats(spark)
    for f in ("parquet", "orc", "json", "csv", "text"):
        assert f in fmts


def test_snapshot_writes_once_per_key(spark, tmp_path):
    """``write`` runs once per (sf_dir, kind); a different kind or a
    different sf_dir builds its own snapshot."""
    calls = []
    d1, d2 = str(tmp_path / "sf_a"), str(tmp_path / "sf_b")
    path = snapshot(spark, d1, "test_snapshot", calls.append)
    assert snapshot(spark, d1, "test_snapshot", calls.append) == path
    assert calls == [path]
    assert re.search(r"/spark-warehouse/test_snapshot/sf_a_[0-9a-f]{6}$", path)
    other_kind = snapshot(spark, d1, "test_snapshot_other", calls.append)
    other_dir = snapshot(spark, d2, "test_snapshot", calls.append)
    assert calls == [path, other_kind, other_dir]
    assert len(set(calls)) == 3


def test_snapshot_failed_write_memoizes_nothing(spark, tmp_path):
    attempts = []

    def flaky(path):
        attempts.append(path)
        if len(attempts) == 1:
            raise OSError("disk full")

    d = str(tmp_path / "sf")
    with pytest.raises(OSError):
        snapshot(spark, d, "test_snapshot", flaky)
    path = snapshot(spark, d, "test_snapshot", flaky)
    assert snapshot(spark, d, "test_snapshot", flaky) == path
    assert attempts == [path, path]


# A fixture regen that breaks the resize oracle's text assumption must
# fail here, loudly, not as a silent driver hash mismatch.
FIXTURES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
]


@pytest.mark.parametrize("d", FIXTURES)
def test_documents_text_ascii_nonempty(spark, d):
    """octet_length(text) == char length AND length > 0 for every
    document — the q_multimodal_resize oracle's load-bearing
    assumption (pipeline3.py resize oracle: character-based substr/
    ord vs Spark's byte-level numpy raster)."""
    from spark_sklearn_spark.sources.io import load

    bad = (
        load(spark, d, "documents")
        .selectExpr(
            "count_if(text IS NULL) AS nulls",
            "count_if(length(text) = 0) AS empties",
            "count_if(octet_length(encode(text, 'utf-8')) != length(text))"
            " AS multibyte",
        )
        .collect()[0]
    )
    assert bad["nulls"] == 0, "documents.text has NULLs — resize oracle unsafe"
    assert bad["empties"] == 0, (
        "documents.text has empty strings — k % n divides by zero in the "
        "q_multimodal_resize oracle"
    )
    assert bad["multibyte"] == 0, (
        "documents.text contains multibyte chars — the character-based "
        "DuckDB resize oracle no longer equals Spark's byte-level path"
    )
