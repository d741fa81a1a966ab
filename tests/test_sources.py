"""Source-layer tests mirroring the reference's schema-adaptation
tests (``tests/test_geocode_schema.py``,
``tests/test_address_iri_pid_map.py`` in /root/reference)."""

from __future__ import annotations

import pytest

from cam_location_addressing_feature_service_etl_spark.sources.esri import (
    incremental_where,
    requires_full_refresh,
    resolve_layer_schema,
)
from cam_location_addressing_feature_service_etl_spark.sources.snapshot import (
    carry_forward_geocodes,
    latest_snapshot,
    read_snapshot_table,
    write_snapshot,
)


# --- S6 schema adaptation ---------------------------------------------------

def test_resolve_layer_schema_alternative_names():
    s = resolve_layer_schema(["OBJECTID", "pid", "type", "last_edited_date"])
    assert s.fields["address_pid"] == "pid"
    assert s.fields["geocode_type"] == "type"
    assert s.fields["objectid"] == "OBJECTID".lower() or s.fields["objectid"] == "objectid"
    assert s.supports_incremental


def test_resolve_layer_schema_canonical_names_win():
    s = resolve_layer_schema(["objectid", "address_pid", "geocode_type"])
    assert s.fields["address_pid"] == "address_pid"
    assert s.fields["geocode_type"] == "geocode_type"
    assert not s.supports_incremental


def test_incremental_where_and_fallback():
    inc = resolve_layer_schema(["objectid", "pid", "last_edited_date"])
    full = resolve_layer_schema(["objectid", "pid"])
    assert incremental_where(inc, "2026-01-01") == "last_edited_date >= DATE '2026-01-01'"
    assert incremental_where(full, "2026-01-01") == "1=1"
    assert incremental_where(inc, None) == "1=1"
    assert requires_full_refresh(full, incremental_requested=True)
    assert not requires_full_refresh(inc, incremental_requested=True)


# --- snapshot lifecycle -----------------------------------------------------

def test_snapshot_roundtrip_and_latest(spark, tmp_path):
    root = str(tmp_path / "snaps")
    t1 = spark.createDataFrame([(1, "a")], "id long, v string")
    t2 = spark.createDataFrame([(2, "b")], "id long, v string")
    write_snapshot({"t": t1}, root, "2026-04-22T02:00:00+1000")
    write_snapshot({"t": t2}, root, "2026-04-23T02:00:00+1000")
    assert latest_snapshot(root) == "2026-04-23T02:00:00+1000"
    got = read_snapshot_table(spark, root, latest_snapshot(root), "t").collect()
    assert [(r["id"], r["v"]) for r in got] == [(2, "b")]


def test_carry_forward_nulls_site_id_and_hash(spark):
    prev = spark.createDataFrame(
        [("geo-1", "PC", "100", "site-1", -27.0, 153.0, "h")],
        "geocode_id string, geocode_type string, address_pid string, site_id string, "
        "centoid_lat double, centoid_lon double, hash string",
    )
    row = carry_forward_geocodes(prev).collect()[0]
    assert row["site_id"] is None and row["hash"] is None
    assert row["geocode_id"] == "geo-1" and row["centoid_lat"] == -27.0


def test_snapshot_sorted_layout_has_disjoint_key_ranges(spark, tmp_path):
    """A table opted into sort_specs is written range-partitioned and
    sorted, so its snapshot files carry disjoint key ranges (tight
    min/max stats for next-run reads); content is unchanged."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    root = str(tmp_path)
    df = spark.range(2_000).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k"),
        F.col("id").alias("v"),
    )
    ts = "2026-08-15T02:00:00+1000"
    write_snapshot({"t": df}, root, ts, sort_specs={"t": ["k"]})
    got = read_snapshot_table(spark, root, ts, "t")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in df.collect()}
    spans = []
    for f in sorted((tmp_path / f"snapshot_ts={ts}" / "t").glob("*.parquet")):
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        if ks:
            assert ks == sorted(ks)
            spans.append((min(ks), max(ks)))
    assert len(spans) > 1  # actually split across files
    spans.sort()
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
