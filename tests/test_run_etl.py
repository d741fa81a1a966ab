"""Two consecutive full ETL runs through plans.run.run_etl — the
reference's monkeypatched main() test, Spark-shaped: snapshot restore,
carry-forward with reset, cache upsert, surrogate-id stability across
runs, and the publish contract."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl

BNE = timezone(timedelta(hours=10))


def _addresses(spark, rows):
    return spark.createDataFrame(
        rows, "addr_id string, address_pid string, site_id string, parcel_id string"
    )


def _geocodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "geocode_id string, geocode_type string, address_pid string, site_id string, "
        "centoid_lat double, centoid_lon double, hash string",
    )


def _pid_map(spark, rows):
    return spark.createDataFrame(rows, "address_iri string, address_pid string")


def test_two_run_lifecycle(spark, tmp_path):
    root = str(tmp_path / "snaps")

    # ---- run 1: cold start
    r1 = run_etl(
        spark,
        snapshot_root=root,
        start_time=datetime(2026, 4, 22, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 4, 22, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(spark, [("iri/1", "100"), ("iri/2", "200")]),
        fetched_geocodes=_geocodes(
            spark, [("geo-1", "PC", "100", None, -27.0, 153.0, None)]
        ),
        lf_address=_addresses(
            spark,
            [("addr-1", "100", "site-1", "parcel-A"), ("addr-2", "200", "site-2", "parcel-B")],
        ),
        tables_to_remap={
            "lf_parcel": (
                spark.createDataFrame(
                    [("parcel-A", "SP1"), ("parcel-B", "SP2")], "parcel_id string, plan_no string"
                ),
                "parcel_id",
            )
        },
    )
    assert r1.previous_snapshot_ts is None
    assert r1.s3_key == "pls-etl/2026-04-22T02:02:30+1000/pls.db"
    geo1 = {r["geocode_id"]: r["site_id"] for r in r1.tables["lf_geocode_sp_survey_point"].collect()}
    assert geo1 == {"geo-1": "site-1"}
    ids1 = {r["iri"]: r["id"] for r in r1.tables["lf_parcel_id_map"].collect()}
    assert sorted(ids1.values()) == [1, 2]

    # ---- run 2: incremental — new address + updated pid for iri/1,
    # re-imported geo-1 (site reset), one new parcel
    r2 = run_etl(
        spark,
        snapshot_root=root,
        start_time=datetime(2026, 4, 23, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 4, 23, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(spark, [("iri/1", "101"), ("iri/3", "300")]),
        fetched_geocodes=_geocodes(
            spark, [("geo-3", "PC", "300", None, -26.0, 151.0, None)]
        ),
        lf_address=_addresses(
            spark,
            [
                ("addr-1", "101", "site-1", "parcel-A"),
                ("addr-3", "300", "site-3", "parcel-C"),
            ],
        ),
        tables_to_remap={
            "lf_parcel": (
                spark.createDataFrame(
                    [("parcel-A", "SP1"), ("parcel-C", "SP3")], "parcel_id string, plan_no string"
                ),
                "parcel_id",
            )
        },
    )
    assert r2.previous_snapshot_ts == "2026-04-22T02:02:30+1000"

    # cache upsert: iri/1 overwritten, iri/2 carried, iri/3 new
    pid = {r["address_iri"]: r["address_pid"] for r in r2.tables["address_iri_pid_map"].collect()}
    assert pid == {"iri/1": "101", "iri/2": "200", "iri/3": "300"}

    # geocodes: geo-1 carried forward with site reset then re-enriched
    # only if an address still matches pid 100 — addr-1 moved to 101,
    # so geo-1 (pid 100) is pruned; geo-3 enriched to site-3
    geo2 = {r["geocode_id"]: r["site_id"] for r in r2.tables["lf_geocode_sp_survey_point"].collect()}
    assert geo2 == {"geo-3": "site-3"}

    # surrogate ids stable: parcel-A keeps its run-1 id; parcel-C dense-appends
    ids2 = {r["iri"]: r["id"] for r in r2.tables["lf_parcel_id_map"].collect()}
    assert ids2["parcel-A"] == ids1["parcel-A"]
    assert ids2["parcel-B"] == ids1["parcel-B"]
    assert ids2["parcel-C"] == 3

    # publish contract
    assert r2.headers["etl-started-at"] == "2026-04-22T16:00:00+00:00"
    assert r2.headers["etl-duration-seconds"] == "150.000"
    msg = r2.message.collect()[0]
    assert msg["value"].decode().endswith(r2.s3_key)
    meta = r2.tables["metadata"].collect()[0]
    assert meta["id"] == 1 and meta["end_time"] == "2026-04-23T02:02:30+1000"


def test_run_etl_increment_through_dsv2_reader(spark, tmp_path, loopback):
    """The geocode increment arrives through spark.read.format("esri")
    (loopback endpoint) instead of a pre-built DataFrame — the reference's
    fetch→normalize→merge flow (geocode.py:469-488) exercised through
    the DSv2 reader: page partitioning, per-page reads, and the
    normalize mapping feed the same run_etl contract."""
    from cam_location_addressing_feature_service_etl_spark.sources.esri import (
        normalize_geocode_type,
    )
    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriDataSource,
    )

    spark.dataSource.register(EsriDataSource)
    feats = (
        spark.read.format("esri")
        .option("layer_url", f"{loopback.base}/esri/3")
        .option("page_size", "2")
        .load()
    )
    assert feats.rdd.getNumPartitions() == 2  # proves the page plan ran

    # flat DSv2 rows (attributes and geometry already columns) →
    # geocode extract shape
    fetched_geocodes = feats.select(
        F.col("objectid").cast("string").alias("geocode_id"),
        normalize_geocode_type(F.col("type")).alias("geocode_type"),
        F.col("pid").cast("string").alias("address_pid"),
        F.lit(None).cast("string").alias("site_id"),
        F.col("y").alias("centoid_lat"),
        F.col("x").alias("centoid_lon"),
        F.lit(None).cast("string").alias("hash"),
    )

    r = run_etl(
        spark,
        snapshot_root=str(tmp_path / "snaps-dsv2"),
        start_time=datetime(2026, 5, 1, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 5, 1, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(
            spark, [("iri/a", "100000"), ("iri/b", "100001"), ("iri/c", "100002")]
        ),
        fetched_geocodes=fetched_geocodes,
        # addresses exist for two of the three fetched pids; the third
        # geocode must be pruned by the enrich-then-prune pipeline
        lf_address=_addresses(
            spark,
            [
                ("addr-a", "100000", "site-a", "parcel-A"),
                ("addr-b", "100001", "site-b", "parcel-B"),
            ],
        ),
        tables_to_remap={
            "lf_parcel": (
                spark.createDataFrame(
                    [("parcel-A", "SP1"), ("parcel-B", "SP2")],
                    "parcel_id string, plan_no string",
                ),
                "parcel_id",
            )
        },
    )

    geo = {
        r_["geocode_id"]: (r_["geocode_type"], r_["site_id"])
        for r_ in r.tables["lf_geocode_sp_survey_point"].collect()
    }
    # objectid 0/1 (pids 100000/100001) enriched to their address site;
    # objectid 2 (pid 100002, no address) pruned. type-0 → "T0" etc.
    # via the initialism fallback (F6).
    assert geo == {"0": ("T0", "site-a"), "1": ("T1", "site-b")}


def _parcels(spark):
    return spark.createDataFrame(
        [("parcel-A", "SP1"), ("parcel-B", "SP2")], "parcel_id string, plan_no string"
    )


def _run(spark, root, day, tables_to_remap):
    return run_etl(
        spark,
        snapshot_root=root,
        start_time=datetime(2026, 6, day, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 6, day, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(spark, [("iri/1", "100")]),
        fetched_geocodes=_geocodes(spark, []),
        lf_address=_addresses(spark, [("addr-1", "100", "site-1", "parcel-A")]),
        tables_to_remap=tables_to_remap,
    )


def test_table_without_a_prior_map_gets_fresh_ids(spark, tmp_path):
    """A table remapped for the first time has no id map in the prior
    snapshot: its keys are numbered from 1."""
    root = str(tmp_path / "snaps")
    _run(spark, root, 1, {})
    r = _run(spark, root, 2, {"lf_parcel": (_parcels(spark), "parcel_id")})
    assert r.previous_snapshot_ts is not None
    ids = {row["iri"]: row["id"] for row in r.tables["lf_parcel_id_map"].collect()}
    assert sorted(ids.values()) == [1, 2]


def test_unreadable_prior_map_fails_the_run(spark, tmp_path):
    """An id map that exists but cannot be read must fail the run:
    numbering from 1 again would reassign the stable surrogate ids."""
    from pyspark.errors import AnalysisException

    root = str(tmp_path / "snaps")
    r1 = _run(spark, root, 1, {"lf_parcel": (_parcels(spark), "parcel_id")})
    for f in (Path(r1.snapshot_path) / "lf_parcel_id_map").glob("*.parquet"):
        f.unlink()
    with pytest.raises(AnalysisException, match="(?i)parquet"):
        _run(spark, root, 2, {"lf_parcel": (_parcels(spark), "parcel_id")})
