"""The ESRI Python Data Source read end-to-end through
spark.read.format("esri") against the loopback endpoint: partition
planning from the count, per-page reads, schema, and downstream plan
composition."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
    EsriDataSource,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EsriDataSource)
    return spark


def test_reads_all_pages(registered, loopback):
    df = (
        registered.read.format("esri")
        .option("layer_url", f"{loopback.base}/esri/4500")
        .option("page_size", "2000")
        .load()
    )
    assert df.count() == 4500
    assert df.columns == ["objectid", "pid", "type", "x", "y"]
    lo, hi = df.agg(F.min("objectid"), F.max("objectid")).collect()[0][:]
    assert (lo, hi) == (0, 4499)
    assert df.rdd.getNumPartitions() == 3  # ceil(4500/2000) pages


def test_push_filters_translate_to_where(registered):
    from pyspark.sql.datasource import GreaterThan, IsNotNull, StringStartsWith
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriReader,
    )

    r = EsriReader({}, StructType([]))
    filters = [
        GreaterThan(("objectid",), 100),
        IsNotNull(("pid",)),
        StringStartsWith(("type",), "x"),
    ]
    remaining = list(r.pushFilters(filters))
    assert r.where == (
        "1=1 AND objectid > 100 AND pid IS NOT NULL AND type LIKE 'x%'"
    )
    assert remaining == filters  # partial pushdown: Spark re-applies all


def test_push_filters_string_in_null_and_wildcard_safety(registered):
    """The widened translation set: quoted string equality (with
    embedded-quote escaping), IN lists, IS NULL — and the safety rail:
    a StringStartsWith whose prefix contains a LIKE wildcard must NOT
    be pushed (a narrower server predicate would LOSE rows that
    Spark's re-application cannot resurrect)."""
    from pyspark.sql.datasource import (
        EqualTo,
        In,
        IsNull,
        StringStartsWith,
    )
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriReader,
    )

    from pyspark.sql.datasource import GreaterThan, LessThan

    r = EsriReader({}, StructType([]))
    r.pushFilters(
        [
            EqualTo(("pid",), "o'brien"),
            In(("type",), ("a", "b")),
            IsNull(("x",)),
            StringStartsWith(("pid",), "10%"),  # wildcard → skipped
            StringStartsWith(("pid",), "1[a"),  # SQL-Server class → skipped
            EqualTo(("pid",), True),  # bool → skipped (not SQL-92 here)
            # string ORDERING is collation-dependent server-side (a CI
            # collation narrows it and loses rows) → never pushed
            GreaterThan(("type",), "Z"),
            # NaN and ±inf have no SQL-92 literal → never pushed
            GreaterThan(("x",), float("nan")),
            LessThan(("y",), float("inf")),
            EqualTo(("x",), float("-inf")),
            In(("x",), (1.0, float("nan"))),
        ]
    )
    assert r.where == (
        "1=1 AND pid = 'o''brien' AND type IN ('a', 'b') AND x IS NULL"
    )


def test_filtered_read_is_correct_end_to_end(registered, loopback):
    # the loopback layer ignores `where`; because pushFilters returns
    # every filter for Spark to re-apply, results stay correct regardless
    df = (
        registered.read.format("esri")
        .option("layer_url", f"{loopback.base}/esri/1000")
        .load()
        .filter(F.col("objectid") >= 990)
    )
    assert sorted(r["objectid"] for r in df.collect()) == list(range(990, 1000))


def test_composes_with_engine_operators(registered, loopback):
    """The source output feeds the normal operator pipeline (F6-style
    type-code normalization + grid bucketing)."""
    df = (
        registered.read.format("esri")
        .option("layer_url", f"{loopback.base}/esri/1000")
        .load()
    )
    out = (
        df.withColumn("code", F.upper(F.regexp_replace("type", "^.*geocode-types/", "")))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["code"]: r["n"] for r in out.collect()}
    assert len(got) == 7 and sum(got.values()) == 1000


def test_esri_stream_reader_incremental_batches(spark, loopback):
    """The streaming twin: availableNow drains the loopback layer in
    page-size micro-batches; rows and ids must match the batch scan."""
    import tempfile

    spark.dataSource.register(EsriDataSource)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("esri")
            .option("layer_url", f"{loopback.base}/esri/250")
            .option("page_size", "100")
            .load()
            .writeStream.format("memory")
            .queryName("esri_stream_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # drain: the layer is finite, so "no new data" == all
        # 3 micro-batches (100+100+50) committed
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT objectid FROM esri_stream_t").collect()
    assert len(got) == 250
    assert {r["objectid"] for r in got} == set(range(250))


def test_esri_stream_reader_replay_between_offsets(loopback):
    """readBetweenOffsets must replay any committed range identically —
    the exactly-once contract under retry."""
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriStreamReader,
    )

    r = EsriStreamReader(
        {"layer_url": f"{loopback.base}/esri/50", "page_size": "20"},
        StructType.fromDDL("objectid bigint, pid string, x double"),
    )
    it, off1 = r.read({"next": 0})
    first = list(it)
    assert off1 == {"next": 20} and len(first) == 20
    assert list(r.readBetweenOffsets({"next": 0}, {"next": 20})) == first
    # drained layer: empty batch, offset unchanged
    it3, off3 = r.read({"next": 60})
    assert list(it3) == [] and off3 == {"next": 60}


def test_stream_reader_pins_fetch_order(monkeypatch):
    """The replay contract needs a pinned server-side order: _rows must
    pass order_by (default objectid) through to EsriClient.fetch_page."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cam_location_addressing_feature_service_etl_spark.sources import (
        esri_datasource,
        esri_http,
    )

    calls = {}

    class FakeClient:
        def __init__(self, **kw):
            pass

        def fetch_page(self, offset, count, where="1=1", out_fields=None, order_by=None):
            calls["order_by"] = order_by
            return []

    monkeypatch.setattr(esri_http, "EsriClient", FakeClient)
    reader = esri_datasource.EsriStreamReader(
        {"layer_url": "http://x"},
        StructType([StructField("objectid", LongType(), True)]),
    )
    reader._rows(0, 10)
    assert calls["order_by"] == "objectid"


def test_resolve_order_by_falls_back_to_first_field():
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        _resolve_order_by,
    )

    oid = StructType.fromDDL("objectid bigint, pid string")
    fid = StructType.fromDDL("fid bigint, pid string")
    assert _resolve_order_by({}, oid) == "objectid"
    assert _resolve_order_by({}, fid) == "fid"
    assert _resolve_order_by({"order_by": ""}, oid) == ""
    assert _resolve_order_by({"order_by": "pid"}, fid) == "pid"
