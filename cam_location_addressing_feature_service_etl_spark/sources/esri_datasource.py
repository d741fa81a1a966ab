"""ESRI FeatureServer as a PySpark 4 Python Data Source (DSv2-style):

    spark.dataSource.register(EsriDataSource)
    df = (spark.read.format("esri")
          .option("layer_url", "...")
          .option("page_size", "2000")
          .option("where", "last_edited_date >= DATE '2026-01-01'")
          .load())

This is the fully-idiomatic form of SURVEY §2.1 S5: the planner calls
``partitions()`` (one per page, driven by a server-side count — the
reference's count-before-scan, geocode.py:296-301) and executes
``read`` per partition across the cluster. Filter pushdown maps the
incremental predicate into the ESRI ``where`` option (P5); column
pruning maps to ``outFields`` via the ``fields`` option.

Both the batch reader and the stream reader page the layer through
``EsriClient`` (``sources/esri_http.py``); each task builds its own
client — nothing network-bound is serialized.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

DEFAULT_SCHEMA = "objectid bigint, pid string, type string, x double, y double"


@dataclass
class PagePartition(InputPartition):
    offset: int
    count: int


class _LayerScan:
    """What the batch and the stream reader share: the client built from
    the options, the server-side count under ``where`` and one page of
    features, fetched in a pinned order and decoded into row tuples."""

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.schema = schema
        self.page_size = int(options.get("page_size", "2000"))
        self.where = options.get("where", "1=1")

    def _client(self):
        from .esri_http import EsriClient

        return EsriClient(
            layer_url=self.options["layer_url"],
            token_url=self.options.get("token_url"),
            username=self.options.get("username", ""),
            password=self.options.get("password", ""),
        )

    def _total(self) -> int:
        return self._client().count(self.where)

    def _rows(self, offset: int, count: int) -> list[tuple]:
        fields = [f.name for f in self.schema.fields]
        feats = self._client().fetch_page(
            offset,
            count,
            where=self.where,
            out_fields=fields,
            # pinned order: parallel partitions (and stream replays) page
            # the same layer at different times; without orderByFields the
            # server may return overlapping/missing rows across pages
            order_by=_resolve_order_by(self.options, self.schema),
        )
        rows = []
        for feat in feats:
            attrs = feat.get("attributes", {})
            geom = feat.get("geometry", {})
            rows.append(
                tuple(geom.get(n) if n in ("x", "y") else attrs.get(n) for n in fields)
            )
        return rows


class EsriReader(_LayerScan, DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        self.pushed: list = []

    def pushFilters(self, filters):
        """Best-effort pushdown (P5 at the DSv2 layer): supported
        comparison filters are translated into the server-side ``where``
        clause (ArcGIS REST accepts SQL-92 where syntax) — the page
        COUNT shrinks, so fewer partitions and fewer rows transfer —
        and are ALSO returned so Spark re-applies them (safe even if
        the server's evaluation differs; the reference trusts the
        server the same way for last_edited_date). Covers numeric AND
        string comparisons, IN lists, NULL probes, and prefix LIKE."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        # Safety invariant for every pushed fragment: it must be a
        # SUPERSET of Spark's own predicate under ANY backend collation
        # — a narrower server predicate silently LOSES rows that
        # re-application cannot resurrect. Equality / IN / prefix-LIKE
        # are supersets under case-insensitive collations (byte-equal
        # strings compare equal everywhere; CI matching only ADDS rows,
        # which Spark filters back out). ORDERING comparisons are NOT:
        # a CI collation can order 'abc' < 'Z' where Spark's binary
        # comparison keeps it, so > < >= <= push for NUMERIC values
        # only (collation-independent). NaN and ±inf have no SQL-92
        # literal, so they are never pushed either.
        def num(v) -> str | None:
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                return None
            if isinstance(v, float) and not math.isfinite(v):
                return None
            return str(v)

        def lit(v) -> str | None:
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return num(v)

        ops = {
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        fragments = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is None or len(attr) != 1:
                continue
            col = attr[0]
            op = ops.get(type(f))
            if op is not None:
                v = num(f.value)  # string ordering is collation-dependent
                if v is not None:
                    fragments.append(f"{col} {op} {v}")
            elif isinstance(f, EqualTo):
                v = lit(f.value)
                if v is not None:
                    fragments.append(f"{col} = {v}")
            elif isinstance(f, In):
                vals = [lit(x) for x in f.value]
                if vals and all(v is not None for v in vals):
                    fragments.append(f"{col} IN ({', '.join(vals)})")
            elif isinstance(f, IsNull):
                fragments.append(f"{col} IS NULL")
            elif isinstance(f, IsNotNull):
                fragments.append(f"{col} IS NOT NULL")
            elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
                # %/_ are LIKE wildcards everywhere; [ opens a character
                # class on SQL-Server-backed geodatabases — any of them
                # in the prefix would push a NARROWER predicate, so skip
                if not any(ch in f.value for ch in "%_["):
                    pfx = f.value.replace("'", "''")
                    fragments.append(f"{col} LIKE '{pfx}%'")
        if fragments:
            self.pushed = fragments
            self.where = " AND ".join([self.where, *fragments])
        return filters  # Spark re-applies everything (partial pushdown)

    def partitions(self) -> Sequence[InputPartition]:
        total = self._total()
        return [
            PagePartition(offset=o, count=self.page_size)
            for o in range(0, max(total, 1), self.page_size)
        ]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        yield from self._rows(partition.offset, partition.count)


class EsriDataSource(DataSource):
    """spark.read.format("esri") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "esri"

    def schema(self) -> str:
        return self.options.get("schema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> DataSourceReader:
        return EsriReader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> "EsriStreamReader":
        return EsriStreamReader(dict(self.options), schema)


def _resolve_order_by(options: dict, schema) -> str:
    """Order field for paged reads: an explicit ``order_by`` option wins
    (empty string disables ordering for servers that reject it); else
    ``objectid`` when the schema carries one; else the schema's FIRST
    field — a layer whose OID is named differently (FID, OBJECTID_1)
    must not be sent a field the server will reject."""
    if "order_by" in options:
        return options["order_by"]
    names = [f.name for f in schema.fields]
    return "objectid" if "objectid" in names else names[0]


class EsriStreamReader(_LayerScan, SimpleDataSourceStreamReader):
    """Micro-batch incremental scan of the layer: each batch fetches
    the next ``page_size`` features past the committed objectid
    watermark — the streaming twin of the reference's incremental
    last_edited_date pull (geocode.py:469-488), expressed as a
    PySpark 4 streaming Python data source.

    The offset is ``{"next": <row offset>}``; ``readBetweenOffsets``
    replays any (start, end] range from the paged API with
    ``orderByFields=<order_by>`` (default ``objectid``) pinning a total
    order — ESRI row order without an explicit order is not
    contractual, so unordered offset pages could replay different rows
    than originally committed. With the order pinned, replay is
    exact for STATIC or APPEND-ONLY layers (new features get higher
    objectids and land past the watermark). A live layer that DELETES
    features can still shift rows below the watermark between read and
    replay — offset-based paging cannot be exactly-once there; freeze
    mutable layers with a ``where`` snapshot predicate instead."""

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict) -> tuple:
        lo = int(start["next"])
        hi = min(lo + self.page_size, self._total())
        if hi <= lo:
            return iter(()), {"next": lo}
        return iter(self._rows(lo, hi - lo)), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo = int(start["next"])
        return iter(self._rows(lo, int(end["next"]) - lo))
