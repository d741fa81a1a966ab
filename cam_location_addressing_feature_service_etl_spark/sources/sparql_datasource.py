"""SPARQL endpoint as a PySpark 4 Python Data Source — the symmetry
partner of ``sources/esri_datasource.py`` (r10 verdict #7), so the
reference's two-phase VALUES extract becomes one declarative read:

    spark.dataSource.register(SparqlDataSource)
    df = (spark.read.format("sparql")
          .option("endpoint", "https://.../sparql")
          .option("variables", "pid,street,locality")
          .option("query", "SELECT ?pid ?street ?locality WHERE {...}")
          .load())

Two partition-planning modes, both executed by workers against the
endpoint with ``sources/sparql_http.py SparqlClient`` (each task builds
its own client — nothing network-bound is serialized):

- **paged** (default): the planner wraps the query in
  ``SELECT (COUNT(*) AS ?n) {{ ... }}`` for a server-side count and
  emits one partition per ``page_size`` window; each partition appends
  ``ORDER BY ?var LIMIT/OFFSET`` (OFFSET without ORDER BY is not a
  stable order in SPARQL — same discipline as the ESRI source's
  ``orderByFields``).
- **keys**: the reference's keys-then-details shape
  (``address_etl/pls/tables.py:401-472``: an address-keys query, then
  detail queries VALUES-batched ≤10k keys). The planner runs
  ``keys_query``, chunks the distinct keys into ``key_batch``-sized
  partitions, and each partition substitutes its
  ``VALUES ?key {{ <k1> <k2> ... }}`` block for the ``{values}``
  placeholder in the query — the reference's Jinja template loop,
  re-expressed as partition planning so the detail fetch fans out
  across the cluster instead of looping on one driver.

Unbound OPTIONAL variables surface as NULLs (P6). The stream reader
pages the same way as the paged mode, one window per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


@dataclass
class PagePartition(InputPartition):
    offset: int
    count: int


@dataclass
class KeyBatchPartition(InputPartition):
    keys: tuple[str, ...]


def _subselect(query: str, filters: Sequence[str] = ()) -> str:
    """The user's query wrapped as a SPARQL subselect ``{ <query> }``
    so appended solution modifiers (ORDER BY / LIMIT / OFFSET, or the
    COUNT projection) compose with a query that already carries its
    own modifiers — appending them directly after a query ending in
    ORDER BY/LIMIT would be invalid SPARQL or silently mis-page. The
    newline before ``}`` keeps a trailing ``# comment`` from swallowing
    the closing brace. ``filters``: pushed-down FILTER expressions,
    applied OUTSIDE the subselect (over its projected variables) so
    they compose with any inner modifiers."""
    body = f"{{\n{query}\n}}"
    for frag in filters:
        body += f"\nFILTER({frag})"
    return f"{{ {body} }}" if filters else body


def _count_query(query: str, filters: Sequence[str] = ()) -> str:
    return f"SELECT (COUNT(*) AS ?n) WHERE {_subselect(query, filters)}"


def _page_query(
    query: str,
    order_var: str,
    limit: int,
    offset: int,
    filters: Sequence[str] = (),
) -> str:
    return (
        f"SELECT * WHERE {_subselect(query, filters)}"
        f"\nORDER BY ?{order_var}\nLIMIT {limit}\nOFFSET {offset}"
    )


def _sparql_str(value) -> str:
    """A SPARQL string literal with quotes/backslashes escaped."""
    s = str(value).replace("\\", "\\\\").replace('"', '\\"')
    return f'"{s}"'


def translate_filters(
    filters, variables, push_string_ordering: bool = False
) -> tuple[list[str], list]:
    """Best-effort Catalyst-filter → SPARQL FILTER translation for the
    pushdown path. Returns (fragments, all filters) — every filter is
    handed back to Spark for re-application, so a server whose string
    semantics differ cannot corrupt results (partial-pushdown
    discipline, same as the ESRI source). Supported: (in)equality
    on projection variables (STR-compared — this source surfaces every
    variable as a string), IN lists, BOUND/!BOUND for null probes, and
    prefix/suffix/contains string predicates.

    String ORDERING comparisons (>, >=, <, <=) push only when
    ``push_string_ordering`` is True. The SPARQL spec pins
    plain-literal comparison to Unicode codepoint order (fn:compare,
    simple collation) — exactly Spark's binary UTF8 ordering — so on a
    spec-conformant endpoint the push is superset-safe. But a pushed
    filter SHRINKS the server-side rowset: against a non-conformant
    endpoint (custom collation) Spark's re-application cannot
    resurrect rows the server never returned, which is why the ESRI
    reader refuses this class of push outright. Default is therefore
    the conservative ESRI behavior; callers opt in per endpoint via
    the ``push_string_ordering`` reader option when they trust its
    conformance."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    ops = {EqualTo: "="}
    if push_string_ordering:
        ops |= {
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
    fns = {
        StringStartsWith: "STRSTARTS",
        StringEndsWith: "STRENDS",
        StringContains: "CONTAINS",
    }
    frags: list[str] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1 or attr[0] not in variables:
            continue
        v = f"?{attr[0]}"
        op = ops.get(type(f))
        if op is not None:
            frags.append(f"STR({v}) {op} {_sparql_str(f.value)}")
        elif isinstance(f, In):
            vals = ", ".join(_sparql_str(x) for x in f.value)
            frags.append(f"STR({v}) IN ({vals})")
        elif isinstance(f, IsNotNull):
            frags.append(f"BOUND({v})")
        elif isinstance(f, IsNull):
            frags.append(f"!BOUND({v})")
        elif type(f) in fns:
            frags.append(f"{fns[type(f)]}(STR({v}), {_sparql_str(f.value)})")
    return frags, list(filters)


def _variables(options: dict) -> list[str]:
    raw = options.get("variables", "")
    out = [v.strip() for v in raw.split(",") if v.strip()]
    if not out:
        raise ValueError(
            "sparql source requires the 'variables' option "
            "(comma-separated projection variables)"
        )
    return out


def _client(options: dict):
    from .sparql_http import SparqlClient

    return SparqlClient(options["endpoint"])


class _ResultScan:
    """What the batch and the stream reader share: the server-side COUNT
    of the (filtered) query, one ORDER BY-pinned LIMIT/OFFSET window,
    and the decoding of bindings into row tuples."""

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.schema = schema
        self.variables = _variables(options)
        self.page_size = int(options.get("page_size", "10000"))
        self.query = options["query"]
        # OFFSET paging is only a stable order when the query is
        # ordered; default to the first projection variable
        self.order_var = options.get("order_var", self.variables[0])
        self.filter_frags: list[str] = []

    def _select(self, query: str) -> list[tuple]:
        return [
            tuple(r.get(v, {}).get("value") for v in self.variables)
            for r in _client(self.options).query(query)
        ]

    def _total(self) -> int:
        q = _count_query(self.query, self.filter_frags)
        return int(_client(self.options).query(q)[0]["n"]["value"])

    def _rows(self, offset: int, count: int) -> list[tuple]:
        return self._select(
            _page_query(self.query, self.order_var, count, offset, self.filter_frags)
        )


class SparqlReader(_ResultScan, DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        self.key_batch = int(options.get("key_batch", "10000"))
        self.keys_query = options.get("keys_query")
        self.key_var = options.get("key_var", self.variables[0])

    def pushFilters(self, filters):
        """Filter pushdown at the DSv2 layer (the SPARQL twin of the
        ESRI reader's P5 pushdown): supported predicates become
        FILTER(...) clauses composed OUTSIDE the subselect wrap — the
        server-side COUNT shrinks, so fewer page partitions plan and
        fewer bindings transfer. Every filter is returned so Spark
        re-applies it (partial-pushdown safety). String-ordering
        comparisons push only with reader option
        ``push_string_ordering=true`` (endpoint-conformance opt-in —
        see ``translate_filters``)."""
        self.filter_frags, back = translate_filters(
            filters,
            self.variables,
            self.options.get("push_string_ordering", "false").lower()
            == "true",
        )
        return back

    # -- planning ----------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        if self.keys_query is not None:
            keys = [
                r[self.key_var]["value"]
                for r in _client(self.options).query_paged(
                    self.keys_query, page_size=self.page_size
                )
                if self.key_var in r
            ]
            keys = sorted(set(keys))
            return [
                KeyBatchPartition(keys=tuple(keys[o : o + self.key_batch]))
                for o in range(0, max(len(keys), 1), self.key_batch)
            ]
        total = self._total()
        return [
            PagePartition(offset=o, count=self.page_size)
            for o in range(0, max(total, 1), self.page_size)
        ]

    # -- execution ---------------------------------------------------------
    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if isinstance(partition, PagePartition):
            yield from self._rows(partition.offset, partition.count)
        elif partition.keys:
            block = " ".join(f"<{k}>" for k in partition.keys)
            yield from self._select(
                self.query.replace("{values}", f"VALUES ?{self.key_var} {{ {block} }}")
            )
        # else: empty key universe — an empty VALUES {} block is invalid
        # SPARQL, so the one planned partition reads nothing


class SparqlDataSource(DataSource):
    """spark.read.format("sparql") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "sparql"

    def schema(self) -> str:
        return ", ".join(f"{v} string" for v in _variables(dict(self.options)))

    def reader(self, schema: StructType) -> DataSourceReader:
        return SparqlReader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> "SparqlStreamReader":
        return SparqlStreamReader(dict(self.options), schema)


class SparqlStreamReader(_ResultScan, SimpleDataSourceStreamReader):
    """Micro-batch incremental scan of a SPARQL result set — the
    symmetry twin of ``EsriStreamReader`` (``spark.readStream
    .format("sparql")``): each batch fetches the next ``page_size``
    rows past the committed row-offset watermark with ORDER BY pinned
    (the same stability discipline as the batch reader — OFFSET
    without ORDER BY is not a stable order, so replay could deliver
    different rows than originally committed). The offset is
    ``{"next": <row offset>}``; ``readBetweenOffsets`` replays any
    (start, end] range exactly for a STATIC or APPEND-AT-END result
    set — a store whose earlier bindings mutate between read and
    replay cannot be exactly-once under offset paging (freeze with a
    snapshot graph/named-graph predicate instead, the analogue of the
    ESRI ``where`` snapshot)."""

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
