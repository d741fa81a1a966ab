"""Loopback stand-in for the ESRI FeatureServer and the SPARQL endpoint.

Runs in its own process on 127.0.0.1 and serves the ``current`` state of
``gen.Universe(seed, addresses)``:

- ``POST /esri/<layer>/query`` for the layers ``geocodes`` and
  ``iri_pid``: the ``returnCountOnly`` probe, ``resultOffset`` /
  ``resultRecordCount`` pages in ``objectid`` order, ``outFields``, and
  ``where`` clauses of ``AND``-joined terms: the ``last_edited_date``
  increment filter and the fragments the reader's filter pushdown adds.
- ``POST /sparql`` with a ``query`` form field. A query names its
  dataset with the IRI ``<urn:etlbench:dataset:NAME>``; the server
  answers the reader's COUNT wrap, ``ORDER BY ... LIMIT/OFFSET`` pages,
  keys queries (projection of the key variable only) and
  ``VALUES ?key { <k1> ... }`` detail batches.
- ``GET /stats`` returns the request, byte and service-time counters;
  ``POST /stats/reset`` zeroes them.

Rows are rendered to JSON fragments once, and whole response bodies are
cached by request, so after the benchmark's warm-up pull a request
costs a dictionary lookup and a socket write. At most ``--max-conns``
connections are served at once. The server prints ``PORT <n>`` when it
is ready and exits when its standard input closes.

Usage: python3 endpoint.py --seed 1 --addresses 20000 --max-conns 4
"""

from __future__ import annotations

import argparse
import json
import operator
import os
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

_OPS = {
    ">=": operator.ge,
    ">": operator.gt,
    "<=": operator.le,
    "<": operator.lt,
    "=": operator.eq,
}
_LITERAL = r"(-?\d+(?:\.\d+)?|'(?:[^']|'')*')"
_COMPARE = re.compile(rf"^(\w+)\s*(>=|<=|=|>|<)\s*{_LITERAL}$")
_IN = re.compile(rf"^(\w+)\s+IN\s*\(((?:\s*{_LITERAL}\s*,?)+)\)$", re.IGNORECASE)
_NULL = re.compile(r"^(\w+)\s+IS\s+(NOT\s+)?NULL$", re.IGNORECASE)
_LIKE = re.compile(r"^(\w+)\s+LIKE\s+'((?:[^'%_]|'')*)%'$", re.IGNORECASE)
_DATASET = re.compile(r"<urn:etlbench:dataset:(\w+)>")
_PROJECTION = re.compile(r"SELECT\s+((?:\?\w+\s*)+)WHERE", re.IGNORECASE)
_VALUES = re.compile(r"VALUES\s+\?(\w+)\s*\{([^}]*)\}")
_LIMIT = re.compile(r"\bLIMIT\s+(\d+)")
_OFFSET = re.compile(r"\bOFFSET\s+(\d+)")
_ORDER = re.compile(r"ORDER BY\s+\?(\w+)")


class BadRequest(ValueError):
    pass


class EsriLayer:
    """One feature layer: numpy columns for where-filters, row JSON
    fragments per ``outFields`` list."""

    def __init__(self, table):
        self.columns = {n: table[n].to_numpy(zero_copy_only=False) for n in table.column_names}
        order = np.argsort(self.columns["objectid"], kind="stable")
        self.columns = {n: c[order] for n, c in self.columns.items()}
        self.rows = len(order)
        self._fragments: dict[str, list[str]] = {}
        self._where: dict[str, np.ndarray] = {}

    def select(self, where: str) -> np.ndarray:
        idx = self._where.get(where)
        if idx is None:
            mask = np.ones(self.rows, dtype=bool)
            for term in re.split(r"\s+AND\s+", where, flags=re.IGNORECASE):
                mask &= self._term(term.strip())
            idx = self._where[where] = np.nonzero(mask)[0]
        return idx

    def _term(self, term: str) -> np.ndarray:
        """One where term: ``1=1``, a comparison with a number or a quoted
        string, ``IN (...)``, ``IS [NOT] NULL``, or a prefix ``LIKE`` -- the
        fragments the esri reader's filter pushdown emits."""
        if term == "1=1":
            return np.ones(self.rows, dtype=bool)
        for pattern in (_COMPARE, _IN, _NULL, _LIKE):
            m = pattern.match(term)
            if m and m.group(1) in self.columns:
                col = self.columns[m.group(1)]
                break
        else:
            raise BadRequest(f"unsupported where term {term!r}")
        if pattern is _COMPARE:
            return _OPS[m.group(2)](col, _value(m.group(3)))
        if pattern is _IN:
            values = [_value(v) for v in re.findall(_LITERAL, m.group(2))]
            return np.isin(col, values)
        if pattern is _NULL:
            is_null = np.array([v is None for v in col], dtype=bool)
            return ~is_null if m.group(2) else is_null
        prefix = m.group(2).replace("''", "'")
        return np.array([isinstance(v, str) and v.startswith(prefix) for v in col], dtype=bool)

    def fragments(self, out_fields: str) -> list[str]:
        frags = self._fragments.get(out_fields)
        if frags is None:
            names = list(self.columns) if out_fields in ("", "*") else out_fields.split(",")
            for n in names:
                if n not in self.columns:
                    raise BadRequest(f"unknown field {n!r}")
            attrs = [n for n in names if n not in ("x", "y")]
            geom = [n for n in ("x", "y") if n in names]
            cols = {n: self.columns[n].tolist() for n in names}
            frags = []
            for i in range(self.rows):
                feat = {"attributes": {n: cols[n][i] for n in attrs}}
                if geom:
                    feat["geometry"] = {n: cols[n][i] for n in geom}
                frags.append(json.dumps(feat, separators=(",", ":")))
            self._fragments[out_fields] = frags
        return frags


class SparqlDataset:
    """One extract: string columns sorted by the key (first) column, with
    binding fragments per projection."""

    def __init__(self, table, key: str):
        cols = {n: table[n].to_pylist() for n in table.column_names}
        cols = {n: [None if v is None else str(v) for v in c] for n, c in cols.items()}
        order = sorted(range(table.num_rows), key=cols[key].__getitem__)
        self.key = key
        self.columns = {n: [c[i] for i in order] for n, c in cols.items()}
        self.position = {k: i for i, k in enumerate(self.columns[key])}
        self.rows = table.num_rows
        self._fragments: dict[tuple, list[str]] = {}

    def fragments(self, variables: tuple[str, ...]) -> list[str]:
        frags = self._fragments.get(variables)
        if frags is None:
            for v in variables:
                if v not in self.columns:
                    raise BadRequest(f"unknown variable {v!r}")
            cols = [(v, self.columns[v], "uri" if v == self.key else "literal") for v in variables]
            frags = [
                json.dumps(
                    {v: {"type": t, "value": c[i]} for v, c, t in cols if c[i] is not None},
                    separators=(",", ":"),
                )
                for i in range(self.rows)
            ]
            self._fragments[variables] = frags
        return frags


class Endpoint:
    def __init__(self, seed: int, addresses: int):
        state = gen.Universe(seed, addresses).current
        self.layers = {
            "geocodes": EsriLayer(state.geocode_layer),
            "iri_pid": EsriLayer(state.iri_pid_layer),
        }
        self.datasets = {"addresses": SparqlDataset(state.addresses, "addr_id")}
        for name, table in state.entities.items():
            self.datasets[name] = SparqlDataset(table, gen.ENTITY_PKS[name])
        self._cache: dict[tuple, bytes] = {}
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.stats = {
                "requests": 0,
                "bytes": 0,
                "service_s": 0.0,
                "errors": 0,
                "esri_count": 0,
                "esri_page": 0,
                "sparql_count": 0,
                "sparql_page": 0,
                "sparql_keys": 0,
                "sparql_values": 0,
            }

    def record(self, kind: str | None, nbytes: int, seconds: float, error: bool) -> None:
        with self._lock:
            s = self.stats
            s["requests"] += 1
            s["bytes"] += nbytes
            s["service_s"] += seconds
            s["errors"] += int(error)
            if kind:
                s[kind] += 1

    # -- ESRI -------------------------------------------------------------
    def esri(self, layer: str, form: dict[str, str]) -> tuple[str, bytes]:
        lyr = self.layers.get(layer)
        if lyr is None:
            raise BadRequest(f"unknown layer {layer!r}")
        where = form.get("where", "1=1")
        if form.get("returnCountOnly") == "true":
            return "esri_count", json.dumps({"count": int(len(lyr.select(where)))}).encode()
        offset = int(form.get("resultOffset", "0"))
        count = int(form.get("resultRecordCount", "2000"))
        out_fields = form.get("outFields", "*")
        order = form.get("orderByFields", "objectid")
        if order not in ("", "objectid"):
            raise BadRequest(f"unsupported orderByFields {order!r}")
        key = ("esri", layer, where, offset, count, out_fields)
        body = self._cache.get(key)
        if body is None:
            idx = lyr.select(where)[offset : offset + count]
            frags = lyr.fragments(out_fields)
            body = ('{"features":[' + ",".join(frags[i] for i in idx) + "]}").encode()
            self._cache[key] = body
        return "esri_page", body

    # -- SPARQL -----------------------------------------------------------
    def sparql(self, query: str) -> tuple[str, bytes]:
        body = self._cache.get(("sparql", query))
        if body is not None:
            return self._cache[("sparql-kind", query)], body
        kind, payload = self._sparql_render(query)
        body = payload.encode()
        self._cache[("sparql", query)] = body
        self._cache[("sparql-kind", query)] = kind
        return kind, body

    def _sparql_render(self, query: str) -> tuple[str, str]:
        m = _DATASET.search(query)
        if m is None or m.group(1) not in self.datasets:
            raise BadRequest("query names no known dataset")
        ds = self.datasets[m.group(1)]
        proj = _PROJECTION.search(query)
        if proj is None:
            raise BadRequest("no projection")
        variables = tuple(v.lstrip("?") for v in proj.group(1).split())
        if "(COUNT(*) AS ?n)" in query:
            return "sparql_count", _bindings(("n",), [json.dumps({"n": {"type": "literal", "value": str(ds.rows)}})])
        frags = ds.fragments(variables)
        values = _VALUES.search(query)
        if values:
            if values.group(1) != ds.key:
                raise BadRequest(f"VALUES on non-key variable {values.group(1)!r}")
            keys = re.findall(r"<([^>]+)>", values.group(2))
            pos = sorted(ds.position[k] for k in keys if k in ds.position)
            return "sparql_values", _bindings(variables, [frags[i] for i in pos])
        order = _ORDER.search(query)
        if order and order.group(1) != ds.key:
            raise BadRequest(f"ORDER BY on non-key variable {order.group(1)!r}")
        lo = int(_OFFSET.search(query).group(1)) if _OFFSET.search(query) else 0
        limit = _LIMIT.search(query)
        hi = lo + int(limit.group(1)) if limit else ds.rows
        kind = "sparql_keys" if variables == (ds.key,) else "sparql_page"
        return kind, _bindings(variables, frags[lo:hi])


def _value(literal: str):
    if literal.startswith("'"):
        return literal[1:-1].replace("''", "'")
    return float(literal)


def _bindings(variables, frags) -> str:
    head = json.dumps({"vars": list(variables)})
    return '{"head":' + head + ',"results":{"bindings":[' + ",".join(frags) + "]}}"


def make_handler(endpoint: Endpoint):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _send(self, code: int, body: bytes, ctype: str = "application/json") -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/stats":
                with endpoint._lock:
                    body = json.dumps(endpoint.stats).encode()
                self._send(200, body)
            else:
                self._send(404, b"{}")

        def do_POST(self):
            t0 = time.perf_counter()
            length = int(self.headers.get("Content-Length", "0"))
            raw = self.rfile.read(length).decode()
            if self.path == "/stats/reset":
                endpoint.reset()
                self._send(200, b"{}")
                return
            form = {k: v[0] for k, v in parse_qs(raw, keep_blank_values=True).items()}
            kind, error = None, False
            parts = self.path.strip("/").split("/")
            try:
                if len(parts) == 3 and parts[0] == "esri" and parts[2] == "query":
                    kind, body = endpoint.esri(parts[1], form)
                elif parts == ["sparql"]:
                    kind, body = endpoint.sparql(form["query"])
                else:
                    raise BadRequest(f"no route {self.path}")
                code = 200
            except (BadRequest, KeyError, ValueError) as exc:
                # ArcGIS REST answers errors in a 200 body, which the esri
                # client raises at once; a SPARQL endpoint answers 400
                error, code = True, 200 if parts[0] == "esri" else 400
                body = json.dumps({"error": {"code": 400, "message": str(exc)}}).encode()
            self._send(code, body)
            endpoint.record(kind, len(body), time.perf_counter() - t0, error)

    return Handler


class BoundedServer(ThreadingHTTPServer):
    """Threaded server that accepts at most ``max_conns`` connections at
    once: the accept loop blocks until a handler thread finishes."""

    daemon_threads = True
    request_queue_size = 64

    def __init__(self, addr, handler, max_conns: int):
        self._slots = threading.BoundedSemaphore(max_conns)
        super().__init__(addr, handler)

    def process_request(self, request, client_address):
        self._slots.acquire()
        try:
            super().process_request(request, client_address)
        except Exception:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--addresses", type=int, required=True)
    ap.add_argument("--max-conns", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()
    endpoint = Endpoint(args.seed, args.addresses)
    server = BoundedServer(("127.0.0.1", 0), make_handler(endpoint), args.max_conns)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # until the parent closes our stdin or exits
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    return 0


if __name__ == "__main__":
    sys.exit(main())
