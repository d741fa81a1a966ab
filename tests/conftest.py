from __future__ import annotations

import json
import os
import re
import sys
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cam_location_addressing_feature_service_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # small-core session for tests: startup speed over parallelism
    s = get_spark(app_name="cam-etl-tests", cpus=os.environ.get("SPARK_TEST_CPUS", "4"))
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


# --- loopback ESRI + SPARQL endpoint ----------------------------------------
#
# Deterministic stores whose size is part of the URL:
#   POST /esri/<n>/query   a layer of n features (count, pages, orderByFields)
#   POST /sparql/<n>       a store of n rows (COUNT wrap, LIMIT/OFFSET pages,
#                          VALUES batches, pushed STR-equality/BOUND filters)
#   POST /status/<code>/…  always answers HTTP <code>
# Row i of the SPARQL store binds the first projected variable to
# <urn:pid:i>, leaves ``*_opt`` variables unbound when i % 3 == 0 and
# binds every other variable to "<var>-<i>".

_PROJECTION = re.compile(r"SELECT\s+((?:\?\w+\s*)+)WHERE")
_VALUES = re.compile(r"VALUES\s+\?\w+\s*\{([^}]*)\}")
_STR_EQ = re.compile(r'FILTER\(STR\(\?(\w+)\) = "([^"]*)"\)')
_BOUND = re.compile(r"FILTER\(BOUND\(\?(\w+)\)\)")
_LIMIT = re.compile(r"\bLIMIT\s+(\d+)")
_OFFSET = re.compile(r"\bOFFSET\s+(\d+)")


def _esri_feature(i: int) -> dict:
    return {
        "attributes": {
            "objectid": i,
            "pid": str(100000 + i),
            "type": f"https://linked.data.gov.au/def/geocode-types/type-{i % 7}",
        },
        "geometry": {"x": 138.0 + (i % 1600) / 100.0, "y": -29.0 + (i % 2000) / 100.0},
    }


def _esri_query(total: int, form: dict) -> dict:
    if form.get("returnCountOnly") == "true":
        return {"count": total}
    feats = [_esri_feature(i) for i in range(total)]
    if form.get("orderByFields"):
        feats.sort(key=lambda f: f["attributes"][form["orderByFields"]])
    lo = int(form["resultOffset"])
    return {"features": feats[lo : lo + int(form["resultRecordCount"])]}


def _sparql_binding(variables: list[str], i: int) -> dict:
    row = {variables[0]: {"value": f"urn:pid:{i}"}}
    for v in variables[1:]:
        if not (v.endswith("_opt") and i % 3 == 0):
            row[v] = {"value": f"{v}-{i}"}
    return row


def _sparql_query(total: int, query: str) -> dict:
    variables = re.findall(r"\?(\w+)", _PROJECTION.search(query).group(1))
    values = _VALUES.search(query)
    if values:
        keys = re.findall(r"<urn:pid:(\d+)>", values.group(1))
        ids = sorted(i for i in map(int, keys) if i < total)
    else:
        ids = range(total)
    rows = [_sparql_binding(variables, i) for i in ids]
    for v, val in _STR_EQ.findall(query):
        rows = [r for r in rows if r.get(v, {}).get("value") == val]
    for v in _BOUND.findall(query):
        rows = [r for r in rows if v in r]
    if "(COUNT(*) AS ?n)" in query:
        return {"results": {"bindings": [{"n": {"value": str(len(rows))}}]}}
    limit, offset = _LIMIT.search(query), _OFFSET.search(query)
    lo = int(offset.group(1)) if offset else 0
    hi = lo + int(limit.group(1)) if limit else len(rows)
    return {"results": {"bindings": rows[lo:hi]}}


class _LoopbackHandler(BaseHTTPRequestHandler):
    def do_POST(self):
        with self.server.lock:
            self.server.hits[self.path] += 1
        body = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()
        form = {k: v[0] for k, v in parse_qs(body).items()}
        kind, arg = self.path.strip("/").split("/")[:2]
        if kind == "status":
            self.send_error(int(arg))
            return
        if kind == "esri":
            payload = _esri_query(int(arg), form)
        else:
            payload = _sparql_query(int(arg), form["query"])
        data = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *_args):
        pass


class LoopbackServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _LoopbackHandler)
        self.lock = threading.Lock()
        self.hits: Counter[str] = Counter()  # requests per path

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"


@pytest.fixture(scope="session")
def loopback():
    """The readers' live path against an in-process HTTP endpoint;
    Spark's Python workers reach it over 127.0.0.1."""
    server = LoopbackServer()
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield server
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
