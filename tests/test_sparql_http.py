"""SparqlClient against a fake transport: bindings parse, backoff,
LIMIT/OFFSET paging; and its urllib transport against the loopback
endpoint's HTTP errors."""

from __future__ import annotations

import pytest

from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
    SparqlClient,
)

ROWS = [
    {"iri": {"value": f"https://x/{i}"}, "name": {"value": f"n{i}"}} for i in range(25)
]


class FakeTransport:
    def __init__(self):
        self.fail_next = 0
        self.queries = []

    def __call__(self, url, form):
        self.queries.append(form["query"])
        if self.fail_next > 0:
            self.fail_next -= 1
            raise ConnectionError("transient")
        q = form["query"]
        limit = offset = None
        for line in q.splitlines():
            if line.startswith("LIMIT"):
                limit = int(line.split()[1])
            if line.startswith("OFFSET"):
                offset = int(line.split()[1])
        rows = ROWS
        if offset is not None:
            rows = rows[offset : offset + limit]
        return {"results": {"bindings": rows}}


def test_query_parses_bindings():
    c = SparqlClient("https://example.com/sparql", transport=FakeTransport())
    assert c.query("SELECT ...") == ROWS


def test_backoff_then_success():
    t = FakeTransport()
    t.fail_next = 2
    c = SparqlClient("https://example.com/sparql", transport=t, max_backoff_seconds=5)
    assert len(c.query("SELECT ...")) == 25


def test_paged_query_reassembles():
    t = FakeTransport()
    c = SparqlClient("https://example.com/sparql", transport=t)
    rows = c.query_paged("SELECT ...", page_size=10)
    assert rows == ROWS
    assert len(t.queries) == 3  # 10 + 10 + 5


def test_http_400_raised_at_once_and_503_retried(loopback):
    """A 4xx rejects the query itself (a malformed query stays malformed),
    so it is sent once; a 5xx is transient and retried with backoff."""
    from urllib.error import HTTPError

    for code, sends in ((400, 1), (503, 2)):
        path = f"/status/{code}/sparql"
        c = SparqlClient(f"{loopback.base}{path}", max_backoff_seconds=0.01)
        with pytest.raises(HTTPError) as err:
            c.query("SELECT ?s WHERE { ?s ?p ?o }")
        assert err.value.code == code
        assert loopback.hits[path] == sends
