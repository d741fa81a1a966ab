"""Concrete SPARQL endpoint client (connector edge for S1/S2).

Mirrors ``address_etl/crud.py:25-48``: POST the query text, parse the
JSON bindings, exponential backoff on transport errors. Transport is
injected; the default uses stdlib urllib. ``sources/sparql_datasource.py``
runs every query of ``spark.read.format("sparql")`` through it: the
COUNT wrap and the ordered pages, or the keys query (``query_paged``)
and one ``VALUES`` batch per partition.
"""

from __future__ import annotations

from .transport import Transport, post_json, with_backoff


def urllib_sparql_transport(url: str, form: dict) -> dict:
    return post_json(url, form, {"Accept": "application/sparql-results+json"})


class SparqlClient:
    def __init__(
        self,
        endpoint: str,
        transport: Transport = urllib_sparql_transport,
        max_backoff_seconds: float = 900.0,
    ):
        self.endpoint = endpoint
        self.transport = transport
        self.max_backoff_seconds = max_backoff_seconds

    def query(self, query_text: str) -> list[dict[str, dict[str, str]]]:
        """One query → binding rows ({var: {"value": ...}}), with
        exponential backoff on transport failure (crud.py:19-24)."""
        return with_backoff(
            lambda: self.transport(self.endpoint, {"query": query_text})["results"]["bindings"],
            self.max_backoff_seconds,
        )

    def query_paged(
        self, query_text: str, page_size: int = 10000, max_pages: int = 10000
    ) -> list[dict[str, dict[str, str]]]:
        """LIMIT/OFFSET paging for endpoints that cap result sizes."""
        out: list[dict] = []
        for page in range(max_pages):
            q = f"{query_text}\nLIMIT {page_size}\nOFFSET {page * page_size}"
            rows = self.query(q)
            out.extend(rows)
            if len(rows) < page_size:
                break
        return out
