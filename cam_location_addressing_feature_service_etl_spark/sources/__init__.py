"""Connectors and snapshot lifecycle: the ``esri`` and ``sparql`` Python
data sources (one live read path per endpoint, over the injected-
transport clients in ``esri_http``/``sparql_http``), ESRI schema and
incremental-predicate helpers, and timestamped parquet snapshots.
Tests run the readers against a loopback HTTP endpoint (SURVEY §5)."""
