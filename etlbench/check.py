"""Staging of generated inputs, and the output checks.

The checks run after the timed window and never share code with the
program under test: the ETL's expected outputs are computed by DuckDB
from the same staged inputs (and, for an increment, the prior snapshot
as published), and compared with the published snapshot row for row.
The ``query_mix`` results are compared with the registered DuckDB
``ORACLES`` by ``tests/parity.compare_frames``, the comparison the
parity suite uses.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

GEOCODE_COLS = "geocode_id, geocode_type, address_pid, site_id, centoid_lat, centoid_lon, hash"


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _initialism(iri: str) -> str:
    """Geocode-type IRI -> legacy code: initials of the slug words."""
    slug = iri.rsplit("geocode-types/", 1)[-1]
    return "".join(w[:1] for w in slug.split("-")).upper()[:4]


def fetched_tables(state: gen.State, delta_only: bool) -> dict[str, pa.Table]:
    """The normalized ESRI extracts the ETL receives: the whole layers on
    a cold load, the ``last_edited_date`` delta on an increment."""
    geo, iri = state.geocode_layer, state.iri_pid_layer
    if delta_only:
        geo, iri = gen.delta(geo), gen.delta(iri)
    nulls = pa.nulls(geo.num_rows, pa.string())
    return {
        "fetched_geocodes": pa.table(
            {
                "geocode_id": pa.array([str(v) for v in geo["objectid"].to_pylist()]),
                "geocode_type": pa.array([_initialism(v) for v in geo["type"].to_pylist()]),
                "address_pid": geo["pid"],
                "site_id": nulls,
                "centoid_lat": geo["y"],
                "centoid_lon": geo["x"],
                "hash": nulls,
            }
        ),
        "fetched_iri_pid": pa.table({"address_iri": iri["address_iri"], "address_pid": iri["pid"]}),
    }


def stage_state(state: gen.State, out: str, fetched: bool) -> None:
    """Write one state's extracts as parquet under ``out``."""
    _write(state.addresses, os.path.join(out, "addresses"))
    for name in gen.REMAPPED:
        _write(state.entities[name], os.path.join(out, name))
    if fetched:
        stage_fetched(state, out, delta_only=False)


def stage_fetched(state: gen.State, out: str, delta_only: bool) -> None:
    for name, table in fetched_tables(state, delta_only).items():
        _write(table, os.path.join(out, name))


def snapshot_rows(snapshot: str, table: str | None = None) -> int:
    """Rows in a published snapshot (or one of its tables), from the
    parquet footers."""
    pattern = os.path.join(snapshot, table or "*", "*.parquet")
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(pattern))


def _view(con, name: str, path: str) -> None:
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")


def _diff(con, name: str, expected: str, actual: str, cols: str) -> list[str]:
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {expected} EXCEPT ALL SELECT {cols} FROM {actual})"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {actual} EXCEPT ALL SELECT {cols} FROM {expected})"
    ).fetchone()[0]
    if missing or extra:
        return [f"{name}: {missing} expected rows missing, {extra} unexpected rows"]
    return []


def check_etl(snapshot: str, staged: str, prior: str | None) -> list[str]:
    """Compare a published snapshot with DuckDB's reading of the run."""
    con = duckdb.connect()
    for name in ("addresses", "fetched_geocodes", "fetched_iri_pid", *gen.REMAPPED):
        _view(con, name, os.path.join(staged, name))
    if prior is not None:
        _view(con, "prior_pid", os.path.join(prior, "address_iri_pid_map"))
        _view(con, "prior_geo", os.path.join(prior, "lf_geocode_sp_survey_point"))
        for name in gen.REMAPPED:
            _view(con, f"prior_{name}", os.path.join(prior, f"{name}_id_map"))
    else:
        con.execute("CREATE TABLE prior_pid AS SELECT * FROM fetched_iri_pid LIMIT 0")
        con.execute(f"CREATE TABLE prior_geo AS SELECT {GEOCODE_COLS} FROM fetched_geocodes LIMIT 0")
        for name in gen.REMAPPED:
            con.execute(f"CREATE TABLE prior_{name} (iri VARCHAR, id BIGINT)")

    con.execute(
        """CREATE TABLE exp_pid AS
        SELECT address_iri, address_pid FROM fetched_iri_pid
        UNION ALL SELECT address_iri, address_pid FROM prior_pid
        WHERE address_iri NOT IN (SELECT address_iri FROM fetched_iri_pid)"""
    )
    con.execute(
        f"""CREATE TABLE geo_all AS
        SELECT {GEOCODE_COLS} FROM fetched_geocodes
        UNION ALL SELECT geocode_id, geocode_type, address_pid, NULL, centoid_lat, centoid_lon, NULL
        FROM prior_geo WHERE geocode_id NOT IN (SELECT geocode_id FROM fetched_geocodes)"""
    )
    con.execute(
        "CREATE TABLE exp_addr AS SELECT * FROM addresses "
        "WHERE address_pid IN (SELECT address_pid FROM exp_pid)"
    )
    con.execute(
        """CREATE TABLE exp_geo AS
        SELECT g.geocode_id, g.geocode_type, g.address_pid,
               COALESCE(g.site_id, m.site) AS site_id, g.centoid_lat, g.centoid_lon, g.hash
        FROM geo_all g
        LEFT JOIN (SELECT address_pid, MIN(site_id) AS site FROM exp_addr GROUP BY 1) m
          USING (address_pid)
        WHERE g.address_pid IN (SELECT address_pid FROM exp_addr)"""
    )
    out = snapshot
    problems: list[str] = []
    for table, expected in (
        ("address_iri_pid_map", "exp_pid"),
        ("lf_address", "exp_addr"),
        ("lf_geocode_sp_survey_point", "exp_geo"),
    ):
        _view(con, f"act_{table}", os.path.join(out, table))
        cols = ", ".join(c[0] for c in con.execute(f"DESCRIBE {expected}").fetchall())
        problems += _diff(con, table, expected, f"act_{table}", cols)

    for name in gen.REMAPPED:
        pk = gen.ENTITY_PKS[name]
        prior_map = f"prior_{name}"
        con.execute(
            f"""CREATE TABLE exp_map_{name} AS
            SELECT iri, id FROM {prior_map}
            UNION ALL
            SELECT iri, (SELECT COALESCE(MAX(id), 0) FROM {prior_map})
                        + ROW_NUMBER() OVER (ORDER BY iri) AS id
            FROM (SELECT DISTINCT {pk} AS iri FROM {name}
                  WHERE {pk} NOT IN (SELECT iri FROM {prior_map}))"""
        )
        con.execute(
            f"""CREATE TABLE exp_tbl_{name} AS
            SELECT m.id AS {pk}, e.* EXCLUDE ({pk})
            FROM {name} e JOIN exp_map_{name} m ON e.{pk} = m.iri"""
        )
        _view(con, f"act_map_{name}", os.path.join(out, f"{name}_id_map"))
        _view(con, f"act_tbl_{name}", os.path.join(out, name))
        problems += _diff(con, f"{name}_id_map", f"exp_map_{name}", f"act_map_{name}", "iri, id")
        cols = ", ".join(c[0] for c in con.execute(f"DESCRIBE exp_tbl_{name}").fetchall())
        problems += _diff(con, name, f"exp_tbl_{name}", f"act_tbl_{name}", cols)
        # the two surrogate-id invariants, stated on their own
        changed = con.execute(
            f"""SELECT count(*) FROM {prior_map} p LEFT JOIN act_map_{name} a USING (iri)
            WHERE a.id IS DISTINCT FROM p.id"""
        ).fetchone()[0]
        if changed:
            problems.append(f"{name}: {changed} carried surrogate ids changed")
        lo, hi, n, distinct, top = con.execute(
            f"""SELECT min(id), max(id), count(*), count(DISTINCT id),
                   (SELECT COALESCE(MAX(id), 0) FROM {prior_map})
            FROM act_map_{name} WHERE iri NOT IN (SELECT iri FROM {prior_map})"""
        ).fetchone()
        if n and (lo != top + 1 or hi != top + n or distinct != n):
            problems.append(f"{name}: new ids {lo}..{hi} ({distinct} distinct of {n}) not dense from {top + 1}")

    _view(con, "act_metadata", os.path.join(out, "metadata"))
    if con.execute("SELECT count(*), min(id) FROM act_metadata").fetchone() != (1, 1):
        problems.append("metadata: expected the single row with id 1")
    return problems


def check_pull(pulled: str, state: gen.State) -> list[str]:
    """Compare the rows the readers delivered with the generated layers."""
    con = duckdb.connect()
    expected = {
        "geocodes": state.geocode_layer.select(["objectid", "pid", "type", "x", "y"]),
        "iri_pid": state.iri_pid_layer.select(["objectid", "address_iri", "pid"]),
        "addresses": state.addresses.select(list(gen.ADDRESS_VARS)),
        "lf_site": state.entities["lf_site"].select(["site_id", "site_type", "parcel_id"]),
    }
    problems: list[str] = []
    for name, table in expected.items():
        con.register(f"exp_{name}", table)
        _view(con, f"act_{name}", os.path.join(pulled, name))
        problems += _diff(con, name, f"exp_{name}", f"act_{name}", ", ".join(table.column_names))
    return problems


def check_queries(results: dict, sf_dir: str) -> list[str]:
    """Compare collected query results with the registered oracles."""
    from cam_location_addressing_feature_service_etl_spark.workload import ORACLES
    from tests.parity import compare_frames

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    problems: list[str] = []
    for name, pdf in results.items():
        issues = compare_frames(pdf, con.execute(ORACLES[name]).fetchdf())
        problems += [f"{name}: {i}" for i in issues]
    return problems
