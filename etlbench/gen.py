"""Seeded, deterministic inputs for the ETL benchmark.

``Universe(seed, n_addr)`` is one address universe in two states:

- ``base``: the state the prior night's run saw (the seeded prior
  snapshot of ``nightly_increment`` is a cold run over it);
- ``current``: ``base`` plus tonight's delta of about 1% — updated
  PIDs, new and moved geocodes, and a few new addresses with new
  sites, parcels, roads and place names.

Every ESRI feature carries ``last_edited_date`` (epoch ms). Rows the
delta touched are stamped at or after ``DELTA_SINCE_MS``, so the
server-side where-filter ``last_edited_date >= DELTA_SINCE_MS`` returns
exactly the delta.

``tpch_tables(seed, scale, out_dir)`` writes the TPC-H-shaped tables
that the ``query_mix`` registry queries read, in the physical schema
of the repository's test data (TESTDATA.md).

The same seed gives the same rows, byte for byte.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: start of tonight's increment; base rows are edited before it
DELTA_SINCE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
_BASE_EDIT_SPAN_MS = 365 * 86_400_000

GEOCODE_TYPES = (
    "https://linked.data.gov.au/def/geocode-types/property-centroid",
    "https://linked.data.gov.au/def/geocode-types/building-centroid",
    "https://linked.data.gov.au/def/geocode-types/frontage-centre-setback",
    "https://linked.data.gov.au/def/geocode-types/parcel-centroid",
)
SITE_TYPES = ("PARCEL", "BUILDING", "UNIT", "MARINA", "CARAVAN PARK")
ADDR_BASE = "https://linked.data.gov.au/dataset/qld-addr/addr/"


def _ids(prefix: str, lo: int, hi: int) -> list[str]:
    return [f"{prefix}{i:08d}" for i in range(lo, hi)]


def _table(cols: dict) -> pa.Table:
    return pa.table({k: pa.array(v) for k, v in cols.items()})


@dataclass
class State:
    """One state of the universe: ESRI layers and SPARQL extracts."""

    addresses: pa.Table  # lf_address extract (SPARQL)
    entities: dict[str, pa.Table]  # name -> entity extract (SPARQL)
    geocode_layer: pa.Table  # ESRI geocode features
    iri_pid_layer: pa.Table  # ESRI IRI -> PID features


#: entity table name -> primary-key column (text IRI until remapped)
ENTITY_PKS = {
    "lf_site": "site_id",
    "lf_parcel": "parcel_id",
    "lf_road": "road_id",
    "locality": "locality_code",
    "lf_place_name": "place_name_id",
}

#: the entity tables the ETL workloads hand to the surrogate-id pass.
#: Two of the reference's five: every table costs the same fixed set of
#: Spark jobs, so two exercise the same code at 2/5 of the wall time
#: the benchmark's time budget could not afford (see README.md).
REMAPPED = ("lf_site", "lf_parcel")


@dataclass
class Universe:
    seed: int
    n_addr: int
    base: State = field(init=False)
    current: State = field(init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.n_addr
        n_new = max(3, n * 3 // 1000)  # new addresses tonight
        n_loc = max(4, n // 200)
        n_road, n_parcel = max(4, n // 20), n * 8 // 10
        n_site, n_pn = n * 9 // 10, max(2, n // 10)
        # tonight's new entities: a few keys past the base range
        new_roads, new_parcels = max(1, n_new // 10), n_new // 2 + 1
        new_sites, new_pns = n_new // 2 + 1, max(1, n_new // 5)

        def entities(nr: int, np_: int, ns: int, npn: int) -> dict[str, pa.Table]:
            r = np.random.default_rng(self.seed + 1)  # same prefix rows in both states
            return {
                "locality": _table(
                    {
                        "locality_code": _ids("urn:qali:locality:", 0, n_loc),
                        "locality_name": [f"LOCALITY {i}" for i in range(n_loc)],
                        "la_code": (np.arange(n_loc) % 77).astype(np.int64),
                        "state": ["QLD"] * n_loc,
                    }
                ),
                "lf_road": _table(
                    {
                        "road_id": _ids("urn:qali:road:", 0, nr),
                        "road_name": [f"ROAD {i}" for i in range(nr)],
                        "road_name_type": [("ST", "RD", "AVE", "CT")[i % 4] for i in range(nr)],
                        "locality_code": [f"urn:qali:locality:{i % n_loc:08d}" for i in range(nr)],
                    }
                ),
                "lf_parcel": _table(
                    {
                        "parcel_id": _ids("urn:qali:parcel:", 0, np_),
                        "plan_no": [f"SP{100000 + i % 90000}" for i in range(np_)],
                        "lot_no": [str(1 + i % 999) for i in range(np_)],
                    }
                ),
                "lf_site": _table(
                    {
                        "site_id": _ids("urn:qali:site:", 0, ns),
                        "site_type": [SITE_TYPES[k] for k in r.integers(0, len(SITE_TYPES), ns)],
                        "parcel_id": [f"urn:qali:parcel:{i % np_:08d}" for i in range(ns)],
                    }
                ),
                "lf_place_name": _table(
                    {
                        "place_name_id": _ids("urn:qali:place:", 0, npn),
                        "place_name": [f"PLACE {i}" for i in range(npn)],
                        "site_id": [f"urn:qali:site:{(i * 7) % ns:08d}" for i in range(npn)],
                    }
                ),
            }

        # ---- base state -------------------------------------------------
        pids = 1_000_000 + rng.permutation(4 * (n + n_new))
        addr_pid = pids[:n]
        addr_site = rng.integers(0, n_site, n)
        addr_parcel = rng.integers(0, n_parcel, n)
        addr_road = rng.integers(0, n_road, n)
        addr_iri = [f"{ADDR_BASE}{i:08d}" for i in range(n)]
        # ~1% of addresses have no IRI->PID entry: pruned with their geocodes
        has_map = rng.random(n) >= 0.01

        # ~1.2 geocodes per address, plus ~3% orphans (pid with no address)
        second = np.nonzero(rng.random(n) < 0.2)[0]
        n_orphan = max(1, n * 3 // 100)
        geo_pid = np.concatenate(
            [addr_pid, addr_pid[second], pids[n + n_new : n + n_new + n_orphan]]
        )
        n_geo = len(geo_pid)
        geo = {
            "objectid": np.arange(n_geo, dtype=np.int64),
            "pid": geo_pid,
            "type": rng.integers(0, len(GEOCODE_TYPES), n_geo),
            "x": np.round(138.0 + rng.random(n_geo) * 15.0, 6),
            "y": np.round(-29.0 + rng.random(n_geo) * 18.0, 6),
            "last_edited_date": DELTA_SINCE_MS - 1 - rng.integers(0, _BASE_EDIT_SPAN_MS, n_geo),
        }
        iri_map = {
            "objectid": np.arange(n, dtype=np.int64),
            "address_iri": np.array(addr_iri, dtype=object),
            "pid": addr_pid.copy(),
            "last_edited_date": DELTA_SINCE_MS - 1 - rng.integers(0, _BASE_EDIT_SPAN_MS, n),
        }
        self.base = State(
            addresses=self._addresses(addr_iri, addr_pid, addr_site, addr_parcel, addr_road),
            entities=entities(n_road, n_parcel, n_site, n_pn),
            geocode_layer=self._geo_layer(geo),
            iri_pid_layer=self._iri_layer(iri_map, has_map),
        )

        # ---- tonight's delta -------------------------------------------
        def stamp(k: int) -> np.ndarray:  # edited tonight
            return DELTA_SINCE_MS + rng.integers(0, 86_400_000, k)

        # updated PIDs: ~0.5% of mapped addresses get a fresh pid
        moved = np.nonzero(has_map & (rng.random(n) < 0.005))[0]
        fresh = pids[n + n_new + n_orphan : n + n_new + n_orphan + len(moved)]
        addr_pid2 = addr_pid.copy()
        addr_pid2[moved] = fresh
        iri_map["pid"][moved] = fresh
        iri_map["last_edited_date"][moved] = stamp(len(moved))
        # new addresses with new pids; some land on new sites/parcels/roads
        new_pid = pids[n : n + n_new]
        n2 = n + n_new
        addr_iri2 = addr_iri + [f"{ADDR_BASE}{i:08d}" for i in range(n, n2)]
        site2 = np.concatenate([addr_site, n_site + rng.integers(0, new_sites, n_new)])
        parcel2 = np.concatenate([addr_parcel, n_parcel + rng.integers(0, new_parcels, n_new)])
        road2 = np.concatenate([addr_road, rng.integers(0, n_road + new_roads, n_new)])
        addr_pid2 = np.concatenate([addr_pid2, new_pid])
        has_map2 = np.concatenate([has_map, np.ones(n_new, dtype=bool)])
        for k, v in (
            ("objectid", np.arange(n, n2, dtype=np.int64)),
            ("address_iri", np.array(addr_iri2[n:], dtype=object)),
            ("pid", new_pid),
            ("last_edited_date", stamp(n_new)),
        ):
            iri_map[k] = np.concatenate([iri_map[k], v])
        # geocodes: moved coordinates for ~0.2%, one new geocode for every
        # fresh or new pid, and ~0.3% extra geocodes on existing addresses
        touched = np.nonzero(rng.random(n_geo) < 0.002)[0]
        geo["x"][touched] = np.round(geo["x"][touched] + 0.0001, 6)
        geo["last_edited_date"][touched] = stamp(len(touched))
        extra = rng.integers(0, n, max(1, n * 3 // 1000))
        add_pid = np.concatenate([fresh, new_pid, addr_pid2[extra]])
        k = len(add_pid)
        for key, v in (
            ("objectid", np.arange(n_geo, n_geo + k, dtype=np.int64)),
            ("pid", add_pid),
            ("type", rng.integers(0, len(GEOCODE_TYPES), k)),
            ("x", np.round(138.0 + rng.random(k) * 15.0, 6)),
            ("y", np.round(-29.0 + rng.random(k) * 18.0, 6)),
            ("last_edited_date", stamp(k)),
        ):
            geo[key] = np.concatenate([geo[key], v])
        self.current = State(
            addresses=self._addresses(addr_iri2, addr_pid2, site2, parcel2, road2),
            entities=entities(n_road + new_roads, n_parcel + new_parcels, n_site + new_sites, n_pn + new_pns),
            geocode_layer=self._geo_layer(geo),
            iri_pid_layer=self._iri_layer(iri_map, has_map2),
        )

    @staticmethod
    def _addresses(iri, pid, site, parcel, road) -> pa.Table:
        m = len(iri)
        return _table(
            {
                "addr_id": list(iri),
                "address_pid": [str(p) for p in pid],
                "site_id": [f"urn:qali:site:{s:08d}" for s in site],
                "parcel_id": [f"urn:qali:parcel:{p:08d}" for p in parcel],
                "road_id": [f"urn:qali:road:{r:08d}" for r in road],
                "street_no_first": [str(1 + (i * 13) % 400) for i in range(m)],
                "addr_status_code": ["A"] * m,
            }
        )

    @staticmethod
    def _geo_layer(geo: dict) -> pa.Table:
        # copies: the delta edits ``geo`` in place after the base is built
        return _table(
            {
                "objectid": geo["objectid"].copy(),
                "pid": [str(p) for p in geo["pid"]],
                "type": [GEOCODE_TYPES[t] for t in geo["type"]],
                "x": geo["x"].copy(),
                "y": geo["y"].copy(),
                "last_edited_date": geo["last_edited_date"].copy(),
            }
        )

    @staticmethod
    def _iri_layer(iri_map: dict, keep: np.ndarray) -> pa.Table:
        idx = np.nonzero(keep)[0]
        return _table(
            {
                "objectid": iri_map["objectid"][idx],  # fancy indexing copies
                "address_iri": list(iri_map["address_iri"][idx]),
                "pid": [str(p) for p in iri_map["pid"][idx]],
                "last_edited_date": iri_map["last_edited_date"][idx],
            }
        )


ADDRESS_VARS = (
    "addr_id",
    "address_pid",
    "site_id",
    "parcel_id",
    "road_id",
    "street_no_first",
    "addr_status_code",
)


def _dataset(name: str) -> str:
    return f"<urn:etlbench:dataset:{name}>"


def address_query() -> str:
    """The paged SPARQL address extract."""
    props = " ; ".join(f"<urn:qali:{v}> ?{v}" for v in ADDRESS_VARS[1:])
    return (
        f"SELECT {' '.join('?' + v for v in ADDRESS_VARS)} WHERE "
        f"{{ ?addr_id a {_dataset('addresses')} ; {props} }}"
    )


def keys_query(name: str, key: str) -> str:
    """Phase one of the keys-then-details extract: the entity keys."""
    return f"SELECT ?{key} WHERE {{ ?{key} a {_dataset(name)} }}"


def detail_query(name: str, variables: list[str]) -> str:
    """Phase two: details for one ``VALUES`` batch of keys."""
    key = variables[0]
    props = " ; ".join(f"<urn:qali:{v}> ?{v}" for v in variables[1:])
    return (
        f"SELECT {' '.join('?' + v for v in variables)} WHERE "
        f"{{ {{values}} ?{key} a {_dataset(name)} ; {props} }}"
    )


def delta(layer: pa.Table) -> pa.Table:
    """The rows a ``last_edited_date >= DELTA_SINCE_MS`` filter returns."""
    return layer.filter(pc.greater_equal(layer["last_edited_date"], DELTA_SINCE_MS))


# ---------------------------------------------------------------------------
# TPC-H-shaped tables for query_mix
# ---------------------------------------------------------------------------

_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _pick(rng, values, n):
    return [values[k] for k in rng.integers(0, len(values), n)]


def _days(rng, n, lo="1995-01-01", hi="2001-08-01"):
    lo_d = np.datetime64(lo)
    span = (np.datetime64(hi) - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def tpch_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the tables the relational/scalars/vocab registry queries
    read (one parquet file each) and return their row counts. ``scale``
    follows the test data's sf: lineitem has 6M * scale rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev, n_doc = int(6_000_000 * scale), int(1_000_000 * scale), int(50_000 * scale)
    n_users = max(10, int(15_000 * scale))
    cents = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    ev_start = np.datetime64("2024-01-01T00:00:00")
    docs = [" ".join(_pick(rng, _VOCAB, int(rng.integers(10, 101)))) for _ in range(n_doc)]
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust
            ),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": cents(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": cents(900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": docs,
            "lang": _pick(rng, ("en", "en", "en", "zh", "es", "fr", "de"), n_doc),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = _table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
