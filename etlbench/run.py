#!/usr/bin/env python3
"""ETL benchmark: nightly increment and the §2 query mix (gated), plus
source pull and cold load, each a closed loop with one client on
``local[nproc]``.

    python3 etlbench/run.py --workload nightly_increment --seed 1 --seconds 5 --trace 0
    python3 etlbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. One run generates its inputs from
``--seed``, sets up (session, inputs, loopback endpoint, prior
snapshot), then repeats the workload back to back, in whole
repetitions, until ``--seconds`` have passed, checks the outputs
against an independent computation, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` an untimed
repetition is followed by alternating untraced and traced ones, the
metrics are the per-layer ones, and the spans go to ``--spans`` when
given. ``--workload all`` runs every workload in turn and prints a
table.

Everything the run writes goes under ``.etlbench_work/`` in the
repository root, and is removed when the run ends. See README.md in
this directory for the workloads, metrics and sizing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import urllib.request
from contextlib import nullcontext
from datetime import datetime, timedelta, timezone

import check
import gen
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = os.cpu_count() or 1

#: universe size of every ETL workload. run_etl costs the same at 10k and
#: 20k addresses (its Spark jobs' fixed costs dominate); see README.md.
ADDRESSES = 10_000
QUERY_SCALE = 0.001  # TPC-H-style sf for query_mix (lineitem = 6000 rows)
ESRI_PAGE = 2000  # the reference's batch size
SPARQL_PAGE = 5000
KEY_BATCH = 2000
PREPARE_REPEATS = 3  # set-up is repeated and its median reported

#: the query_mix list, pinned by name: every query registered by
#: workload/relational.py, scalars.py and vocab.py when this benchmark
#: was written. Later registrations do not change the workload.
QUERY_MIX = (
    "a13_theta_join_cardinality a14_bloom_semijoin_prune a1_grouped_max_latest "
    "a1_latest_row_window a2_count_with_predicate a4_rowcount_delta a9_key_skew_profile "
    "agg_corr_price_quantity agg_grouping_sets agg_rollup_region_nation agg_woe_price_bins "
    "d1_distinct_projection d2_first_wins_dedup d3_distinct_keys_sorted "
    "d4_distinct_values_pushdown dq_benford_audit dq_constraint_suite dq_profile_orders "
    "f12_validation_checks flagship_current_address j10_cache_merge_fetched_wins "
    "j11_fuzzy_blocked_match j1_multiway_equijoin j2_optional_left_join "
    "j3_values_batch_semijoin j5_left_join_unmapped j6_prune_keep_semi "
    "j7_anti_union_newkeys j8_update_join_enrich j9_lookup_join_miss_skip "
    "m1_upsert_last_write_wins m2_upsert_reset_column m3_stable_surrogate_ids "
    "m7_cdc_apply_tombstones m8_time_travel_asof o1_latest_snapshot_top1 o2_limit_guard "
    "p1_column_projection p2_computed_projection p3_typed_literal_filter "
    "p4_anti_join_open_lifecycle p5_incremental_predicate p7_notnull_filter "
    "p8_debug_subset_semijoin pipeline_prune_enrich_composite u1_union_distinct "
    "u2_carry_forward_reshape u3_intersect_nations u4_except_nations u5_snapshot_diff "
    "f11_prefix_ops f1_f2_synthetic_keys f3_conditional_rewrite f5_vocab_lookup "
    "f6_normalize_initialism f7_string_casts f8_f9_f10_time_suite f_json_extract_props "
    "text_bpe_encode text_bpe_merge_rules text_vocab_coverage"
).split()

BNE = timezone(timedelta(hours=10))
PRIOR_RUN = (datetime(2026, 1, 1, 2, 0, tzinfo=BNE), datetime(2026, 1, 1, 2, 30, tzinfo=BNE))
TONIGHT = (datetime(2026, 1, 2, 2, 0, tzinfo=BNE), datetime(2026, 1, 2, 2, 30, tzinfo=BNE))

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
}


def _prepare_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python at ``work``;
    must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers (the data-source readers) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the inputs are small; the machine is shared
    # GC between repetitions, not on a timer inside one (see bench.py)
    os.environ["SPARK_GRAFT_PERIODIC_GC"] = "60min"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            # no hsperfdata file under /tmp: a run writes only its checkout
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # the traced run reads every job and stage back from the status store
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )


# ---------------------------------------------------------------------------
# process bookkeeping: peak RSS of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def _descendants(pid: int, exclude: set[int] = frozenset()) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            if c not in exclude:
                out.append(c)
                todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the JVM and
    the Python workers it forks), minus the endpoint, every 200 ms."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            total = sum(_rss_bytes(p) for p in _descendants(os.getpid(), self.exclude))
            self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# the loopback endpoint
# ---------------------------------------------------------------------------


class EndpointProcess:
    """The loopback endpoint in its own process. It starts generating and
    rendering at once; ``base`` waits until it listens."""

    def __init__(self, seed: int, addresses: int):
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "endpoint.py"),
                "--seed",
                str(seed),
                "--addresses",
                str(addresses),
                "--max-conns",
                str(NPROC),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self._base: str | None = None

    @property
    def base(self) -> str:
        if self._base is None:
            line = self.proc.stdout.readline()
            if not line.startswith("PORT "):
                raise RuntimeError(f"endpoint did not start: {line!r}")
            self._base = f"http://127.0.0.1:{int(line.split()[1])}"
        return self._base

    def stats(self) -> dict:
        with urllib.request.urlopen(f"{self.base}/stats", timeout=30) as r:
            return json.loads(r.read())

    def reset(self) -> None:
        req = urllib.request.Request(f"{self.base}/stats/reset", data=b"", method="POST")
        urllib.request.urlopen(req, timeout=30).close()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=15)
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One workload. ``prepare`` makes the inputs from the seed and is
    repeated (its median is the set-up metric's share); ``seed_state``
    runs once (endpoint start, warm-up, prior snapshot); ``rep`` is one
    timed repetition and returns (rows landed, per-operation seconds)."""

    #: universe size served by the loopback endpoint; None: no endpoint
    endpoint_addresses: int | None = None

    def __init__(self, spark, seed: int, work: str, endpoint: EndpointProcess | None):
        self.spark, self.seed, self.work, self.endpoint = spark, seed, work, endpoint

    def prepare(self) -> None:
        raise NotImplementedError

    def seed_state(self) -> None:
        raise NotImplementedError

    def rep(self, tracer=None) -> tuple[int, list[float]]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def _endpoint_counts(tracer, kind: str, before: dict, after: dict, rows: int) -> None:
    """Attribute the endpoint's request counters between two readings to
    ``sources.<kind>``: one page (or VALUES batch) request per partition;
    ``retries`` counts the requests the endpoint answered with an error,
    the only failed attempts it can see."""
    d = {k: after[k] - before[k] for k in after}
    tracer.add(f"sources.{kind}.rows", rows)
    tracer.add(f"sources.{kind}.requests", d["requests"])
    tracer.add(f"sources.{kind}.bytes", d["bytes"])
    if kind == "esri":
        tracer.add("sources.esri.partitions", d["esri_page"])
        tracer.add("sources.esri.retries", d["errors"])
    else:
        tracer.add("sources.sparql.partitions", d["sparql_page"] + d["sparql_values"])
        tracer.add("sources.sparql.key_batches", d["sparql_values"])


def _esri(spark, base: str, layer: str, where: str = "1=1"):
    schema = {"iri_pid": "objectid bigint, address_iri string, pid string"}
    r = spark.read.format("esri").option("layer_url", f"{base}/esri/{layer}")
    if layer in schema:
        r = r.option("schema", schema[layer])
    return r.option("where", where).option("page_size", ESRI_PAGE).load()


SITE_VARS = ["site_id", "site_type", "parcel_id"]


def _sparql_addresses(spark, base: str):
    """The address extract, paged (COUNT wrap, then ORDER BY/LIMIT/OFFSET)."""
    return (
        spark.read.format("sparql").option("endpoint", f"{base}/sparql")
        .option("variables", ",".join(gen.ADDRESS_VARS))
        .option("query", gen.address_query()).option("page_size", SPARQL_PAGE).load()
    )


def _sparql_sites(spark, base: str):
    """The site extract, keys then VALUES-batched details."""
    return (
        spark.read.format("sparql").option("endpoint", f"{base}/sparql")
        .option("variables", ",".join(SITE_VARS))
        .option("keys_query", gen.keys_query("lf_site", "site_id"))
        .option("query", gen.detail_query("lf_site", SITE_VARS))
        .option("page_size", SPARQL_PAGE).option("key_batch", KEY_BATCH).load()
    )


class SourcePull(Workload):
    """Pull both ESRI layers and the SPARQL address (paged) and site
    (keys + VALUES batches) extracts through the DSv2 readers in live
    mode against the loopback endpoint; materialize with a noop write."""

    endpoint_addresses = ADDRESSES

    def prepare(self) -> None:
        self.universe = gen.Universe(self.seed, ADDRESSES)

    def seed_state(self) -> None:
        # the warm-up pull (Python workers, JIT, the endpoint's response
        # cache) lands its rows as parquet, for the output check
        self.pulled = os.path.join(self.work, "pulled")
        for _kind, name, _n, load in self.reads():
            load().write.mode("overwrite").parquet(os.path.join(self.pulled, name))

    def reads(self):
        """(layer kind, name, expected rows, DataFrame factory) per extract."""
        spark, base, cur = self.spark, self.endpoint.base, self.universe.current
        return [
            ("esri", "geocodes", cur.geocode_layer.num_rows, lambda: _esri(spark, base, "geocodes")),
            ("esri", "iri_pid", cur.iri_pid_layer.num_rows, lambda: _esri(spark, base, "iri_pid")),
            ("sparql", "addresses", cur.addresses.num_rows, lambda: _sparql_addresses(spark, base)),
            ("sparql", "lf_site", cur.entities["lf_site"].num_rows, lambda: _sparql_sites(spark, base)),
        ]

    def rep(self, tracer=None) -> tuple[int, list[float]]:
        rows, lat = 0, []
        for kind, _name, n, load in self.reads():
            before = self.endpoint.stats() if tracer else None
            t0 = time.perf_counter()
            with _span(tracer, f"sources.{kind}.plan"):
                df = load()
            with _span(tracer, f"sources.{kind}.read"):
                _noop(df)
            lat.append(time.perf_counter() - t0)
            rows += n
            if tracer:
                _endpoint_counts(tracer, kind, before, self.endpoint.stats(), n)
        return rows, lat

    def check(self) -> list[str]:
        return check.check_pull(self.pulled, self.universe.current)


class EtlWorkload(Workload):
    """Runs ``plans.run.run_etl`` over staged (or pulled) extracts."""

    def _stage(self, state, fetched: bool, name: str = "staged") -> str:
        out = os.path.join(self.work, name)
        shutil.rmtree(out, ignore_errors=True)
        check.stage_state(state, out, fetched=fetched)
        return out

    def _run_etl(self, staged: str, root: str, when, pulled: dict | None = None):
        """One run. Extracts named in ``pulled`` (DataFrames from the
        readers) replace the staged ones."""
        from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl

        def read(name):
            if pulled and name in pulled:
                return pulled[name]
            return self.spark.read.parquet(os.path.join(staged, name))

        result = run_etl(
            self.spark,
            snapshot_root=root,
            start_time=when[0],
            end_time=when[1],
            fetched_iri_pid=read("fetched_iri_pid"),
            fetched_geocodes=read("fetched_geocodes"),
            lf_address=read("addresses"),
            tables_to_remap={name: (read(name), gen.ENTITY_PKS[name]) for name in gen.REMAPPED},
        )
        result.message.collect()  # the publish hand-off row
        return result

    def _landed(self, tracer) -> int:
        """Rows published; a traced run also counts the address rows."""
        if tracer:
            tracer.add("address_rows", check.snapshot_rows(self.result.snapshot_path, "lf_address"))
        return check.snapshot_rows(self.result.snapshot_path)


class FullLoad(EtlWorkload):
    """Cold first run from an empty snapshot root over staged extracts.
    Every key is new, so the bulk surrogate numbering runs in full."""

    def prepare(self) -> None:
        self.universe = gen.Universe(self.seed, ADDRESSES)
        self.staged = self._stage(self.universe.current, fetched=True)

    def seed_state(self) -> None:
        pass  # the first repetition runs on a cold JVM, as a first load does

    def rep(self, tracer=None) -> tuple[int, list[float]]:
        root = os.path.join(self.work, "snapshots")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        self.result = self._run_etl(self.staged, root, TONIGHT)
        dt = time.perf_counter() - t0
        return self._landed(tracer), [dt]

    def check(self) -> list[str]:
        return check.check_etl(self.result.snapshot_path, self.staged, prior=None)


class NightlyIncrement(EtlWorkload):
    """Warm run restoring a seeded prior snapshot. The ESRI delta comes
    through the esri reader with a ``last_edited_date`` where-filter; the
    address and site extracts through the sparql reader."""

    endpoint_addresses = ADDRESSES

    def prepare(self) -> None:
        self.universe = gen.Universe(self.seed, ADDRESSES)
        self.staged = self._stage(self.universe.current, fetched=False)

    def seed_state(self) -> None:
        # the prior snapshot: a cold run over the base state, which also
        # warms the JVM for the increments
        prior_staged = self._stage(self.universe.base, fetched=True, name="prior_staged")
        self.pristine = os.path.join(self.work, "prior")
        self.prior_snapshot = self._run_etl(prior_staged, self.pristine, PRIOR_RUN).snapshot_path

    def _pull(self) -> dict:
        """Tonight's extracts through the readers: the ESRI increment
        and the SPARQL address and site extracts, which the reference
        pulls in full every night."""
        return {**self._pull_esri(), **self._pull_sparql()}

    def _pull_sparql(self) -> dict:
        base = self.endpoint.base
        return {"addresses": _sparql_addresses(self.spark, base), "lf_site": _sparql_sites(self.spark, base)}

    def _pull_esri(self) -> dict:
        """The ESRI increment, normalized to the extract shapes ``run_etl``
        takes (as tests/test_run_etl.py does)."""
        from pyspark.sql import functions as F

        from cam_location_addressing_feature_service_etl_spark.sources.esri import (
            normalize_geocode_type,
        )

        spark, base = self.spark, self.endpoint.base
        where = f"last_edited_date >= {gen.DELTA_SINCE_MS}"
        geo = _esri(spark, base, "geocodes", where)
        iri = _esri(spark, base, "iri_pid", where)
        return {
            "fetched_geocodes": geo.select(
                F.col("objectid").cast("string").alias("geocode_id"),
                normalize_geocode_type(F.col("type")).alias("geocode_type"),
                F.col("pid").alias("address_pid"),
                F.lit(None).cast("string").alias("site_id"),
                F.col("y").alias("centoid_lat"),
                F.col("x").alias("centoid_lon"),
                F.lit(None).cast("string").alias("hash"),
            ),
            "fetched_iri_pid": iri.select("address_iri", F.col("pid").alias("address_pid")),
        }

    def rep(self, tracer=None) -> tuple[int, list[float]]:
        root = os.path.join(self.work, "snapshots")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.pristine, root)  # every repetition starts from the same prior
        t0 = time.perf_counter()
        if tracer:
            pulled = self._traced_pull(tracer)
        else:
            pulled = self._pull()
        self.result = self._run_etl(self.staged, root, TONIGHT, pulled)
        dt = time.perf_counter() - t0
        return self._landed(tracer), [dt]

    def _traced_pull(self, tracer) -> dict:
        """The pull with each reader's planning and reading in spans."""
        cur = self.universe.current
        rows = {
            "esri": gen.delta(cur.geocode_layer).num_rows + gen.delta(cur.iri_pid_layer).num_rows,
            "sparql": cur.addresses.num_rows + cur.entities["lf_site"].num_rows,
        }
        pulled = {}
        for kind, pull in (("esri", self._pull_esri), ("sparql", self._pull_sparql)):
            before = self.endpoint.stats()
            with tracer.span(f"sources.{kind}.plan"):
                frames = pull()
            with tracer.span(f"sources.{kind}.read"):
                pulled.update(tr.materialize(frames))
            _endpoint_counts(tracer, kind, before, self.endpoint.stats(), rows[kind])
        return pulled

    def check(self) -> list[str]:
        check.stage_fetched(self.universe.current, self.staged, delta_only=True)
        return check.check_etl(self.result.snapshot_path, self.staged, prior=self.prior_snapshot)


class QueryMix(Workload):
    """One pass over the pinned §2 query list per repetition; results
    are collected (``toPandas``) and the last pass is checked against
    the registered DuckDB oracles."""

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work, "tpch")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        gen.tpch_tables(self.seed, QUERY_SCALE, self.sf_dir)

    def seed_state(self) -> None:
        from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

        missing = [q for q in QUERY_MIX if q not in QUERIES]
        if missing:
            raise RuntimeError(f"query_mix queries no longer registered: {missing}")

    def rep(self, tracer=None) -> tuple[int, list[float]]:
        from cam_location_addressing_feature_service_etl_spark.runtime import release_plan_refs
        from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

        rows, lat, self.results = 0, [], {}
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            with _span(tracer, "workload.plan", query=name):
                df = QUERIES[name](self.spark, self.sf_dir)
            with _span(tracer, "workload.exec", query=name):
                pdf = df.toPandas()
            lat.append(time.perf_counter() - t0)
            self.results[name] = pdf
            rows += len(pdf)
            del df
            release_plan_refs()
        return rows, lat

    def check(self) -> list[str]:
        return check.check_queries(self.results, self.sf_dir)


WORKLOADS = {
    "source_pull": SourcePull,
    "full_load": FullLoad,
    "nightly_increment": NightlyIncrement,
    "query_mix": QueryMix,
}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the 'inclusive' method)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def _gc(spark) -> None:
    gc.collect()
    spark._jvm.System.gc()


def _driver_gap(spark, t_start_ms: float, t_end_ms: float) -> float:
    """Seconds of [t_start, t_end] (epoch ms) with no Spark job running."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    spans = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.submissionTime().isDefined() and j.completionTime().isDefined():
            lo, hi = j.submissionTime().get().getTime(), j.completionTime().get().getTime()
            if hi >= t_start_ms and lo <= t_end_ms:
                spans.append((max(lo, t_start_ms), min(hi, t_end_ms)))
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (t_end_ms - t_start_ms) - busy) / 1000.0


PER_LAYER = (
    [f"sources.esri.{k}" for k in ("plan_s", "read_s", "rows", "partitions", "requests", "bytes", "retries")]
    + [f"sources.sparql.{k}" for k in ("plan_s", "read_s", "rows", "partitions", "key_batches", "requests", "bytes")]
    + ["endpoint.service_s"]
    + [f"sources.snapshot.{k}" for k in ("restore_s", "bytes_read", "write_s", "bytes_written", "files_written")]
    + ["snapshot_bytes_per_row"]
    + [f"operators.id_map.{k}" for k in ("assign_s", "rewrite_s", "new_keys")]
    + [f"operators.upsert.{k}" for k in ("s", "rows_in", "rows_out")]
    + [f"plans.pipeline.{k}" for k in ("prune_s", "enrich_s", "surrogate_s", "pruned_rows")]
    + ["plans.publish.s", "workload.plan_s", "workload.exec_s", "spark.driver_gap_s"]
    + [f"spark.{k}" for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
                               "shuffle_write_bytes", "spill_bytes", "gc_s")]
    + ["trace.run_s", "trace.untraced_run_s", "trace.overhead_s"]
)
PER_LAYER_UNITS = {"rows": "count", "partitions": "count", "requests": "count", "retries": "count",
                   "key_batches": "count", "new_keys": "count", "rows_in": "count", "rows_out": "count",
                   "pruned_rows": "count", "files_written": "count", "jobs": "count", "stages": "count",
                   "tasks": "count", "failed_tasks": "count"}


def _unit(name: str) -> str:
    if name == "snapshot_bytes_per_row":
        return "B/row"
    leaf = name.rsplit(".", 1)[1]
    if leaf in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[leaf]
    return "B" if "bytes" in leaf else "s"


def run_once(workload: str, seed: int, seconds: float, trace: bool, spans_path: str | None) -> dict:
    from cam_location_addressing_feature_service_etl_spark.session import get_spark
    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import EsriDataSource
    from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import SparqlDataSource

    work = os.getcwd()
    cls = WORKLOADS[workload]
    load_avg_start = _loadavg()
    t0 = time.perf_counter()
    # the endpoint generates and renders while the JVM starts
    endpoint = EndpointProcess(seed, cls.endpoint_addresses) if cls.endpoint_addresses else None
    spark = None
    attempted = failed = 0
    reps, traced, windows, lat, landed = [], [], [], [], []
    try:
        spark = get_spark(app_name=f"etlbench-{workload}", cpus=NPROC)
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(EsriDataSource)
        spark.dataSource.register(SparqlDataSource)
        session_s = time.perf_counter() - t0
        wl = cls(spark, seed, work, endpoint)
        tracer = tr.Tracer(spark, run_id=f"{workload}-{seed}") if trace else None
        prep = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.seed_state()
        seed_s = time.perf_counter() - t
        # traced runs alternate untraced and traced repetitions after an
        # untimed one, so that neither side alone pays the cold start
        if trace:
            wl.rep()
        _gc(spark)
        exclude = {wl.endpoint.proc.pid} if wl.endpoint else set()
        if wl.endpoint:
            wl.endpoint.reset()

        # closed loop, one client: a repetition starts when the last ends
        min_reps = 2 if trace else 1
        with RssSampler(exclude) as rss:
            window_start = time.perf_counter()
            while len(reps) + len(traced) < min_reps or time.perf_counter() - window_start < seconds:
                use_trace = trace and len(reps) > len(traced)
                attempted += 1
                patched = tr.instrument(tracer) if use_trace else []
                t, t_ms = time.perf_counter(), time.time() * 1000
                try:
                    with _span(tracer if use_trace else None, "run"):
                        rows, op_lat = wl.rep(tracer if use_trace else None)
                except Exception:  # counted as failed; the run stops here
                    failed += 1
                    traceback.print_exc()
                    break
                finally:
                    tr.restore(patched)
                dt = time.perf_counter() - t
                if use_trace:
                    traced.append(dt)
                    windows.append((t_ms, time.time() * 1000))
                else:
                    reps.append(dt)
                    lat.extend(op_lat)
                    landed.append(rows)
                _gc(spark)
        t = time.perf_counter()
        problems = wl.check() if not failed else ["a repetition failed"]
        check_s = time.perf_counter() - t
        print(
            f"etlbench {workload}: session_s={session_s:.2f} prepare_s={[round(x, 2) for x in prep]} "
            f"seed_s={seed_s:.2f} reps={[round(x, 2) for x in reps]} traced={[round(x, 2) for x in traced]} "
            f"check_s={check_s:.2f} nproc={NPROC} load_avg_start={load_avg_start:.2f}",
            file=sys.stderr,
        )
        stats = wl.endpoint.stats() if wl.endpoint else {"requests": 0, "errors": 0, "service_s": 0.0}
        if trace:
            per_span = tracer.dump(spans_path) if spans_path else tracer.spark_counts()
            gap = sum(_driver_gap(spark, lo, hi) for lo, hi in windows)
    finally:
        if endpoint is not None:
            endpoint.close()
        if spark is not None:
            _stop_spark(spark)

    for p in problems:
        print(f"CHECK FAILED [{workload}]: {p}", file=sys.stderr)
    attempted += stats["requests"] + (len(lat) if workload == "query_mix" else 0)
    failed += stats["errors"]
    run_s = statistics.median(reps) if reps else float("nan")
    if not trace:
        values = {
            "setup_s": session_s + statistics.median(prep) + seed_s,
            "run_s": run_s,
            "rows_per_s": statistics.median(landed) / run_s if reps else float("nan"),
            "query_p50_s": statistics.median(lat) if lat else float("nan"),
            "query_p90_s": _quantile(lat, 0.9) if lat else float("nan"),
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        # per traced repetition
        n = max(1, len(traced))
        c = tracer.counts
        layer = {k: c.get(k, 0.0) / n for k in PER_LAYER}
        for counters in per_span.values():
            for k, v in counters.items():
                layer[f"spark.{k}"] += v / n
        layer["endpoint.service_s"] = stats["service_s"] / max(1, len(reps) + len(traced))
        layer["snapshot_bytes_per_row"] = c.get("sources.snapshot.bytes_written", 0.0) / max(1.0, c.get("address_rows", 0.0))
        layer["spark.driver_gap_s"] = gap / n
        layer["trace.run_s"] = statistics.median(traced) if traced else float("nan")
        layer["trace.untraced_run_s"] = run_s
        layer["trace.overhead_s"] = layer["trace.run_s"] - run_s
        metrics = {k: {"value": layer[k], "unit": _unit(k)} for k in PER_LAYER}
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait(timeout=30)
    deadline = time.monotonic() + 10
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_all(seed: int, seconds: float) -> int:
    """Run every workload in its own process and print a table."""
    rc = 0
    print(f"nproc={NPROC} load_avg_start={_loadavg():.2f} seed={seed} seconds={seconds}")
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: FAILED (exit {out.returncode})\n{out.stderr[-2000:]}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        ratio = res["failed"] / res["attempted"]
        print(f"{name}: correct={int(res['correct'])} failed_ratio={ratio:.4f} "
              f"(failed={res['failed']} attempted={res['attempted']})")
        for metric, v in res["metrics"].items():
            print(f"  {metric:<14} {v['value']:>14.4f} {v['unit']}")
        rc |= 0 if res["correct"] and not res["failed"] else 1
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ETL benchmark (see README.md)")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1: write the spans here as JSON lines")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)

    # a terminated run still stops the endpoint and the JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".etlbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spans_path = os.path.abspath(args.spans) if args.spans else None
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    os.chdir(work)
    # Spark's JVM writes to fd 1; keep stdout for the one result line
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        import cam_location_addressing_feature_service_etl_spark  # noqa: F401  (fails outside a checkout)

        result = run_once(args.workload, args.seed, args.seconds, bool(args.trace), spans_path)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    # a failed repetition leaves NaN medians; JSON has no NaN
    for m in result["metrics"].values():
        if m["value"] != m["value"]:
            m["value"] = None
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
