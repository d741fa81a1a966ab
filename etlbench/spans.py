"""Spans, counters and Spark status-store readings for the traced run.

The traced run wraps each layer's public entry points *from the
benchmark's side*: ``instrument`` swaps the names the ETL modules call
through (``plans.run.upsert_by_key``, ``plans.pipeline.surrogate_id_pass``
and so on) for wrappers that open a span, call the original, and force
every returned DataFrame to materialize inside the span, so the span's
time is the layer's own work. ``restore`` puts the originals back.

Each span records name, start, end, parent span and run id, and tags
the Spark jobs it submits with its own job group, so the status store
can attribute jobs, stages, tasks, shuffle bytes, spill and GC time to
the innermost span that ran them. Spans stay in memory and are written
out once, by ``Tracer.dump``, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: defaultdict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, metric: str | None = None, **attrs):
        """Time a block as span ``name``; its duration is added to the
        counter ``metric`` (default ``<name>_s``). ``attrs`` are stored
        with the span."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"etlbench-span-{sid}")
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["end"] = time.perf_counter()
            self.counts[metric or f"{name}_s"] += rec["end"] - rec["start"]

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    # -- Spark status store ---------------------------------------------
    def spark_counts(self) -> dict[int, dict[str, float]]:
        """Per-span Spark counters, keyed by span id, read from the
        Spark driver's status store (jobs tagged with a span's job group)."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        per_span: dict[int, dict[str, float]] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("etlbench-span-"):
                continue
            sid = int(group.get().rsplit("-", 1)[1])
            c = per_span.setdefault(sid, dict.fromkeys(SPARK_COUNTERS, 0.0))
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(k))
                if str(stage.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += stage.numCompleteTasks()
                c["failed_tasks"] += stage.numFailedTasks()
                c["shuffle_read_bytes"] += stage.shuffleReadBytes()
                c["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                c["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                c["gc_s"] += stage.jvmGcTime() / 1000.0
        return per_span

    def dump(self, path: str) -> dict[int, dict[str, float]]:
        """Write the spans with their Spark counters as JSON lines."""
        per_span = self.spark_counts()
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "spark": per_span.get(rec["id"], {})}) + "\n")
        return per_span


def materialize(df):
    """Force ``df`` (or the DataFrames inside a dict / result object) to
    run now, and return a stand-in that does not run it again."""
    if isinstance(df, DataFrame):
        return df.localCheckpoint(eager=True)
    if isinstance(df, dict):
        return {k: materialize(v) for k, v in df.items()}
    if hasattr(df, "table") and hasattr(df, "id_map"):  # SurrogateIdResult
        df.table, df.id_map = materialize(df.table), materialize(df.id_map)
    return df


def _rows(df) -> int:
    return df.count() if isinstance(df, DataFrame) else 0


def instrument(tracer: Tracer) -> list[tuple]:
    """Wrap the ETL's layer entry points; returns what ``restore`` needs."""
    from cam_location_addressing_feature_service_etl_spark.plans import pipeline, run

    patched: list[tuple] = []

    def wrap(module, attr: str, span: str, before=None, after=None, metric=None):
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with tracer.span(span, metric):
                state = before(*args, **kwargs) if before else None
                out = materialize(original(*args, **kwargs))
                if after:
                    after(state, out, *args, **kwargs)
            return out

        patched.append((module, attr, original))
        setattr(module, attr, wrapper)

    def restored(_state, _out, spark, root, ts, name):
        tracer.add("sources.snapshot.bytes_read", dir_bytes(os.path.join(root, f"snapshot_ts={ts}", name))[0])

    def written(_state, path, tables, root, ts, sort_specs=None):
        nbytes, nfiles = dir_bytes(path)
        tracer.add("sources.snapshot.bytes_written", nbytes)
        tracer.add("sources.snapshot.files_written", nfiles)

    def upsert_before(base, updates, key_cols):
        return _rows(base) + _rows(updates)

    def upsert_after(rows_in, out, *_args, **_kw):
        tracer.add("operators.upsert.rows_in", rows_in)
        tracer.add("operators.upsert.rows_out", _rows(out))

    def prune_before(rows, _keys):
        return _rows(rows)

    def prune_after(rows_in, out, *_args, **_kw):
        tracer.add("plans.pipeline.pruned_rows", rows_in - _rows(out))

    def assign_before(keys, existing_map, key_col="iri"):
        return _rows(existing_map)

    def assign_after(existing, out, *_args, **_kw):
        tracer.add("operators.id_map.new_keys", _rows(out) - existing)

    wrap(run, "read_snapshot_table", "sources.snapshot.restore", after=restored)
    wrap(run, "carry_forward_geocodes", "sources.snapshot.restore")
    wrap(run, "write_snapshot", "sources.snapshot.write", after=written)
    for module in (run, pipeline):
        wrap(module, "upsert_by_key", "operators.upsert", upsert_before, upsert_after, "operators.upsert.s")
    wrap(run, "run_post_extract_pipeline", "plans.pipeline")
    wrap(pipeline, "prune_addresses_without_pid_mapping", "plans.pipeline.prune", prune_before, prune_after)
    wrap(pipeline, "prune_geocodes_without_addresses", "plans.pipeline.prune", prune_before, prune_after)
    wrap(pipeline, "update_geocode_site_id", "plans.pipeline.enrich")
    wrap(pipeline, "surrogate_id_pass", "plans.pipeline.surrogate")
    wrap(pipeline, "assign_surrogate_ids_bulk", "operators.id_map.assign", assign_before, assign_after)
    wrap(pipeline, "rewrite_pk_to_id", "operators.id_map.rewrite")
    for attr in ("metadata_df", "kafka_message_df", "build_artifact_headers"):
        wrap(run, attr, "plans.publish", metric="plans.publish.s")
    return patched


def restore(patched: list[tuple]) -> None:
    for module, attr, original in reversed(patched):
        setattr(module, attr, original)
