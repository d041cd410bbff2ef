"""Per-layer tracing for the traced run (``--trace 1``).

Two sources, both outside the program:

- Spans from this benchmark's own wrappers around each layer's public
  functions. A wrapper times the call (``build_s``: driver time until it
  returns, eager actions included) and tags every Spark job submitted
  during the call with the layer as its job group. Nested calls tag with
  the innermost layer; a job submitted by a workload step outside any
  wrapped call carries the step's layer.
- Spark's own event log (plain, uncompressed, not rolling), folded per job
  group: executor CPU, GC, shuffle writes, spill, records read and
  written, job wall time and task skew. Python-boundary SQL metrics (bytes
  to and from Python workers, worker run time) go to the layer whose
  module defines the UDF named in the plan node, else to the job group.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import glob
import importlib
import json
import os
import re
import statistics
import time
import types

# layer -> (modules that define it, public functions wrapped)
LAYERS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "sources": (
        ("sources.splitter", "sources.upsert", "sources.warc"),
        ("sources.splitter:make_tag_splitter", "sources.upsert:upsert_records",
         "sources.warc:warc_documents"),
    ),
    "extractors": (
        ("extractors.marc",),
        ("cli:extract_wide", "extractors.marc:to_solr_columns"),
    ),
    "plans": (
        ("plans.mapping", "plans.filter_dsl", "config"),
        ("config:compile_source", "config:apply_source_pipeline"),
    ),
    "operators.dedup": (
        ("operators.dedup",),
        ("operators.dedup:with_dedup_keys", "operators.dedup:deduplicate"),
    ),
    "operators.incremental": (
        ("operators.incremental",),
        ("operators.incremental:changed_since",),
    ),
    "operators.normalize": (
        ("operators.normalize",),
        ("operators.normalize:normalize_fields",),
    ),
    "sinks.solr": (
        ("sinks.solr",),
        ("sinks.solr:write_update_batches", "sinks.solr:write_delete_batches"),
    ),
    "corpus_config": (
        ("corpus_config",),
        ("corpus_config:apply_corpus_pipeline",
         "corpus_config:load_corpus_source"),
    ),
    "operators.text_dedup.minhash": (
        (),
        ("operators.text_dedup:minhash_near_duplicates",
         "operators.text_dedup:near_dup_prune"),
    ),
    "operators.text_dedup.winnow": (
        (),
        ("operators.text_dedup:winnow_near_duplicates",),
    ),
    "session": (("session",), ("session:get_spark",)),
}

# layers whose work crosses the Python boundary in these workloads
PY_LAYERS = (
    "sources", "extractors", "operators.dedup", "operators.normalize",
    "sinks.solr", "corpus_config", "operators.text_dedup.minhash",
    "operators.text_dedup.winnow",
)
CORE = (
    ("build_s", "s"), ("action_s", "s"), ("rows_in", "count"),
    ("rows_out", "count"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
)
PY = (("py_in_mb", "MB"), ("py_out_mb", "MB"), ("py_worker_s", "s"))
SESSION = (
    ("build_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("py_in_mb", "MB"), ("py_out_mb", "MB"),
    ("py_worker_s", "s"), ("cached_rdds_after", "count"),
    ("storage_mb_after", "MB"),
)
TRACE = (("trace.pass_s", "s"), ("trace.overhead_s", "s"))
PKG = "recordmanager_spark"


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in report order, with its unit."""
    out = []
    for layer in LAYERS:
        if layer == "session":
            continue
        out += [(f"{layer}.{m}", u) for m, u in CORE]
        if layer in PY_LAYERS:
            out += [(f"{layer}.{m}", u) for m, u in PY]
    out += [(f"session.{m}", u) for m, u in SESSION]
    return out + list(TRACE)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Wraps the layers' public functions for the life of the object."""

    def __init__(self):
        self.build_s: dict[str, float] = {}
        self._depth: dict[str, int] = {}
        self.session_samples: list[tuple[int, float]] = []
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    def install(self) -> None:
        for layer, (_, entries) in LAYERS.items():
            for entry in entries:
                mod_name, fn_name = entry.split(":")
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                fn = getattr(mod, fn_name)
                self._patched.append((mod, fn_name, fn))
                setattr(mod, fn_name, self._wrap(layer, fn))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    @contextlib.contextmanager
    def group(self, layer: str):
        """Tag jobs submitted inside the block with ``layer``."""
        sc = _active_sc()
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", layer)
        try:
            yield
        finally:
            sc = _active_sc()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            self._depth[layer] = self._depth.get(layer, 0) + 1
            try:
                with self.group(layer):
                    return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                if not self._depth[layer]:  # a nested call of the same layer is inside this span
                    self.build_s[layer] = (
                        self.build_s.get(layer, 0.0) + time.perf_counter() - t0
                    )

        return traced

    def sample_session(self, spark) -> None:
        """Cached RDDs and their storage footprint, after a step."""
        jsc = spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.session_samples.append((jsc.getPersistentRDDs().size(), mb))


def _udf_owners(pkg_dir: str) -> dict[str, str]:
    """Function name -> layer, for names defined (at any nesting depth) in
    exactly one module of the package, that module belonging to a layer.
    Read from the source, so nothing is imported."""
    defined: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        mod = os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, ".")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defined.setdefault(node.name, set()).add(mod)
    layer_of = {m: layer for layer, (mods, _) in LAYERS.items() for m in mods}
    return {
        name: layer_of[next(iter(mods))]
        for name, mods in defined.items()
        if len(mods) == 1 and next(iter(mods)) in layer_of
    }


_CALL = re.compile(r"([A-Za-z_][\w]*)\(")


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _plan_nodes(child)


def fold_event_log(log_dir: str, tracer: Tracer) -> dict[str, float]:
    """Fold the run's event log into ``<layer>.<metric>`` values."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    owners = _udf_owners(os.path.dirname(importlib.import_module(PKG).__file__))
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    py_acc: dict[int, tuple[str | None, str]] = {}  # acc id -> (owner, kind)
    acc: dict[str, dict[str, float]] = {}
    task_times: dict[int, list[float]] = {}

    def add(layer, key, v):
        d = acc.setdefault(layer, {})
        d[key] = d.get(key, 0.0) + v

    def learn_plan(plan):
        for node in _plan_nodes(plan):
            kinds = {}
            for m in node.get("metrics", ()):
                name = m["name"]
                if name == "data sent to Python workers":
                    kinds[m["accumulatorId"]] = "py_in_mb"
                elif name == "data returned from Python workers":
                    kinds[m["accumulatorId"]] = "py_out_mb"
                elif name == "time to run Python workers":
                    kinds[m["accumulatorId"]] = "py_worker_s:" + m.get("metricType", "timing")
            if not kinds:
                continue
            owner = None
            for name in _CALL.findall(node.get("simpleString", "")):
                if name in owners:
                    owner = owners[name]
                    break
            for aid, kind in kinds.items():
                py_acc[aid] = (owner, kind)

    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "unattributed"
                    job_group[ev["Job ID"]] = g
                    job_span[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_span:
                        job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind in (
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    learn_plan(ev["sparkPlanInfo"])
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "unattributed")
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    add(g, "cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
                    add(g, "gc_s", tm.get("JVM GC Time", 0) / 1e3)
                    add(g, "spill_mb", tm.get("Disk Bytes Spilled", 0) / 2**20)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    add(g, "shuffle_write_mb", sw.get("Shuffle Bytes Written", 0) / 2**20)
                    add(g, "rows_in", (tm.get("Input Metrics") or {}).get("Records Read", 0))
                    add(g, "rows_out", (tm.get("Output Metrics") or {}).get("Records Written", 0))
                    task_times.setdefault(ev["Stage ID"], []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    for a in info.get("Accumulables", ()):
                        hit = py_acc.get(a.get("ID"))
                        if hit is None:
                            continue
                        owner, k = hit
                        v = float(a.get("Update") or 0)
                        if k == "py_in_mb" or k == "py_out_mb":
                            v /= 2**20
                        elif k.endswith("nsTiming"):
                            v /= 1e9
                        else:
                            v /= 1e3
                        add(owner or g, k.split(":")[0], v)

    # job wall time per group: union of job intervals
    for g in set(job_group.values()):
        spans = sorted(job_span[j] for j in job_span if job_group[j] == g)
        total, end = 0.0, None
        for s, e in spans:
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        add(g, "action_s", total / 1e3)

    # skew of each group's slowest stage (by summed task time)
    by_group: dict[str, tuple[float, float]] = {}
    for sid, times in task_times.items():
        g = stage_group.get(sid, "unattributed")
        busy = sum(times)
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
        if busy > by_group.get(g, (-1.0, 1.0))[0]:
            by_group[g] = (busy, skew)
    for g, (_, skew) in by_group.items():
        acc.setdefault(g, {})["task_skew"] = skew

    out: dict[str, float] = {}
    for name, _ in metric_names():
        layer, _, metric = name.rpartition(".")
        if layer == "trace":
            continue
        if layer == "session":
            if metric == "build_s":
                v = tracer.build_s.get("session", 0.0)
            elif metric == "cached_rdds_after":
                v = tracer.session_samples[-1][0] if tracer.session_samples else 0
            elif metric == "storage_mb_after":
                v = tracer.session_samples[-1][1] if tracer.session_samples else 0.0
            else:
                v = sum(d.get(metric, 0.0) for d in acc.values())
        elif metric == "build_s":
            v = tracer.build_s.get(layer, 0.0)
        else:
            v = acc.get(layer, {}).get(metric, 0.0)
        out[name] = v
    out["_unattributed_cpu_s"] = acc.get("unattributed", {}).get("cpu_s", 0.0)
    return out
