"""Per-layer tracing for the benchmark.

Spans are opened by the benchmark around calls into the program's public
functions, by replacing those functions where the program imports them.
Each span sets a Spark job group, so every Spark job the program starts
inside a span is charged to it. Spark's own event log (plain JSON lines)
then gives the per-span job, stage, task, CPU, GC, shuffle and spill
counters, and the MapInPandas (Python worker) metrics.

Nothing in the program is edited; every replacement is undone by
``Tracer.uninstall``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import statistics
import time
import uuid

# Span groups that get the full set of Spark counters, in report order.
SPAN_GROUPS = (
    "sources.parse",
    "dictionary.build",
    "hierarchy.build",
    "lineage.stage_write",
    "lineage.chunk",
    "lineage.commit",
    "lineage.read",
    "refresh.build",
    "export.build",
)
# Spans that do not name a layer: their self time is what the trace does
# not cover.
UNCOVERED = ("cli", "lineage.build")

SPARK_FIELDS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.run_s",
    "spark.cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "driver_s",
)

# (module, attribute, span, DataFrame methods of the result charged to
# the same span). The methods are the eager actions the program calls on
# the returned frame right away, e.g. the dictionary's eager checkpoint.
_FUNCTIONS = (
    ("fhir_owl_spark.sources.turtle", "parse_ontology_document", "sources.parse", ()),
    ("fhir_owl_spark.fixtures", "ontology_dfs", "sources.parse", ()),
    ("fhir_owl_spark.plans.lineage", "build_graph_resumable", "lineage.build", ()),
    ("fhir_owl_spark.plans.lineage", "build_concept_dictionary", "dictionary.build",
     ("localCheckpoint",)),
    ("fhir_owl_spark.plans.lineage", "build_hierarchy", "hierarchy.build", ()),
    ("fhir_owl_spark.plans.lineage", "extract_mentions", "mentions.extract", ()),
    ("fhir_owl_spark.plans.lineage", "triples_with_key", "triples.with_key", ()),
    ("fhir_owl_spark.plans.lineage", "_commit_lineage", "lineage.commit", ()),
    ("fhir_owl_spark.plans.lineage", "completed_chunks", "lineage.read", ()),
    ("fhir_owl_spark.plans.lineage", "read_lineage", "lineage.read",
     ("count", "collect")),
    ("fhir_owl_spark.plans.lineage", "read_triples", "lineage.read", ("count",)),
    ("fhir_owl_spark.plans.lineage", "write_committed_chunk", "lineage.chunk", ()),
    ("fhir_owl_spark.operators.mentions", "linkable_terms", "mentions.linkable_terms", ()),
    ("fhir_owl_spark.plans.refresh", "refresh_graph", "refresh.build", ()),
    ("fhir_owl_spark.plans.refresh", "build_concept_dictionary", "dictionary.build",
     ("localCheckpoint",)),
    ("fhir_owl_spark.plans.refresh", "build_hierarchy", "hierarchy.build", ()),
    ("fhir_owl_spark.plans.refresh", "extract_mentions", "mentions.extract", ()),
    ("fhir_owl_spark.plans.export", "export_codesystem", "export.build", ()),
    ("fhir_owl_spark.plans.export", "build_concept_dictionary", "dictionary.build",
     ("localCheckpoint",)),
    ("fhir_owl_spark.plans.export", "build_hierarchy", "hierarchy.build", ()),
)


def _write_span(path: str) -> str | None:
    if "/_staged_input" in path:
        return "lineage.stage_write"
    if "/_lineage" in path:
        return "lineage.commit"
    if "/triples/chunk=" in path:
        return "lineage.chunk"
    return None


def _read_count_span(path: str) -> str | None:
    # the commit protocol's read-back count of a freshly written chunk,
    # and the per-chunk input count of the staged transcripts
    if "/triples/chunk=" in path:
        return "lineage.commit"
    if "/_staged_input/_chunk=" in path:
        return "lineage.chunk"
    return None


class Tracer:
    """Span recorder. Spans are kept in memory; ``spans`` holds closed
    spans as dicts with id, name, parent, start, end (epoch seconds)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._tag = uuid.uuid4().hex[:8]
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        rec["group"] = f"span-{self._tag}-{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def _wrap(self, fn, name, charge=()):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["items"] = len(out)
            for method in charge:
                tracer._charge(out, method, name)
            return out

        return wrapper

    def _charge(self, obj, method: str, name: str) -> None:
        # shadow one bound method on this instance only
        orig = getattr(obj, method)
        setattr(obj, method, self._wrap(orig, name))

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for mod_name, attr, name, charge in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), name, charge))

        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        tracer = self
        write = DataFrameWriter.parquet
        read = DataFrameReader.parquet

        @functools.wraps(write)
        def traced_write(writer, path, *args, **kwargs):
            name = _write_span(str(path))
            if name is None:
                return write(writer, path, *args, **kwargs)
            with tracer.span(name):
                return write(writer, path, *args, **kwargs)

        @functools.wraps(read)
        def traced_read(reader, *paths, **kwargs):
            df = read(reader, *paths, **kwargs)
            name = _read_count_span(str(paths[0])) if len(paths) == 1 else None
            if name is not None:
                tracer._charge(df, "count", name)
            return df

        self._patch(DataFrameWriter, "parquet", traced_write)
        self._patch(DataFrameReader, "parquet", traced_read)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict:
    """Parse the one plain JSON-lines event log file in ``log_dir``.

    Returns the jobs {id: {group, start, end, stages: [stage metrics]}},
    every accumulator's total {id: value}, the last plan tree of every SQL
    execution {execution id: plan}, and each execution's job group."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log file in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    acc: dict[int, float] = {}
    plans: dict[int, dict] = {}
    exec_group: dict[int, str] = {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [],
                }
                for sid in e.get("Stage IDs", []):
                    stage_owner.setdefault(sid, jid)
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_group.setdefault(int(xid), props.get("spark.jobGroup.id"))
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                m = {"tasks": info.get("Number of Tasks", 0)}
                for a in info.get("Accumulables", []):
                    name = a.get("Name", "")
                    val = _num(a.get("Value"))
                    if name.startswith("internal.metrics."):
                        m[name[len("internal.metrics."):]] = val
                    acc[a["ID"]] = acc.get(a["ID"], 0.0) + val
                owner = stage_owner.get(info["Stage ID"])
                if owner is not None:
                    jobs[owner]["stages"].append(m)
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[e["executionId"]] = e["sparkPlanInfo"]
    return {"jobs": jobs, "acc": acc, "plans": plans, "exec_group": exec_group}


def _metric(node: dict, name: str):
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m
    return None


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


_WRAPPERS = ("WholeStageCodegen", "InputAdapter")
_SHUFFLE_READ = _WRAPPERS + ("AQEShuffleRead", "ShuffleQueryStage")


def _rows(node: dict, acc: dict) -> float:
    """Rows a node emits: its own output-row metric, else its children's."""
    m = _metric(node, "number of output rows")
    if m is not None:
        return acc.get(m["accumulatorId"], 0.0)
    return sum(_rows(c, acc) for c in node.get("children", []))


def _descend(node: dict, through: tuple[str, ...]) -> dict:
    while node.get("children") and node["nodeName"].startswith(through):
        node = node["children"][0]
    return node


def _is_dedup_agg(node: dict) -> bool:
    s = node.get("simpleString", "")
    return node["nodeName"] == "HashAggregate" and "functions=[]" in s and "key_hash" in s


def sql_metrics(plan: dict, acc: dict) -> dict:
    """Python-worker and key-hash-dedup metrics of one SQL execution."""
    out = {
        "python_ms": 0.0, "to_python": 0.0, "from_python": 0.0, "python_rows": 0.0,
        "dedup_in": 0.0, "dedup_out": 0.0, "dedup_shuffle": 0.0,
    }
    for node in _walk(plan):
        name = node["nodeName"]
        if name == "MapInPandas":
            for key, metric in (("python_ms", "time to run Python workers"),
                                ("to_python", "data sent to Python workers"),
                                ("from_python", "data returned from Python workers"),
                                ("python_rows", "number of output rows")):
                m = _metric(node, metric)
                if m is not None:
                    v = acc.get(m["accumulatorId"], 0.0)
                    if m.get("metricType") == "nsTiming":
                        v /= 1e6
                    out[key] += v
        elif name == "Exchange":
            partial = _descend(node, ("Exchange",) + _WRAPPERS)
            if _is_dedup_agg(partial):
                m = _metric(node, "shuffle bytes written")
                if m is not None:
                    out["dedup_shuffle"] += acc.get(m["accumulatorId"], 0.0)
                out["dedup_in"] += sum(_rows(c, acc) for c in partial.get("children", []))
        elif _is_dedup_agg(node):
            below = node.get("children", [])
            if below and _descend(below[0], _SHUFFLE_READ)["nodeName"] == "Exchange":
                m = _metric(node, "number of output rows")
                if m is not None:
                    out["dedup_out"] += acc.get(m["accumulatorId"], 0.0)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(spans: list[dict], log: dict) -> dict:
    """Per-rep layer metrics for the spans under one root span.

    ``spans`` are the closed spans of one traced rep (the root is the one
    without a parent). Self time is a span's duration minus the time its
    child spans cover; ``driver_s`` is self time with none of the span's
    own Spark jobs running."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    span_of_group = {s["group"]: s["id"] for s in spans}
    jobs_of: dict[int, list[dict]] = {}
    for j in log["jobs"].values():
        if j["group"] in span_of_group:
            jobs_of.setdefault(span_of_group[j["group"]], []).append(j)

    groups = {g: dict.fromkeys(("self_s",) + SPARK_FIELDS, 0.0) for g in SPAN_GROUPS}
    named = {"mentions.linkable_terms": {"self_s": 0.0, "calls": 0, "items": 0}}
    uncovered = 0.0
    root = next(s for s in spans if s["parent"] not in by_id)
    for s in spans:
        dur = s["end"] - s["start"]
        self_s = dur - _union_len(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        )
        own = jobs_of.get(s["id"], [])
        busy = _union_len([(j["start"], j["end"] or j["start"]) for j in own])
        if s["name"] in UNCOVERED:
            uncovered += self_s
        if s["name"] in named:
            named[s["name"]]["self_s"] += self_s
            named[s["name"]]["calls"] += 1
            named[s["name"]]["items"] = max(named[s["name"]]["items"], s.get("items", 0))
        if s["name"] not in groups:
            continue
        g = groups[s["name"]]
        g["self_s"] += self_s
        g["driver_s"] += max(0.0, self_s - busy)
        for j in own:
            g["spark.jobs"] += 1
            for st in j["stages"]:
                g["spark.stages"] += 1
                g["spark.tasks"] += st.get("tasks", 0)
                g["spark.run_s"] += st.get("executorRunTime", 0) / 1e3
                g["spark.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                g["spark.gc_s"] += st.get("jvmGCTime", 0) / 1e3
                g["spark.shuffle_read_bytes"] += st.get(
                    "shuffle.read.localBytesRead", 0
                ) + st.get("shuffle.read.remoteBytesRead", 0)
                g["spark.shuffle_write_bytes"] += st.get("shuffle.write.bytesWritten", 0)
                g["spark.spill_bytes"] += st.get("diskBytesSpilled", 0)

    sql = dict.fromkeys(("python_ms", "to_python", "from_python", "python_rows",
                         "dedup_in", "dedup_out", "dedup_shuffle"), 0.0)
    for xid, plan in log["plans"].items():
        if log["exec_group"].get(xid) in span_of_group:
            for k, v in sql_metrics(plan, log["acc"]).items():
                sql[k] += v
    return {
        "wall_s": root["end"] - root["start"],
        "uncovered_s": uncovered,
        "groups": groups,
        "named": named,
        "sql": sql,
    }


# ---------------------------------------------------------------------------
# Per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def _rep_spans(spans: list[dict]) -> list[list[dict]]:
    """Closed spans split by their root span, one list per traced rep."""
    parent = {s["id"]: s["parent"] for s in spans}

    def root(sid):
        while parent.get(sid) is not None:
            sid = parent[sid]
        return sid

    reps: dict[int, list[dict]] = {}
    for s in spans:
        reps.setdefault(root(s["id"]), []).append(s)
    return [reps[k] for k in sorted(reps)]


def output_counters(wk, traced_reps) -> list[dict]:
    """Counters read from each traced rep's committed output."""
    from pyspark.sql import functions as F

    from fhir_owl_spark.plans.lineage import read_lineage, read_triples

    out = []
    for _secs, path, summary, _traced in traced_reps:
        preds = {
            r["pred"]: r["count"]
            for r in read_triples(wk.spark, path).groupBy("pred").count().collect()
        }
        kept = 0
        if wk.name.startswith("refresh"):
            kept = (
                read_triples(wk.spark, path)
                .filter((F.col("pred") == "mentions-in") & (F.col("subj") != wk.relabeled))
                .count()
            )
        files = triple_bytes = 0
        for dirpath, _dirs, names in os.walk(path):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    if "/triples/" in dirpath:
                        triple_bytes += os.path.getsize(os.path.join(dirpath, n))
        out.append({
            "dictionary.rows": preds.get("has-display", 0),
            "hierarchy.edges_out": preds.get("is-a", 0),
            "lineage.commits": read_lineage(wk.spark, path).count(),
            "lineage.files_written": files,
            "lineage.bytes_per_triple": triple_bytes / max(1, summary["triples"]),
            "refresh.affected_codes": summary.get("delta_codes") or 0,
            "refresh.kept_rows": kept,
        })
    return out


def per_layer(tracer, log_dir, reps, wk, session_s, counters) -> dict:
    """Median over the traced reps of every per-layer metric, as
    {name: (value, unit)}."""
    log = read_event_log(log_dir)
    rows = []
    for spans_of_rep, extra in zip(_rep_spans(tracer.spans), counters):
        s = summarize(spans_of_rep, log)
        lt = s["named"]["mentions.linkable_terms"]
        m = {
            "session.start_s": (session_s, "s"),
            "mentions.linkable_terms_s": (lt["self_s"], "s"),
            "mentions.linkable_terms_calls": (lt["calls"], "count"),
            "mentions.terms": (lt["items"], "count"),
            "mentions.python_s": (s["sql"]["python_ms"] / 1e3, "s"),
            "mentions.to_python_bytes": (s["sql"]["to_python"], "B"),
            "mentions.from_python_bytes": (s["sql"]["from_python"], "B"),
            "mentions.pairs_per_turn": (s["sql"]["python_rows"] / wk.turns, "ratio"),
            "triples.dedup_rows_in": (s["sql"]["dedup_in"], "count"),
            "triples.dedup_rows_out": (s["sql"]["dedup_out"], "count"),
            "triples.shuffle_write_bytes": (s["sql"]["dedup_shuffle"], "B"),
            "trace.coverage": (1.0 - s["uncovered_s"] / s["wall_s"], "ratio"),
        }
        for k, v in extra.items():
            m[k] = (v, "B" if k.endswith("bytes_per_triple") else "count")
        for g, vals in s["groups"].items():
            m[f"{g}_s"] = (vals["self_s"], "s")
            for f in SPARK_FIELDS:
                unit = "s" if f.endswith("_s") else "B" if f.endswith("bytes") else "count"
                m[f"{g}.{f}"] = (vals[f], unit)
        rows.append(m)
    out = {k: (statistics.median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}
    traced = [r[0] for r in reps if r[3]]
    untraced = [r[0] for r in reps if not r[3]]
    out["trace.overhead"] = (statistics.median(traced) / statistics.median(untraced), "ratio")
    return out
