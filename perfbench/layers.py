"""Per-layer attribution for one traced call, plus layer probes.

Everything here observes kgforge from outside:

* The traced call runs with Spark's ``EventLoggingListener`` attached to the
  live context, so the untraced calls before it ran with no listener and the
  session stays warm.  Each job in the event log is attributed to a layer:
  write jobs by the output table in their SQL plan, ``collect`` jobs by the
  kgforge function that holds their Python call site, and the remaining
  SQL jobs by the table or input their plan scans.
* Each layer probe calls one public kgforge function alone, on the
  materialized output of the layer before it, inside a span the benchmark
  records.  Spans are kept in memory and written to ``spans.json``.
* The SPARQL kernels run in this process, single-threaded, over the traced
  call's own input texts.
"""

from __future__ import annotations

import ast
import contextlib
import json
import os
import pathlib
import re
import shutil
import statistics
import time
from typing import Dict, List, Optional

import workloads

# output table -> layer that writes it
TABLE_LAYER = {
    "parsed": "extract",
    "checkpoints": "checkpoint",
    "triples_raw": "linking",
    "quarantine": "rollup",
    "bgp_ranking": "rollup",
    "triples_fixture": "triples",
    "triples": "triples",
    "stage_metrics": "pipeline",
    "entries": "pipeline_log",
    "ranking": "pipeline_log",
    "stats": "pipeline_log",
}
# (kgforge module file, enclosing function of a collect call site) -> layer
FUNCTION_LAYER = {
    ("pipeline.py", "run_stage1"): "extract",
    ("pipeline.py", "commit"): "checkpoint",
    ("pipeline.py", "_w_mention_rollup"): "rollup",
    ("pipeline.py", "_finish"): "pipeline",
    ("linking.py", "link_terms"): "linking",
    ("pipeline_log.py", "run_log"): "pipeline_log",
}
# a column only one layer's plans compute -> that layer (for executions with
# no written table and no Python call site, such as localCheckpoint)
PLAN_SIGNATURES = {"reject_code": "rollup", "etype_key": "linking"}
ENGINE_LAYERS = [
    "pipeline", "catalog", "extract", "checkpoint", "linking", "rollup", "triples", "logs",
    "pipeline_log",
]
ENGINE_COUNTERS = [
    ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("gc_s", "s"), ("task_s_max_over_median", "ratio"),
]

# every per-layer metric, in report order: (name, unit)
PER_LAYER = (
    [(f"pipeline.{k}", "s") for k in (
        "stage1_s", "stage2_s", "raw_s", "rollup_s", "fixture_s", "graph_s",
        "checkpoint_s", "stage2_overlap_s")]
    + [("pipeline.spark_jobs", "count")]
    + [("extract.scan_sha_s", "s"), ("extract.prefilter_s", "s"),
       ("extract.prefilter_pass_ratio", "ratio"), ("extract.sink_s", "s"),
       ("extract.tasks", "count"), ("extract.task_rows_max_over_median", "ratio"),
       ("extract.mentions", "count")]
    + [("sparql.detect_rows_per_s", "rows/s"), ("sparql.parse_us", "us"),
       ("sparql.parse_cache_hit_ratio", "ratio"), ("sparql.distinct_query_ratio", "ratio"),
       ("sparql.reject_ratio", "ratio")]
    + [("linking.link_s", "s"), ("linking.rows", "count"), ("linking.hit_ratio", "ratio")]
    + [("triples.explode_rows", "count"), ("triples.graph_s", "s"),
       ("triples.graph_rows", "count"), ("triples.graph_file_bytes_max_over_median", "ratio"),
       ("triples.fixture_rows", "count")]
    + [("checkpoint.filter_pending_s", "s"), ("checkpoint.committed_attempts_s", "s"),
       ("checkpoint.rows", "count")]
    + [(f"catalog.bytes.{t}", "bytes") for w in workloads.WORKLOADS.values() for t in w.tables]
    + [(f"catalog.files.{t}", "files") for w in workloads.WORKLOADS.values() for t in w.tables]
    + [("logs.read_s", "s"), ("logs.query_line_ratio", "ratio"),
       ("pipeline_log.dup_ratio", "ratio"), ("pipeline_log.python_passes", "count")]
    + [(f"{layer}.{c}", u) for layer in ENGINE_LAYERS for c, u in ENGINE_COUNTERS]
    + [("trace.overhead_s", "s"), ("trace.unattributed_share", "ratio")]
    + [("fail_ratio", "ratio")]
)


class Spans:
    """In-memory spans (name, start, end, parent, seconds) of one traced run."""

    def __init__(self):
        self.spans: List[dict] = []
        self._open: List[dict] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        span = {"name": name, "start": time.time(), "end": None,
                "parent": self._open[-1]["name"] if self._open else None}
        self.spans.append(span)
        self._open.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            span["seconds"] = span["end"] - span["start"]
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _attach_event_log(spark, log_dir: str, app_id: str):
    """Start an EventLoggingListener on the live context; returns it."""
    sc = spark.sparkContext
    jvm = sc._jvm
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        app_id, jvm.scala.Option.apply(None), jvm.java.net.URI(pathlib.Path(log_dir).as_uri()),
        sc._jsc.sc().conf(), sc._jsc.hadoopConfiguration(),
    )
    listener.start()
    sc._jsc.sc().addSparkListener(listener)
    return listener


def _detach_event_log(spark, listener) -> None:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # every event of the call delivered
    jsc.removeSparkListener(listener)
    listener.stop()


def _read_events(log_dir: str) -> List[dict]:
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    files.sort(key=lambda f: [int(x) if x.isdigit() else x for x in re.split(r"(\d+)", f)])
    events = []
    for f in files:
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


class _FunctionIndex:
    """(file, line) -> name of the innermost function holding that line."""

    def __init__(self):
        self._by_file: Dict[str, list] = {}

    def function_at(self, path: str, line: int) -> Optional[str]:
        if path not in self._by_file:
            try:
                with open(path) as fh:
                    tree = ast.parse(fh.read())
            except (OSError, SyntaxError):
                tree = None
            self._by_file[path] = [
                (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ] if tree else []
        inner = [(a, b, n) for a, b, n in self._by_file[path] if a <= line <= b]
        return max(inner)[2] if inner else None


_INSERT_RE = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)")
_SCAN_RE = re.compile(r"Location: \w+FileIndex\s*(?:\(\d+ paths?\))?\s*\[(?:file:)?([^\],\s]+)")
_CALLSITE_RE = re.compile(r" at (\S+\.py):(\d+)")


def attribute_jobs(events: List[dict], out_dir: str, in_dir: str, input_layer: str) -> Dict[int, str]:
    """Job id -> layer name ('' when no rule applies).

    Layers are assigned per SQL execution, first rule that applies:
    the table its plan writes; the kgforge function holding its Python call
    site; a column only one layer's plans compute (PLAN_SIGNATURES); the
    table or input its plan scans.  A job carries its execution's layer.
    Jobs with no execution id are schema inference of ``spark.read``
    (catalog) or AQE stage jobs, which take the layer of the execution
    started most recently before them that was still running, or, when none
    was running, of the next execution to start: converting a DataFrame to
    an RDD (``df.rdd``) materializes its exchanges before the action that
    uses it begins."""
    execs = {}
    for e in events:
        if e["Event"].endswith("SQLExecutionStart"):
            execs[e["executionId"]] = {
                "plan": e.get("physicalPlanDescription", ""), "desc": e.get("description", ""),
                "start": e["time"], "end": float("inf"),
            }
        elif e["Event"].endswith("SQLExecutionEnd") and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
    out_dir = os.path.realpath(out_dir)
    in_dir = os.path.realpath(in_dir)
    funcs = _FunctionIndex()

    def table_layer(path: str) -> Optional[str]:
        path = os.path.realpath(path)
        if path == in_dir or path.startswith(in_dir + os.sep):
            return input_layer
        if path.startswith(out_dir + os.sep):
            return TABLE_LAYER.get(os.path.relpath(path, out_dir).split(os.sep)[0])
        return None

    def exec_layer(x: dict) -> str:
        m = _INSERT_RE.search(x["plan"])
        if m and table_layer(m.group(1)):
            return table_layer(m.group(1))
        m = _CALLSITE_RE.search(x["desc"])
        if m:
            fn = funcs.function_at(m.group(1), int(m.group(2)))
            if (os.path.basename(m.group(1)), fn) in FUNCTION_LAYER:
                return FUNCTION_LAYER[(os.path.basename(m.group(1)), fn)]
        for column, layer in PLAN_SIGNATURES.items():
            if re.search(rf"\b{column}#", x["plan"]):
                return layer
        for path in _SCAN_RE.findall(x["plan"]):
            if table_layer(path):
                return table_layer(path)
        return ""

    for x in execs.values():
        x["layer"] = exec_layer(x)
    layers = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
        if exec_id is not None:
            x = execs.get(int(exec_id))
        elif any("DataFrameReader" in si.get("Details", "") for si in e.get("Stage Infos", [])):
            layers[e["Job ID"]] = "catalog"
            continue
        else:
            t = e["Submission Time"]
            running = [x for x in execs.values() if x["start"] <= t <= x["end"]]
            later = [x for x in execs.values() if x["start"] > t]
            if running:
                x = max(running, key=lambda x: x["start"])
            else:  # planning a DataFrame (df.rdd) runs its exchanges first
                x = min(later, key=lambda x: x["start"]) if later else None
        layers[e["Job ID"]] = x["layer"] if x else ""
    return layers


def engine_counters(events: List[dict], job_layer: Dict[int, str]) -> dict:
    """Task counters summed per layer, plus the unattributed share of
    executor run time."""
    stage_layer = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for s in e["Stage IDs"]:
                stage_layer.setdefault(s, job_layer.get(e["Job ID"], ""))
    acc: Dict[str, dict] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        layer = stage_layer.get(e["Stage ID"], "")
        tm, ti = e["Task Metrics"], e["Task Info"]
        a = acc.setdefault(layer, {"run": 0, "shuffle": 0, "spill": 0, "gc": 0, "dur": []})
        a["run"] += tm.get("Executor Run Time", 0)
        a["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["spill"] += tm.get("Disk Bytes Spilled", 0)
        a["gc"] += tm.get("JVM GC Time", 0)
        a["dur"].append(ti["Finish Time"] - ti["Launch Time"])
    out = {}
    for layer in ENGINE_LAYERS:
        a = acc.get(layer)
        med = statistics.median(a["dur"]) if a else 0
        out.update({
            f"{layer}.executor_run_s": a["run"] / 1000 if a else 0,
            f"{layer}.shuffle_write_bytes": a["shuffle"] if a else 0,
            f"{layer}.spill_bytes": a["spill"] if a else 0,
            f"{layer}.gc_s": a["gc"] / 1000 if a else 0,
            f"{layer}.task_s_max_over_median": max(a["dur"]) / med if a and med else 0,
        })
    total = sum(a["run"] for a in acc.values())
    named = sum(a["run"] for layer, a in acc.items() if layer)
    out["trace.unattributed_share"] = (total - named) / total if total else 0
    return out


def _max_over_median(xs) -> float:
    xs = list(xs)
    med = statistics.median(xs) if xs else 0
    return max(xs) / med if med else 0


def _sparql_kernels(texts: List[str], contents: Optional[List[str]]) -> dict:
    """Detect (code only), uncached parse time per distinct text, and a
    replay of the parse cache at its default byte budget."""
    import pandas as pd

    from kgforge.operators import extract
    from kgforge.sparql.mentions import detect_mentions_batch

    m = {"sparql.detect_rows_per_s": 0}
    if contents is not None:
        t0 = time.perf_counter()
        found = detect_mentions_batch(pd.Series(contents))
        m["sparql.detect_rows_per_s"] = len(contents) / (time.perf_counter() - t0)
        texts = [x.raw for ms in found for x in ms]
    results = {}
    t0 = time.perf_counter()
    for t in texts:
        if t not in results:
            results[t] = extract._parse_one_uncached(t)
    parse_s = time.perf_counter() - t0
    cache = extract._ByteLRU(extract._PARSE_CACHE.max_bytes)
    for t in texts:
        if cache.get(t) is None:
            cache.put(t, results[t], extract._entry_cost(t, results[t]))
    n = len(texts) or 1
    m.update({
        "sparql.parse_us": 1e6 * parse_s / (len(results) or 1),
        "sparql.parse_cache_hit_ratio": cache.hits / n,
        "sparql.distinct_query_ratio": len(results) / n,
        "sparql.reject_ratio": sum(not results[t][0] for t in texts) / n,
    })
    return m


def _log_queries(in_dir: str) -> List[str]:
    """The query parameter of every /sparql log line, URL-decoded."""
    from urllib.parse import unquote_plus

    from kgforge.sources.logs import LOG_PATTERN

    line_re, q_re = re.compile(LOG_PATTERN), re.compile(r"[?&]query=([^&]*)")
    out = []
    for f in workloads.data_files(in_dir):
        with open(f) as fh:
            for line in fh:
                m = line_re.match(line)
                if m and m.group(4).startswith("/sparql"):
                    q = q_re.search(m.group(4))
                    if q and q.group(1):
                        out.append(unquote_plus(q.group(1)))
    return out


def _code_probes(spark, spans: Spans, in_dir: str, out: str, probe_dir: str) -> dict:
    from pyspark.sql import functions as F

    from kgforge.checkpoint import CheckpointStore, with_pid
    from kgforge.operators.extract import extract_parse_sink, prefilter, with_content_sha
    from kgforge.operators.linking import link_terms
    from kgforge.operators.triples import explode_tps, graph_triples, write_graph
    from kgforge.pipeline import default_entity_dict

    p = {k: os.path.join(probe_dir, k) for k in ("staged", "prefiltered", "parsed", "linked", "graph")}
    m = {}
    with spans("extract.with_content_sha+with_pid") as s:
        with_pid(with_content_sha(spark.read.parquet(in_dir)), 64).write.parquet(p["staged"])
    m["extract.scan_sha_s"] = s["seconds"]
    with spans("extract.prefilter") as s:
        prefilter(spark.read.parquet(p["staged"])).write.parquet(p["prefiltered"])
    m["extract.prefilter_s"] = s["seconds"]
    m["extract.prefilter_pass_ratio"] = (
        workloads.table_rows(p["prefiltered"]) / (workloads.table_rows(p["staged"]) or 1))
    with spans("extract.extract_parse_sink") as s:
        summary = extract_parse_sink(
            spark.read.parquet(p["prefiltered"]), p["parsed"], "probe", fresh=True
        ).collect()
    m["extract.sink_s"] = s["seconds"]
    per_task: dict = {}
    for r in summary:
        per_task[r["task_id"]] = per_task.get(r["task_id"], 0) + r["n_rows"]
    m["extract.tasks"] = len(per_task)
    m["extract.task_rows_max_over_median"] = _max_over_median(per_task.values())
    m["extract.mentions"] = sum(per_task.values())
    with spans("linking.explode_tps+link_terms") as s:
        link_terms(explode_tps(spark.read.parquet(p["parsed"])), default_entity_dict(spark)) \
            .write.parquet(p["linked"])
    m["linking.link_s"] = s["seconds"]
    linked = workloads.read_table(
        p["linked"], ["s_kind", "o_kind", "s_surface", "o_surface", "s_entity", "o_entity"]
    ).to_pandas()
    m["linking.rows"] = m["triples.explode_rows"] = len(linked)
    ground = ("iri", "literal")
    linkable = (linked.s_kind.isin(ground) & linked.s_surface.notna()).sum() + \
        (linked.o_kind.isin(ground) & linked.o_surface.notna()).sum()
    hits = linked.s_entity.notna().sum() + linked.o_entity.notna().sum()
    m["linking.hit_ratio"] = float(hits / linkable) if linkable else 0
    with spans("triples.graph_triples+write_graph") as s:
        write_graph(graph_triples(spark.read.parquet(p["linked"])), p["graph"])
    m["triples.graph_s"] = s["seconds"]
    m["triples.graph_rows"] = workloads.table_rows(p["graph"])
    store = CheckpointStore(spark, os.path.join(out, "checkpoints"))
    with spans("checkpoint.filter_pending") as s:
        store.filter_pending(spark.read.parquet(p["staged"]), "parsed").write.format("noop") \
            .mode("overwrite").save()
    m["checkpoint.filter_pending_s"] = s["seconds"]
    with spans("checkpoint.committed_attempts") as s:
        store.committed_attempts("parsed").agg(F.count("*")).collect()
    m["checkpoint.committed_attempts_s"] = s["seconds"]
    return m


def run(spark, wl, seed: int, rep: int, one_call, untraced_median: float, trace_dir: str):
    """One traced call (input ``rep``), attribution, probes and kernels.
    Returns the per-layer metrics as {name: value} and the list of output
    errors the traced call's extra checks found."""
    shutil.rmtree(trace_dir, ignore_errors=True)
    log_dir = os.path.join(trace_dir, "eventlog")
    probe_dir = os.path.join(trace_dir, "probes")
    os.makedirs(log_dir)
    os.makedirs(probe_dir)
    spans = Spans()
    m: dict = {name: 0 for name, _ in PER_LAYER}
    errors: List[str] = []

    listener = _attach_event_log(spark, log_dir, f"perfbench-{wl.name}-{seed}-{int(time.time())}")
    try:
        with spans("traced_call"):
            wall, in_dir, out, pm = one_call(spark, rep)
    finally:
        _detach_event_log(spark, listener)
    if not pm:
        raise RuntimeError("the traced call raised; no layer metrics")
    m["trace.overhead_s"] = wall - untraced_median
    events = _read_events(log_dir)
    is_log = wl.name == "dbpedia_log"
    job_layer = attribute_jobs(events, out, in_dir, "logs" if is_log else "pipeline")
    m.update(engine_counters(events, job_layer))
    m["pipeline.spark_jobs"] = len(job_layer)
    unattributed = sorted(j for j, layer in job_layer.items() if not layer)
    if unattributed:
        print(f"perfbench: unattributed jobs {unattributed}")

    for t in wl.tables:
        files = workloads.data_files(os.path.join(out, t))
        m[f"catalog.bytes.{t}"] = sum(os.path.getsize(f) for f in files)
        m[f"catalog.files.{t}"] = len(files)

    with spans("probes"):
        if is_log:
            from kgforge.sources.logs import read_apache_log

            with spans("logs.read_apache_log") as s:
                read_apache_log(spark, in_dir).write.format("noop").mode("overwrite").save()
            m["logs.read_s"] = s["seconds"]
            m["logs.query_line_ratio"] = pm["n_hits"] / pm["n_lines"]
            m["pipeline_log.dup_ratio"] = pm["n_dups"] / pm["n_hits"]
            m["pipeline_log.python_passes"] = sum(
                "MapInPandas" in e.get("physicalPlanDescription", "")
                for e in events if e["Event"].endswith("SQLExecutionStart"))
            with spans("sparql.kernels"):
                m.update(_sparql_kernels(_log_queries(in_dir), None))
        else:
            t = {k: pm.get(k, 0) for k in (
                "stage1_wall_s", "stage2_wall_s", "t_raw_s", "t_rollup_s", "t_fixture_s",
                "t_graph_s", "t_checkpoint_s")}
            m.update({
                "pipeline.stage1_s": t["stage1_wall_s"], "pipeline.stage2_s": t["stage2_wall_s"],
                "pipeline.raw_s": t["t_raw_s"], "pipeline.rollup_s": t["t_rollup_s"],
                "pipeline.fixture_s": t["t_fixture_s"], "pipeline.graph_s": t["t_graph_s"],
                "pipeline.checkpoint_s": t["t_checkpoint_s"],
                "pipeline.stage2_overlap_s": t["t_raw_s"] + t["t_rollup_s"] + t["t_fixture_s"]
                + t["t_graph_s"] + t["t_checkpoint_s"] - t["stage2_wall_s"],
            })
            graph_files = workloads.data_files(os.path.join(out, "triples"))
            m["triples.graph_file_bytes_max_over_median"] = _max_over_median(
                os.path.getsize(f) for f in graph_files)
            m["triples.fixture_rows"] = workloads.table_rows(os.path.join(out, "triples_fixture"))
            m["checkpoint.rows"] = workloads.table_rows(os.path.join(out, "checkpoints"))
            bad = wl.check_sha256(in_dir, out)
            if bad:
                errors.append(f"sha256 invariant broken on {bad} triples_raw rows")
            m.update(_code_probes(spark, spans, in_dir, out, probe_dir))
            contents = workloads.read_table(in_dir, ["content"]).column("content").to_pylist()
            with spans("sparql.kernels"):
                m.update(_sparql_kernels([], contents))
    spans.write(os.path.join(trace_dir, "spans.json"))
    return m, errors
