"""The traced run: per-layer metrics from spans around the engine's
public functions and the PySpark calls they drive.

Passes alternate untraced and traced, so the same run also gives the
tracing overhead (median traced pass over median untraced pass). The
layers are the engine's modules (operators, tables, streaming, sources,
session, plans.extract, plans.reporters/model) and, measured from
outside, the Spark and bridge layers: catalyst, exec, jvm and py4j.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import sys
import time

from spans import LAYER_OF, QueryListener, Span, Tracer, layer_of, self_times

SHARE_LAYERS = sorted({v for v in LAYER_OF.values() if v != "trace"})
CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")
# spans that can contain a Catalyst phase of the main thread's queries
_PHASE_HOSTS = ("op", "operators.", "tables.", "streaming.", "exec.", "sources.", "session.")


def install(tracer: Tracer, bench) -> None:
    """Wrap the engine's public functions and the PySpark calls below them."""
    from pyspark.sql import DataFrameReader, DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    import spark_lineage_spark.plans.extract as extract
    from spark_lineage_spark import tables
    from spark_lineage_spark.plans.model import LineageReport
    from spark_lineage_spark.plans.reporters import JsonlReporter
    from spark_lineage_spark.session import LineageSession
    from spark_lineage_spark.sources.frame import LineageDataFrame
    from spark_lineage_spark.sources.writer import LineageWriter

    # engine layers
    tracer.patch(LineageSession, "sql", "session.sql")
    _patch_emit(tracer, LineageSession)
    tracer.patch(LineageSession, "flush", "session.flush")
    tracer.patch(LineageSession, "lineage", "session.lineage")
    _patch_extract(tracer, extract)
    tracer.patch(JsonlReporter, "report", "reporters.report")
    tracer.patch(LineageReport, "to_json", "reporters.serialize")
    tracer.patch(LineageReport, "to_dict", "reporters.serialize")
    for name in ("parquet", "save"):
        tracer.patch(LineageWriter, name, "sources.write")
    _patch_actions(tracer, LineageDataFrame)
    # modules that imported ``load`` by name hold the original function
    original_load = tables.load
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("spark_lineage_spark") and \
                getattr(mod, "load", None) is original_load:
            tracer.patch(mod, "load", "tables.load")
    spec = getattr(bench.wl, "spec", None)
    if spec is not None:
        tracer.patch(spec, "builder", "operators.build")
    # Spark, measured from outside
    tracer.patch(DataFrame, "collect", "exec.collect")
    tracer.patch(DataFrameWriter, "parquet", "exec.write")
    tracer.patch(DataFrameWriter, "save", "exec.write")
    tracer.patch(DataFrameReader, "parquet", "exec.read")
    tracer.patch(DataFrameReader, "json", "exec.read")
    tracer.patch(SparkSession, "sql", "exec.sql")
    tracer.patch(DataStreamWriter, "start", "streaming.start")
    tracer.patch(StreamingQuery, "awaitTermination", "streaming.run")
    tracer.count_py4j()


def _patch_emit(tracer: Tracer, session_cls) -> None:
    """``emit`` in a span that is queued for its capture: capture runs in
    emit order, inline or on the session's one worker thread, and takes
    the emit span as parent."""
    original = session_cls.emit

    def emit(self, *args, **kwargs):
        if not tracer.enabled:
            return original(self, *args, **kwargs)
        span = tracer.begin("session.emit")
        tracer.pending_capture.append(span)
        try:
            return original(self, *args, **kwargs)
        finally:
            tracer.end(span)

    tracer._patches.append((session_cls, "emit", original))
    session_cls.emit = emit


def _patch_extract(tracer: Tracer, extract) -> None:
    """``extract_report`` in a span under its emit span, plus the size of
    the plan it walks, counted in a span of the tracer's own."""
    original = extract.extract_report

    def extract_report(df, *args, **kwargs):
        if not tracer.enabled or not tracer.pending_capture:
            return original(df, *args, **kwargs)
        emit_span = tracer.pending_capture.popleft()
        probe = tracer.begin("trace.plan_size", emit_span)
        try:
            nodes = df._jdf.queryExecution().analyzed().treeString().count("\n")
        except Exception:  # a plan the probe cannot read counts as empty
            nodes = 0
        tracer.end(probe)
        span = tracer.begin("extract.extract_report", emit_span)
        try:
            report = original(df, *args, **kwargs)
        finally:
            tracer.end(span)
        span.attrs.update(
            nodes=nodes,
            queue_wait=probe.start - emit_span.start,
            unknown=sum(1 for i in report.inputs if i.kind == "unknown"),
        )
        return report

    tracer._patches.append((extract, "extract_report", original))
    extract.extract_report = extract_report


def _patch_actions(tracer: Tracer, frame_cls) -> None:
    """Facade actions (collect, count, ...) in a ``sources.action`` span."""
    original = frame_cls._wrap_action

    def wrap_action(self, name, fn):
        action = original(self, name, fn)

        def traced(*args, **kwargs):
            with tracer.span("sources.action"):
                return action(*args, **kwargs)

        return traced

    tracer._patches.append((frame_cls, "_wrap_action", original))
    frame_cls._wrap_action = wrap_action


def traced_run(bench, seconds: float) -> dict:
    """Alternate untraced and traced passes for ``seconds``; return the
    per-layer metrics of the traced ones."""
    from pyspark.java_gateway import ensure_callback_server_started

    spark = bench.spark
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = QueryListener()
    tracer = Tracer()
    install(tracer, bench)
    run = {"windows": [], "traced_s": [], "untraced_s": [], "gc_s": 0.0, "heap_mb": 0.0,
           "clock_offset": time.time() - time.perf_counter()}
    roots: list[Span] = []

    def gc_seconds() -> float:
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1000.0

    def on_op(rec: dict) -> None:
        if not tracer.enabled:
            return
        if "start" not in rec:  # about to run
            tracer.op = len(bench.ops_done)
            roots.append(tracer.begin("op"))
        else:
            tracer.end(roots.pop())

    def on_pass(pass_no: int, before: bool) -> None:
        if not is_traced(pass_no):
            if not before:
                run["untraced_s"].append(bench.pass_s[-1])
            return
        if before:
            run["gc0"] = gc_seconds()
            spark._jsparkSession.listenerManager().register(listener)
            run["t0"] = time.perf_counter()
            tracer.enabled = True
            return
        bench.eng.flush()  # captures of this pass finish inside it
        tracer.enabled = False
        run["windows"].append((run["t0"], time.perf_counter()))
        spark._jsparkSession.listenerManager().unregister(listener)
        run["traced_s"].append(bench.pass_s[-1])
        run["gc_s"] += gc_seconds() - run["gc0"]
        used = mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
        run["heap_mb"] = max(run["heap_mb"], used)

    try:
        bench.measure(seconds, on_pass=on_pass, on_op=on_op, min_passes=4)
    finally:
        tracer.enabled = False
        tracer.unpatch_all()
    bench.wait_for_reports()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    metrics = layer_metrics(bench, tracer, listener, run)
    write_spans(tracer.spans, os.path.join(
        os.path.dirname(bench.run_dir), f"spans-{bench.wl.name}-seed{bench.args.seed}.jsonl"))
    return metrics


def write_spans(spans: list[Span], path: str) -> None:
    """All spans of the run, one JSON object a line (times in seconds
    on the run's monotonic clock)."""
    with open(path, "w", encoding="utf-8") as fh:
        for s in spans:
            fh.write(json.dumps(dataclasses.asdict(s), default=str) + "\n")


def is_traced(pass_no: int) -> bool:
    """Passes go untraced, traced, traced, untraced, ... so that a trend
    within the run weighs on both kinds alike."""
    return pass_no % 4 in (1, 2)


def _in(windows: list[tuple[float, float]], t: float) -> bool:
    return any(a <= t <= b for a, b in windows)


def _catalyst_spans(tracer: Tracer, listener: QueryListener, run: dict) -> dict:
    """Turn the listener's phase intervals into spans under the span that
    was running them; return summed phase ms and the query count."""
    hosts = [s for s in tracer.spans if s.name.startswith(_PHASE_HOSTS)]
    totals = {p: 0.0 for p in CATALYST_PHASES} | {"queries": 0, "rows": 0, "duration_s": 0.0}
    for ev in listener.events:
        phases = {p: (a / 1000.0 - run["clock_offset"], b / 1000.0 - run["clock_offset"])
                  for p, (a, b) in ev["phases"].items()}
        if not phases or not _in(run["windows"], max(e for _, e in phases.values())):
            continue
        totals["queries"] += 1
        totals["rows"] += ev["rows"] or 0
        totals["duration_s"] += ev["duration_ns"] / 1e9
        for phase, (start, end) in phases.items():
            mid = (start + end) / 2
            host = min((h for h in hosts if h.start <= mid <= h.end),
                       key=lambda h: h.end - h.start, default=None)
            tracer.add_span(f"catalyst.{phase}", start, end, host)
            totals[phase] += (end - start) * 1000.0
    return totals


def _stage_totals(spark, windows: list[tuple[float, float]], clock_offset: float,
                  build_windows: list[tuple[float, float]]) -> dict:
    """Jobs, stages and task totals from Spark's status store, for the
    jobs and stages submitted inside the traced passes."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "build_jobs", "stages", "tasks", "failed_tasks",
                         "task_run_s", "shuffle_bytes", "spill_bytes"), 0)

    def submitted(obj) -> float | None:
        opt = obj.submissionTime()
        return opt.get().getTime() / 1000.0 - clock_offset if opt.isDefined() else None

    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        t = submitted(jobs.apply(i))
        if t is not None and _in(windows, t):
            out["jobs"] += 1
            out["build_jobs"] += _in(build_windows, t)
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList())
    for i in range(stages.size()):
        st = stages.apply(i)
        t = submitted(st)
        if t is None or not _in(windows, t):
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_run_s"] += st.executorRunTime() / 1000.0
        out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def layer_metrics(bench, tracer: Tracer, listener: QueryListener, run: dict) -> dict:
    passes = max(1, len(run["traced_s"]))
    windows = run["windows"]
    catalyst = _catalyst_spans(tracer, listener, run)
    spans = tracer.spans
    selfs = self_times(spans)
    by_layer: dict[str, float] = {}
    by_name: dict[str, float] = {}
    calls_by_layer: dict[str, int] = {}
    count_by_name: dict[str, int] = {}
    for s in spans:
        layer = layer_of(s.name)
        by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s.id]
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
        calls_by_layer[layer] = calls_by_layer.get(layer, 0) + s.calls
        count_by_name[s.name] = count_by_name.get(s.name, 0) + 1
    build_windows = [(s.start, s.end) for s in spans if s.name == "operators.build"]
    spark_totals = _stage_totals(bench.spark, windows, run["clock_offset"], build_windows)
    cores = bench.spark.sparkContext.defaultParallelism

    ops = [r for r in bench.ops_done if is_traced(r["pass"])]
    reports = [(t, r, n) for t, r, n in bench.reporter.received if _in(windows, t)]
    microbatches = [r for _, r, _ in reports if r["run"]["func_name"].startswith("microbatch:")]
    emitted = [r for _, r, _ in reports if not r["run"]["func_name"].startswith("microbatch:")]
    writes = [r for r in emitted if r.get("output")]
    extracts = [s for s in spans if s.name == "extract.extract_report"]
    n_extract = max(1, len(extracts))
    lookups = [r["end"] - r["start"] for r in ops if r["op"].name == "lineage_lookup"]
    exec_s = by_layer.get("exec", 0.0)
    total_self = sum(v for k, v in by_layer.items() if k != "trace")

    def per_pass(v):
        return v / passes

    m = {
        "operators.build_s": (per_pass(by_layer.get("operators", 0.0)), "s/pass"),
        "operators.build_jobs": (per_pass(spark_totals["build_jobs"]), "jobs/pass"),
        "operators.py4j_calls": (per_pass(calls_by_layer.get("operators", 0)), "calls/pass"),
        "tables.load_s": (per_pass(by_layer.get("tables", 0.0)), "s/pass"),
        "tables.load_calls": (per_pass(count_by_name.get("tables.load", 0)), "calls/pass"),
        "streaming.microbatches": (per_pass(len(microbatches)), "count/pass"),
        "streaming.run_s": (per_pass(by_layer.get("streaming", 0.0)), "s/pass"),
        "exec.s": (per_pass(exec_s), "s/pass"),
        "exec.jobs": (per_pass(spark_totals["jobs"]), "jobs/pass"),
        "exec.stages": (per_pass(spark_totals["stages"]), "stages/pass"),
        "exec.tasks": (per_pass(spark_totals["tasks"]), "tasks/pass"),
        "exec.task_run_s": (per_pass(spark_totals["task_run_s"]), "s/pass"),
        "exec.core_busy_ratio": (
            spark_totals["task_run_s"] / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.shuffle_bytes": (per_pass(spark_totals["shuffle_bytes"]), "bytes/pass"),
        "exec.spill_bytes": (per_pass(spark_totals["spill_bytes"]), "bytes/pass"),
        "exec.output_rows": (per_pass(catalyst["rows"]), "rows/pass"),
        "exec.query_duration_s": (per_pass(catalyst["duration_s"]), "s/pass"),
        "exec.failed_tasks": (per_pass(spark_totals["failed_tasks"]), "count/pass"),
        "sources.s": (per_pass(by_layer.get("sources", 0.0)), "s/pass"),
        "sources.actions": (per_pass(count_by_name.get("session.emit", 0)), "count/pass"),
        "sources.reports_per_action": (
            len(emitted) / max(1, count_by_name.get("session.emit", 0)), "ratio"),
        "sources.write_rows_known_ratio": (
            sum(1 for r in writes if r["run"].get("num_output_rows") is not None)
            / max(1, len(writes)), "ratio"),
        "session.emit_caller_s": (per_pass(by_name.get("session.emit", 0.0)), "s/pass"),
        "session.queue_wait_s": (
            sum(s.attrs.get("queue_wait", 0.0) for s in extracts) / n_extract, "s/report"),
        "session.flush_wait_s": (per_pass(by_name.get("session.flush", 0.0)), "s/pass"),
        "session.capture_failures": (float(bench.failures.count), "count"),
        "session.lineage_query_s": (per_pass(sum(lookups)), "s/pass"),
        "extract.capture_s": (per_pass(by_layer.get("extract", 0.0)), "s/pass"),
        "extract.py4j_calls": (calls_by_layer.get("extract", 0) / n_extract, "calls/report"),
        "extract.plan_nodes": (
            sum(s.attrs.get("nodes", 0) for s in extracts) / n_extract, "nodes/report"),
        "extract.unknown_inputs": (
            sum(s.attrs.get("unknown", 0) for s in extracts) / n_extract, "count/report"),
        "reporters.report_s": (per_pass(by_name.get("reporters.report", 0.0)), "s/pass"),
        "reporters.serialize_s": (per_pass(by_name.get("reporters.serialize", 0.0)), "s/pass"),
        "reporters.bytes": (sum(n for _, _, n in reports) / max(1, len(reports)), "bytes/report"),
        "jvm.gc_s": (per_pass(run["gc_s"]), "s/pass"),
        "jvm.heap_used_mb": (run["heap_mb"], "MB"),
        "py4j.calls": (
            (sum(calls_by_layer.values()) + tracer.unattributed_calls) / max(1, len(ops)),
            "calls/op"),
    }
    for phase in CATALYST_PHASES:
        m[f"catalyst.{phase}_ms"] = (catalyst[phase] / max(1, catalyst["queries"]), "ms/query")
    for layer in SHARE_LAYERS:
        m[f"share.{layer}"] = (by_layer.get(layer, 0.0) / total_self if total_self else 0.0,
                               "ratio")
    traced = statistics.median(run["traced_s"]) if run["traced_s"] else 0.0
    untraced = statistics.median(run["untraced_s"]) if run["untraced_s"] else 0.0
    m["trace.pass_s"] = (traced, "s")
    m["trace.untraced_pass_s"] = (untraced, "s")
    m["trace.overhead_ratio"] = (traced / untraced if untraced else 0.0, "ratio")
    bench.trace_context = {
        "self_s_per_pass": {k: round(v / passes, 4) for k, v in sorted(by_name.items())},
        "listener_errors": listener.failures,
        # py4j call commands of each traced pass: equal when the counts repeat
        "py4j_calls_per_traced_pass": [
            sum(s.calls for s in spans if a <= s.start <= b) for a, b in windows
        ],
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(m.items())}
