"""Lineage-on benchmark of the engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload wide_sql_sf0.001 --seed 1 --seconds 15 --trace 0

Runs one workload in a closed loop (one client, each operation starts
after the previous one returned) through ``LineageSession`` with a JSONL
reporter, checks every result and report outside the timed loop, and
prints as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``. The line
before it records the host and the effective width. See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 3  # pass_s is the median of at least this many passes
OVERRUN = 2.0  # a slow host ends the loop after this many times --seconds
DRIVER_MEMORY = "1g"
REPORT_WAIT_S = 20.0  # longest wait for late (listener) reports after the loop


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["wide_sql_sf0.001", "write_chain_async"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and make the
    engine importable by Spark's Python workers. Must run before the JVM
    starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM started below (the launcher too): temp files here, no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SLS_LINEAGE_PATH"] = os.path.join(run_dir, "default-reports.jsonl")
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_reporter_class():
    # imported late: the engine reads its environment at import time
    from spark_lineage_spark.plans.reporters import JsonlReporter

    class TimedJsonlReporter(JsonlReporter):
        """The engine's JSONL reporter, noting when each report landed."""

        def __init__(self, path: str):
            super().__init__(path)
            self.received: list[tuple[float, dict, int]] = []

        def report(self, report) -> None:
            super().report(report)
            self.received.append((time.perf_counter(), report.to_dict(), len(report.to_json()) + 1))

    return TimedJsonlReporter


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class CaptureFailures(logging.Handler):
    """Counts capture failures the session logs."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record):
        self.count += 1


class Bench:
    def __init__(self, args, run_dir: str):
        import workloads

        self.args = args
        self.run_dir = run_dir
        data = os.path.join(run_dir, "data")
        if args.workload == "wide_sql_sf0.001":
            self.wl = workloads.WideSql(args.seed, data)
        else:
            self.wl = workloads.WriteChain(args.seed, data, os.path.join(run_dir, "stage"))
        self.ops_done: list[dict] = []  # one per timed operation
        self.pass_s: list[float] = []
        self.pass_steal: list[int] = []
        self.setup_s: list[float] = []
        self.setup_no = 0
        self.failures = CaptureFailures()
        logging.getLogger("spark_lineage_spark.session").addHandler(self.failures)

    # -- set-up -------------------------------------------------------
    def build(self) -> None:
        from spark_lineage_spark.registry import load_all
        from spark_lineage_spark.session import LineageSession, build_spark
        from spark_lineage_spark import tables

        self.setup_no += 1
        self.spark = build_spark(
            "perfbench",
            cpus=os.cpu_count() or 4,
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed young generation: the heap's high-water mark, and
                # with it peak_rss_mb, then varies less from run to run
                "spark.driver.extraJavaOptions": "-Xmn256m",
            },
        )
        log(f"session built at {time.perf_counter() - PROCESS_START:.2f} s")
        load_all()
        self.reporter = make_reporter_class()(
            os.path.join(self.run_dir, f"reports-{self.setup_no}.jsonl")
        )
        self.eng = LineageSession(self.spark, self.reporter, async_capture=self.wl.async_capture)
        self.wl.setup(self.eng, tables)
        log(f"workload set up at {time.perf_counter() - PROCESS_START:.2f} s")
        for op in self.wl.warmup_ops(self.eng, self.setup_no):
            op.run()
        self.eng.flush()

    def teardown(self) -> None:
        self.wl.cleanup(self.eng)
        if self.eng._executor is not None:
            self.eng._executor.shutdown(wait=True)
        self.spark.stop()

    def setup(self, prepare_s: float) -> None:
        """The run's set-up: from process start (less the input
        generation) until the session is built and warmed up."""
        self.build()
        self.setup_s.append(time.perf_counter() - PROCESS_START - prepare_s)
        log(f"cold set-up {self.setup_s[-1]:.2f} s")
        self.reporter.received.clear()
        self.failures.count = 0

    def rebuild(self) -> None:
        """Further set-ups after the timed loop and its checks, each
        rebuilding the session in the same JVM."""
        for _ in range(SETUPS - 1):
            self.teardown()
            t0 = time.perf_counter()
            self.build()
            self.setup_s.append(time.perf_counter() - t0)
            log(f"set-up {self.setup_no} {self.setup_s[-1]:.2f} s")

    # -- timed loop ---------------------------------------------------
    def run_pass(self, pass_no: int, on_op=None) -> float:
        """One pass of the workload's operations, timed one by one."""
        ops = self.wl.ops(self.eng, pass_no)
        steal0 = stats.steal_ticks()
        t_pass = time.perf_counter()
        for op in ops:
            rec = {"op": op, "pass": pass_no, "error": None}
            if on_op is not None:
                on_op(rec)
            t0 = time.perf_counter()
            try:
                op.result = op.run()
            except Exception as e:  # a failed operation is counted, not fatal
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["start"], rec["end"] = t0, time.perf_counter()
            if on_op is not None:
                on_op(rec)
            self.ops_done.append(rec)
        elapsed = time.perf_counter() - t_pass
        self.pass_steal.append(stats.steal_ticks() - steal0)
        return elapsed

    def measure(self, seconds: float, on_pass=None, on_op=None, min_passes: int = 1) -> None:
        """As many whole passes as fill ``seconds`` at the workload's
        nominal pass time (at least ``min_passes``). The count is fixed for
        a given ``seconds``: pass times still fall through the run (JIT
        warm-up), so a count that followed the clock would move the median
        pass with the host's speed. A host so slow that the passes take
        ``OVERRUN`` times ``seconds`` ends the loop early.
        ``on_pass(pass_no, before)`` and ``on_op(record)`` run around each
        pass and operation (the traced run's hooks)."""
        passes = max(min_passes, round(seconds / self.wl.nominal_pass_s))
        t0 = time.perf_counter()
        pass_no = 0
        while pass_no < passes and (
            pass_no < min_passes or time.perf_counter() - t0 < OVERRUN * seconds
        ):
            if on_pass is not None:
                on_pass(pass_no, True)
            self.pass_s.append(self.run_pass(pass_no, on_op))
            if on_pass is not None:
                on_pass(pass_no, False)
            pass_no += 1
        self.eng.flush()

    def wait_for_reports(self) -> None:
        want = sum(len(r["op"].reports) for r in self.ops_done)
        deadline = time.perf_counter() + REPORT_WAIT_S
        while len(self.reporter.received) < want and time.perf_counter() < deadline:
            time.sleep(0.05)
            self.eng.flush()

    # -- checks (outside the timed loop) ---------------------------------
    def check(self) -> dict:
        """Match reports to operations, check results and reports, and
        return the correctness figures."""
        import workloads

        self.wl.compute_expected()
        received = list(self.reporter.received)  # (t, report, bytes) in arrival order
        used = [False] * len(received)
        expected_pairs = found_pairs = 0
        outputs = covered = 0
        failed_ops = 0
        for rec in self.ops_done:
            op, why = rec["op"], []
            if rec["error"]:
                why.append(rec["error"])
            elif op.check is not None:
                msg = op.check(op.result)
                if msg:
                    why.append(msg)
            ready = rec["end"]
            for exp in op.reports:
                idx = next(
                    (i for i, (t, r, _) in enumerate(received)
                     if not used[i] and t >= rec["start"] and exp.match(r)),
                    None,
                )
                expected_pairs += len(exp.tables)
                outputs += exp.outputs
                if idx is None:
                    why.append("report missing")
                    continue
                used[idx] = True
                t, report, _ = received[idx]
                ready = max(ready, t)
                names = workloads.names_in(report)
                found_pairs += sum(1 for tname in exp.tables if tname in names)
                cols = report.get("columns") or []
                covered += min(exp.outputs, sum(1 for c in cols if c.get("inputs")))
            rec["ready"] = ready
            if op.lineage and not rec["error"]:
                expected_pairs += len(op.lineage)
                found_pairs += len(op.lineage & op.result)
            if why:
                failed_ops += 1
                rec["why"] = why
        stray = used.count(False)
        final = self.wl.final_checks(self.eng)
        failed = failed_ops + stray + len(final) + self.failures.count
        return {
            "failed": failed,
            "stray_reports": stray,
            "final_errors": final,
            "recall": found_pairs / expected_pairs if expected_pairs else 1.0,
            "coverage": covered / outputs if outputs else 1.0,
            "errors": [r.get("why") for r in self.ops_done if r.get("why")][:5],
        }

    # -- host ---------------------------------------------------------
    def host(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(),
            "driver_memory": self.spark.conf.get("spark.driver.memory", DRIVER_MEMORY),
            "pass_steal_ticks": self.pass_steal,
            "cal_1t_ms": round(stats.calibrate_1t_ms(), 2),
        }


def end_to_end(bench: Bench, result: dict) -> dict:
    ops = bench.ops_done
    op_s = [(r["pass"], r["end"] - r["start"]) for r in ops]
    ready = [(r["pass"], r["ready"] - r["start"]) for r in ops if r["op"].reports]
    attempted = len(ops)

    def m(value, unit):
        return {"value": value, "unit": unit}

    return {
        "setup_s": m(statistics.median(bench.setup_s), "s"),
        "pass_s": m(statistics.median(bench.pass_s), "s"),
        "op_s_p50": m(statistics.median(t for _, t in op_s), "s"),
        "op_s_p90": m(stats.per_pass_percentile(op_s, 90), "s"),
        "report_ready_s_p50": m(statistics.median(t for _, t in ready), "s"),
        "report_ready_s_p90": m(stats.per_pass_percentile(ready, 90), "s"),
        "lineage_table_recall": m(result["recall"], "ratio"),
        "lineage_column_coverage": m(result["coverage"], "ratio"),
        "success_ratio": m(1.0 - min(result["failed"], attempted) / attempted, "ratio"),
        "peak_rss_mb": m(sum(bench.rss_mb), "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_lineage_spark", "session.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    # a termination signal unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    bench = None
    try:
        pin_environment(run_dir)
        bench = Bench(args, run_dir)
        t0 = time.perf_counter()
        bench.wl.prepare()
        bench.setup(time.perf_counter() - t0)
        if args.trace:
            import layers

            metrics = layers.traced_run(bench, args.seconds)
            bench.rss_mb = stats.peak_rss_mb()
            result = bench.check()
        else:
            bench.measure(args.seconds, min_passes=MIN_PASSES)
            bench.rss_mb = stats.peak_rss_mb()  # before the checks load DuckDB
            bench.wait_for_reports()
            log(f"measured at {time.perf_counter() - PROCESS_START:.2f} s")
            result = bench.check()
            log(f"checked at {time.perf_counter() - PROCESS_START:.2f} s")
            bench.rebuild()
            metrics = end_to_end(bench, result)
        attempted = len(bench.ops_done)
        context = bench.host() | {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "passes": len(bench.pass_s),
            "op_samples": attempted,
            "p90_tail_samples": stats.samples_beyond(attempted, 90),
            "pass_s_all": [round(p, 4) for p in bench.pass_s],
            "peak_rss_python_jvm_mb": [round(x, 1) for x in bench.rss_mb],
            "pass_trend": round(stats.trend(bench.pass_s), 3),
            "setup_s_all": [round(s, 4) for s in bench.setup_s],
            "stray_reports": result["stray_reports"],
            "final_errors": result["final_errors"][:5],
            "op_errors": result["errors"],
        }
        if args.trace:
            context |= bench.trace_context
        if context["pass_trend"] > 1.15:
            print(f"perfbench: pass_s still falling within the run "
                  f"(trend {context['pass_trend']})", file=sys.stderr)
        print(json.dumps({"context": context}))
        bench.teardown()
        print(json.dumps({
            "correct": result["failed"] == 0,
            "attempted": attempted,
            "failed": min(result["failed"], attempted),
            "metrics": metrics,
        }))
        return 0
    finally:
        if bench is not None:
            stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may be gone already
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
