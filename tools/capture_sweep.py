"""Lineage-capture sweep: build every registry query (or the named ones)
and run ``extract_report`` on it, without executing the query itself
(builders may still run their own eager jobs).

One tab-separated line per query:

    name  digest  ms  py4j_calls  json_bytes

- ``digest``: sha256 (first 16 hex chars) of ``report.to_dict()``
  without ``run.timestamp``/``run.duration_s``, and with the tokens
  that change from process to process masked: this process's pid,
  uuid4 hex names, and the directory names that builders create under
  the temp dir;
- ``ms``: wall time of ``extract_report``;
- ``py4j_calls``: py4j call commands (``c\\n``) it sent;
- ``json_bytes``: UTF-8 size of the analyzed plan's ``toJSON()``.

A last line summarizes p50/p90/max of ms and calls. Two trees give the
same reports when the first two columns of their outputs agree:

    diff <(cut -f1,2 a.tsv) <(cut -f1,2 b.tsv)

Usage: python tools/capture_sweep.py --sf DIR [--cpus N] [names...]
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def py4j_calls():
    """Count the py4j call commands (``c\\n``) sent inside the block, as
    the benchmark's tracer does; yields a one-item list with the count."""
    from py4j import clientserver, java_gateway

    counter, originals = [0], []
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        original = cls.send_command

        def send_command(conn, command, *args, _original=original, **kwargs):
            if command.startswith("c\n"):
                counter[0] += 1
            return _original(conn, command, *args, **kwargs)

        originals.append((cls, original))
        cls.send_command = send_command
    try:
        yield counter
    finally:
        for cls, original in originals:
            cls.send_command = original


def digest(report) -> str:
    d = report.to_dict()
    d["run"].pop("timestamp")
    d["run"].pop("duration_s")
    text = json.dumps(d, sort_keys=True)
    text = re.sub(re.escape(tempfile.gettempdir()) + r"/[^/\"]+", "<tmp>", text)
    text = re.sub(rf"(?<!\d){os.getpid()}(?!\d)", "<pid>", text)
    text = re.sub(r"[0-9a-f]{32}", "<uuid>", text)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def pct(values: list[float], q: int) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[math.ceil(len(values) * q / 100) - 1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="fixture directory, e.g. .../sf0.001")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("names", nargs="*", help="registry queries (default: all)")
    args = ap.parse_args()

    from spark_lineage_spark.plans.extract import extract_report
    from spark_lineage_spark.registry import load_all
    from spark_lineage_spark.session import build_spark

    specs = load_all()
    names = args.names or list(specs)
    spark = build_spark(
        "sls_capture_sweep", cpus=args.cpus,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    ms_all, calls_all, sizes = [], [], []
    for name in names:
        try:
            df = specs[name].builder(spark, args.sf)
        except Exception as e:  # keep sweeping; record the failure
            print(f"{name}\tBUILD-ERROR {type(e).__name__}", flush=True)
            continue
        size = len(df._jdf.queryExecution().analyzed().toJSON().encode())
        with py4j_calls() as calls:
            t0 = time.perf_counter()
            report = extract_report(df)
            ms = (time.perf_counter() - t0) * 1000
        ms_all.append(ms)
        calls_all.append(calls[0])
        sizes.append(size)
        print(f"{name}\t{digest(report)}\t{ms:.1f}\t{calls[0]}\t{size}", flush=True)
    print(
        f"# {len(ms_all)} queries; ms p50 {statistics.median(ms_all):.1f} "
        f"p90 {pct(ms_all, 90):.1f} max {max(ms_all):.1f}; calls p50 "
        f"{statistics.median(calls_all):.0f} p90 {pct(calls_all, 90)} max {max(calls_all)}; "
        f"json_bytes max {max(sizes)}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
