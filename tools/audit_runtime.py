"""Run EVERY registered query once at a given scale (default sf0.1)
and write AUDIT.md: per-query wall time + result rows.

This is the scale self-audit behind "would this still work at 100 TB":
the oracle gate runs at sf0.01, so a hidden quadratic (all-pairs join,
unbounded candidate set) could pass correctness and still be unusable
one order of magnitude up. Here every operator must complete at sf0.1
in seconds, and the table makes regressions diffable round-over-round.

Usage: python tools/audit_runtime.py [--sf DIR] [--cpus N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--cpus", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
    )
    args = ap.parse_args()

    from spark_lineage_spark.registry import load_all
    from spark_lineage_spark.session import build_spark

    specs = load_all()
    spark = build_spark(
        "sls_audit", cpus=args.cpus, extra_confs={"spark.ui.showConsoleProgress": "false"}
    )
    # warm the JVM/codegen so query 1 isn't charged session startup
    specs["flagship_pricing_join"].builder(spark, "/root/testdata/sf0.001").count()

    rows = []
    t_all = time.time()
    for qi, (name, spec) in enumerate(sorted(specs.items())):
        if qi % 20 == 19:
            # release dead localCheckpoint blocks between queries so a
            # GC storm doesn't land inside someone's timed run
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        # best-of-2: this VM's wall clock sees host-level CPU steal and
        # GC spikes that can 10× a single run; the min of two runs is
        # the reproducible cost of the plan itself.
        best, n, err = None, -1, ""
        for _ in range(2):
            t0 = time.time()
            try:
                n = spec.builder(spark, args.sf).count()
                dt = time.time() - t0
            except Exception as e:  # keep auditing; record the failure
                dt, n, err = time.time() - t0, -1, type(e).__name__
            best = dt if best is None else min(best, dt)
        rows.append((name, best, n, err))
        print(f"{rows[-1][1]:7.2f}s  {name}  rows={rows[-1][2]} {rows[-1][3]}", flush=True)
    total = time.time() - t_all

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "AUDIT.md")
    with open(out, "w") as fh:
        fh.write("# AUDIT — full-registry runtime at scale\n\n")
        fh.write(
            f"Every registered query once at `{args.sf}` on local[{args.cpus}]"
            f" (best of 2 per query, warm session). Total {total:.1f} s for"
            f" {len(rows)} queries. Generated by `tools/audit_runtime.py`.\n\n"
        )
        fh.write("| query | sec | rows |\n|---|---|---|\n")
        for name, sec, n, err in sorted(rows, key=lambda r: -r[1]):
            mark = f" **{err}**" if err else ""
            fh.write(f"| {name} | {sec:.2f} | {n}{mark} |\n")
    n_fail = sum(1 for r in rows if r[3])
    print(f"\nwrote {out}: {len(rows)} queries, {total:.1f}s total, {n_fail} failures")


if __name__ == "__main__":
    main()
