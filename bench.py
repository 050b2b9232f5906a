"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Method (BASELINE.md + VERDICT r6 item 3): warm session; N_PASSES full
passes over the headline list INTERLEAVED (pass 1 runs every query,
then pass 2, ...), per-query median across passes, with a noop-sink
action so every column is materialized (a bare count() would let
Catalyst prune the computed columns away). Interleaving means a
transient contended window inflates at most one pass of each query,
and the median discards it — sequential best-of-2 let one bad window
swing the official total ±15% (round 6). The per-query minima are
also reported (key "best") for continuity with the pre-round-7
best-of-2 numbers.

Round 9: N_PASSES 3 → 5 (a median of 5 survives TWO stalled passes;
round 8's official total inflated 1.76× with per-query medians up to
9× their minima — multi-second host stalls hit 2 of 3 passes) and the
JSON now carries a CPU CALIBRATION block ("cal_1t_ms" single-thread,
"cal_mt_ms" per-proc under full 32-way load, before/after the run).
Measured on this host: single-thread bursts run 1.5-2.5× slower than
sustained parallel load (host-side clock behavior, steal≈0) — exactly
the shape of Spark driver-side coordination — so the calibration
numbers let any reader separate engine regressions from host state:
if value inflates while cal_1t_ms also inflates, it's the box.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_lineage_spark.registry import load_all
from spark_lineage_spark.session import build_spark

# Representative headline set: relational core, joins, windows,
# streaming, and every LLM-pipeline op family (SURVEY.md §6/§2.11).
HEADLINE = [
    "tpch_q1_style_full",
    "tpch_q5_style_regional_volume",
    "flagship_pricing_join",
    "join_inner_equi",
    "join_asof",
    "agg_rollup",
    "agg_count_distinct",
    "win_ranking",
    "fn_string_battery",
    "llm_dedup_exact",
    "llm_text_quality",
    "llm_text_fingerprint",
    "llm_knn_cosine_exact",
    "llm_dedup_minhash_lsh",
    "stream_tumbling_window",
]

N_PASSES = 5

# Storm-trigger thresholds (see _storm_extra_passes)
STEAL_STORM_TICKS = 1500
MED_SPREAD_STORM = 2.5
MAX_SPREAD_STORM = 3.0

# Round 15 (VERDICT r14 item 1, ADDITIONS ONLY — every pre-existing
# output field keeps its name and methodology): the r14 official run
# sat at steal_ticks 39 066 vs r13's 80, making 13 "regressions"
# unattributable to plans. The whole-run steal counter cannot say WHICH
# passes were stormy, so the harness now also records the steal delta
# around EACH pass and reports, alongside the unchanged medians, a
# median taken only over calm passes ("value_calm"/"queries_calm"):
# per-pass steal <= CALM_PASS_TICKS counts as calm; if fewer than
# MIN_CALM_PASSES qualify, the calmest MIN_CALM_PASSES passes are used
# so the field is always defined (its credibility is readable from
# "pass_steal" / "calm_pass_steal_max").
CALM_PASS_TICKS = 150
MIN_CALM_PASSES = 3


def _calm_pass_indices(pass_steal: list[int]) -> list[int]:
    """Indices of passes usable for the calm median: all passes at or
    under CALM_PASS_TICKS of steal if at least MIN_CALM_PASSES qualify,
    else the MIN_CALM_PASSES passes with the least steal (ties broken
    by pass order for determinism)."""
    calm = [i for i, s in enumerate(pass_steal) if 0 <= s <= CALM_PASS_TICKS]
    if len(calm) >= MIN_CALM_PASSES:
        return calm
    order = sorted(range(len(pass_steal)), key=lambda i: (pass_steal[i], i))
    return sorted(order[:MIN_CALM_PASSES])


def _storm_extra_passes(samples: dict[str, list[float]], steal_delta: int) -> int:
    """Decide whether the pass window was stormy (VERDICT r10 item 1).

    Three triggers, any one suffices:
    - hypervisor steal over the window (direct host-stall evidence);
    - the MEDIAN across queries of per-query max/min dispersion — a
      broad storm inflates most queries at once;
    - ANY single query's dispersion above MAX_SPREAD_STORM — a
      query-local stall (e.g. BENCH_r10's fn_string_battery at 5.65×
      while the across-query median stayed under 2.5) previously
      slipped through the median-only check and froze an inflated
      median into the official record.
    Returns the number of extra full passes to append (0 = calm).
    """
    spreads = [max(ts) / min(ts) for ts in samples.values() if ts and min(ts) > 0]
    if not spreads:
        return 0
    if (
        steal_delta > STEAL_STORM_TICKS
        or statistics.median(spreads) > MED_SPREAD_STORM
        or max(spreads) > MAX_SPREAD_STORM
    ):
        return 3
    return 0


def materialize(df) -> None:
    """Run the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _burn(_: int) -> float:
    t0 = time.time()
    s = 0
    for i in range(10**7):
        s += i * i
    return time.time() - t0


def calibrate() -> dict:
    """Host-state probe: ms for a fixed single-thread integer loop, and
    the same loop's per-process ms under full-width parallel load.
    On a healthy host the two are within ~1.2×; a cal_1t_ms much above
    cal_mt_ms means bursty single-thread work (Spark driver/py4j
    coordination) is running at a reduced clock and wall times are
    inflated for environmental, not engine, reasons."""
    import multiprocessing as mp

    one = min(_burn(0) for _ in range(3))
    n = os.cpu_count() or 8
    with mp.Pool(n) as pool:
        multi = statistics.median(pool.map(_burn, range(n)))
    return {"cal_1t_ms": round(one * 1000), "cal_mt_ms": round(multi * 1000)}


def _steal_ticks() -> int:
    """Hypervisor steal ticks (USER_HZ) from /proc/stat — the delta
    across the run is direct evidence of host-side stall episodes
    (observed: identical queries swinging 1.6 s ↔ 40 s while guest
    PSI stayed 0.00 and the steal counter jumped)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cal_before = calibrate()
    steal0 = _steal_ticks()
    specs = load_all()
    spark = build_spark("sls_bench")
    # JVM/codegen warm-up on a tiny query (not timed)
    materialize(specs["flagship_pricing_join"].builder(spark, "/root/testdata/sf0.001"))

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_steal: list[int] = []

    def run_pass() -> None:
        p0 = _steal_ticks()
        for name in HEADLINE:
            t0 = time.time()
            materialize(specs[name].builder(spark, sf_dir))
            samples[name].append(time.time() - t0)
        pass_steal.append(_steal_ticks() - p0)

    for _ in range(N_PASSES):
        run_pass()

    # Storm self-healing (VERDICT r9 item 5 + r10 item 1): if the
    # 5-pass window shows heavy hypervisor steal, broad max/min
    # dispersion, or even a single query-local stall, append extra
    # passes BEFORE taking medians — a median over 8 samples survives
    # 3 stalled passes, so a record taken in a bad window converges
    # back toward the plan's real cost instead of freezing the storm
    # into the official number.
    extra_passes = _storm_extra_passes(samples, _steal_ticks() - steal0)
    for _ in range(extra_passes):
        run_pass()

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    best = {name: round(min(ts), 3) for name, ts in samples.items()}
    spread = {name: round(max(ts) / min(ts), 2) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    calm_idx = _calm_pass_indices(pass_steal)
    queries_calm = {
        name: round(statistics.median([ts[i] for i in calm_idx]), 3)
        for name, ts in samples.items()
    }
    value_calm = round(sum(queries_calm.values()), 3)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base[2:]) if base.startswith("sf") else base
    except ValueError:
        sf = base  # non-numeric dir name: report it verbatim
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "best": best,
                "passes": N_PASSES + extra_passes,
                "extra_passes_storm": extra_passes,
                "spread": spread,
                "cal_before": cal_before,
                "cal_after": calibrate(),
                "steal_ticks": _steal_ticks() - steal0,
                # round-15 additions (storm-robust reporting; the
                # pre-existing fields above are untouched)
                "pass_steal": pass_steal,
                "calm_pass_count": len(calm_idx),
                "calm_pass_steal_max": max(pass_steal[i] for i in calm_idx),
                "queries_calm": queries_calm,
                "value_calm": value_calm,
                "sf": sf,
                # the effective core width the numbers were taken at
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
