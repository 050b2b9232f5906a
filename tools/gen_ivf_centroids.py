"""Regenerate spark_lineage_spark/operators/_ivf_centroids_sf001.py —
the pinned sf0.01 coarse-quantizer centroids that let llm_ann_ivf /
llm_ann_ivf_int8 carry a full DuckDB value-hash oracle (VERDICT r10
item 8).

The quantizer is bit-reproducible (deterministic stride-picked training
rows in one sorted partition + seeded KMeans — verified across fresh
JVMs), so training at the driver's correctness-contract SF (sf0.01)
yields one constant centroid table; this script trains once and writes
it as a generated module.  tests/test_llm_ops.py asserts the live-
trained digest still matches, so any pyspark/KMeans behavior drift is
caught locally before the driver sees a hash mismatch.

Usage: python tools/gen_ivf_centroids.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_lineage_spark", "operators", "_ivf_centroids_sf001.py",
)


def centroid_digest(cents: list[list[float]]) -> str:
    return hashlib.md5(repr(cents).encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from spark_lineage_spark.operators import similarity as S
    from spark_lineage_spark.session import build_spark

    spark = build_spark("sls_gen_ivf", cpus=8)
    model = S._ivf_model(spark, args.sf)
    cents = [[float(x) for x in c] for c in model.clusterCenters()]
    spark.stop()

    lines = [
        '"""GENERATED by tools/gen_ivf_centroids.py — do not edit.',
        "",
        "Pinned sf0.01 IVF coarse-quantizer centroids (seeded KMeans over",
        "the deterministic training slice; bit-reproducible across JVMs).",
        "Used only to render the DuckDB oracles for llm_ann_ivf and",
        'llm_ann_ivf_int8 at the driver\'s correctness-contract SF."""',
        "",
        f"IVF_CENTROIDS_SF001: list[list[float]] = [",
    ]
    for c in cents:
        lines.append("    [" + ", ".join(repr(x) for x in c) + "],")
    lines.append("]")
    lines.append("")
    lines.append(f'IVF_CENTROIDS_SF001_DIGEST = "{centroid_digest(cents)}"')
    lines.append("")
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}: k={len(cents)} dim={len(cents[0])} digest={centroid_digest(cents)}")


if __name__ == "__main__":
    main()
