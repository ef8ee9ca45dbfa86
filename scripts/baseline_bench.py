"""Baseline-comparable throughput measurement (BASELINE.md).

The reference's published numbers are end-to-end hours for: vocabulary
build → corpus n-gram counting (max n = 6, vocabulary-gated) → metadata
joins → global + per-source term statistics, on an N-GB text corpus
(4 executors × 8 cores). This script runs ``bench.py``'s
``baseline_gb_per_hour`` — the same pipeline shape over the sf0.1
documents table replicated to the requested uncompressed-text size —
and prints its record as one JSON line.

Setup (corpus materialization) is untimed — the reference's clock also
starts from on-disk input. Usage:

    python scripts/baseline_bench.py [target_gb]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import baseline_gb_per_hour
from vspace_spark.session import get_spark


def main() -> None:
    target_gb = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("baseline-bench")
    record = baseline_gb_per_hour(spark, sf_dir, target_gb)
    print(json.dumps({"metric": "baseline_pipeline_gb_per_hour", **record}))
    spark.stop()


if __name__ == "__main__":
    main()
