"""Driver cost of the nearest-cell column as the codebook grows.

For each K, times three things on one warm session, for
``operators/similarity.py:nearest_cells`` (the centers ride as one
folded ``from_json`` literal) and for the per-component literal tree it
replaced (one ``F.lit`` per center component, rebuilt inline here as
the reference):

- build: constructing the Column in Python (py4j calls);
- plan: analysis, optimization and physical planning of
  ``select(vec_id, slice(col, 1, 4))`` over the embeddings;
- run: collecting that projection (the interpreted per-row folds).

It then checks that both forms give bit-equal sorted top-4
``(dist, cell)`` arrays for every vector.

Usage: python scripts/nearest_cells_bench.py --sf DIR [--k 16,256,1024]
       [--dim 64]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vspace_spark.functions.vectors import sq_dist  # noqa: E402
from vspace_spark.io.tables import load_table  # noqa: E402
from vspace_spark.operators.similarity import (  # noqa: E402
    nearest_cells,
    portable_hyperplanes,
)
from vspace_spark.session import get_spark  # noqa: E402


def literal_tree(vec, centers):
    """The replaced form: one literal array per center, K structs."""
    return F.array_sort(
        F.array(
            *[
                F.struct(
                    sq_dist(vec, F.array(*[F.lit(float(x)) for x in c])).alias(
                        "dist"
                    ),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(centers)
            ]
        )
    )


def measure(emb, form, centers):
    t0 = time.perf_counter()
    col = form(F.col("embedding"), centers)
    t1 = time.perf_counter()
    df = emb.select("vec_id", F.slice(col, 1, 4).alias("top4"))
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    rows = {r["vec_id"]: [tuple(s) for s in r["top4"]] for r in df.collect()}
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--k", default="16,256,1024")
    ap.add_argument("--dim", type=int, default=64)
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf (or SPARK_GRAFT_SF_DIR) is required")

    spark = get_spark("nearest-cells-bench")
    emb = load_table(spark, args.sf, "embeddings").cache()
    n = emb.count()
    # warm-up: JIT and py4j paths of both forms on a small codebook
    for form in (nearest_cells, literal_tree):
        measure(emb, form, portable_hyperplanes(args.dim, 4, salt="c"))

    print(f"{n} vectors, dim {args.dim}")
    print("K      form         build_s  plan_s  run_s   top4")
    failed = False
    for k in (int(x) for x in args.k.split(",")):
        centers = portable_hyperplanes(args.dim, k, salt="c")
        b, p, r, new = measure(emb, nearest_cells, centers)
        print(f"{k:<6} folded       {b:7.2f} {p:7.2f} {r:6.2f}")
        b, p, r, old = measure(emb, literal_tree, centers)
        same = old == new
        failed |= not same
        print(
            f"{k:<6} literal tree {b:7.2f} {p:7.2f} {r:6.2f}   "
            f"{'bit-equal' if same else 'DIFFERENT'}"
        )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
