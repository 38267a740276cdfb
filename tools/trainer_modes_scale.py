"""Time the k-means trainer's exact-vs-banded assignment modes at
1x/3x/10x embedding replicas (k = ceil(n/64), the SemDeDup sizing) —
the measurement behind the r8 size gate (VERDICT r7 #4): the banded
mode's value claim (no k×dim broadcast per Lloyd round when k ∝ n)
should be demonstrated with numbers, not just plan-asserted.

Replicas come from tools/replica_scale.py's /tmp output (run it first
if missing). Writes nothing outside /tmp.
"""

from __future__ import annotations

import math
import os
import sys
import time

OUT = "/tmp/scale_r5_data"
SCALES = [1, 3, 10]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.similarity import kmeans_centroids
    from wq_data_pipeline_spark.plans.similarity import _KM_ITERS, _quantized
    from wq_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="trainer-modes")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{OUT}/x1/embeddings.parquet").write.format("noop").mode(
        "overwrite"
    ).save()

    results: dict[str, list[float]] = {"exact": [], "banded": []}
    for s in SCALES:
        emb = (
            spark.read.parquet(f"{OUT}/x{s}/embeddings.parquet")
            .select("vec_id", _quantized("embedding").alias("q"))
            .repartition(spark.sparkContext.defaultParallelism)
        )
        k = max(1, math.ceil(emb.count() / 64))
        for mode in ("exact", "banded"):
            t0 = time.time()
            cent = kmeans_centroids(
                emb,
                k=k,
                iters=_KM_ITERS,
                vec_col="q",
                assignment=mode,
                literal_centroids_max=0,
            )
            cent.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            results[mode].append(dt)
            print(f"x{s} k={k} {mode}: {dt:.1f}s", flush=True)

    xs = [math.log(s) for s in SCALES]
    mx = sum(xs) / len(xs)
    for mode, ts in results.items():
        ys = [math.log(t) for t in ts]
        my = sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(
            f"== trainer {mode}: {'/'.join(f'{t:.1f}' for t in ts)} s  "
            f"exponent={slope:.2f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
