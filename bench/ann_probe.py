"""IVF ANN scale probe: the similarity path two orders of magnitude above
the sf tables.

Deterministic corpus (hash-derived vectors, no RNG): n vectors, dim 64.
Times the two cell-assignment kernels side by side over the full corpus,
at k=64 and k=256, best-of-3 interleaved:

- `ivf_assign` (Arrow mapInPandas, fold-exact cosine): the ORACLE-exact
  kernel every query path uses — the left-fold accumulation is bit-
  identical to the JVM/DuckDB fold, one numpy pass per dimension.
- `ivf_assign_vectorized` (Arrow pandas UDF, one BLAS matmul per batch):
  the k-means TRAINING kernel.

plus their argmax agreement at each k, and one Lloyd round of
`train_ivf_centroids` at k=64 (BLAS assign + 64 avg aggregates).

Run:  SPARK_GRAFT_DRIVER_MEM=4g python -m bench.ann_probe [n_vectors]
Prints one PROBE_RESULT json line; numbers live in BENCH/NOTES.md.
"""

from __future__ import annotations

import json
import sys
import time


def synth_vectors(spark, n: int, dim: int = 64):
    from pyspark.sql import functions as F

    v = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.hash(F.col("vec_id") * 97 + j), F.lit(2001)) - 1000)
        / F.lit(1000.0),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), v.alias("embedding"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    from pyspark.sql import functions as F

    from logspark.operators import similarity
    from logspark.queries import ensure_workers
    from logspark.session import get_spark

    spark = get_spark(app_name="ann-probe")
    ensure_workers(spark)
    emb = synth_vectors(spark, n).repartition(64).localCheckpoint(eager=True)
    out: dict = {"n_vectors": n, "dim": 64}

    kernels = (("fold_exact", similarity.ivf_assign), ("blas", similarity.ivf_assign_vectorized))
    for k in (64, 256):
        cents = similarity.head_centroids(emb, k).localCheckpoint(eager=True)
        runs: dict[str, list[float]] = {name: [] for name, _ in kernels}
        for _ in range(3):
            for name, assign in kernels:
                t0 = time.time()
                assign(emb, cents).groupBy("cell").count().count()
                runs[name].append(round(time.time() - t0, 2))
        for name, r in runs.items():
            out[f"{name}_assign_k{k}_runs_s"] = r
            out[f"{name}_assign_k{k}_s"] = min(r)
        a = similarity.ivf_assign(emb, cents).select("vec_id", "cell")
        b = similarity.ivf_assign_vectorized(emb, cents).select(
            "vec_id", F.col("cell").alias("cell_b")
        )
        agree = a.join(b, "vec_id").agg(F.avg((F.col("cell") == F.col("cell_b")).cast("double")))
        out[f"fold_exact_vs_blas_agreement_k{k}"] = round(agree.first()[0], 6)
        if k == 64:
            counts = b.groupBy("cell_b").count()
            row = counts.agg(
                F.count(F.lit(1)).alias("n"), F.max("count").alias("mx"), F.min("count").alias("mn")
            ).first()
            out["nonempty_cells_k64"] = row["n"]
            out["cell_balance_max_over_min_k64"] = round(row["mx"] / max(row["mn"], 1), 1)

    t0 = time.time()
    similarity.train_ivf_centroids(emb, 64, n_iter=1).count()
    out["kmeans_one_round_k64_s"] = round(time.time() - t0, 2)

    print("PROBE_RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
