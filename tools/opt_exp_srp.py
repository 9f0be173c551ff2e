"""Round-13 in-session A/B: checkpoint-vs-recompute for the SRP /
cohesion / simhash-pairs shapes. Variants interleaved A B A B."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def t(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def srp_cert(spark, sf_dir, ckpt: bool):
    from mrtweety_analytic_spark.operators.dedup import (
        SRP_COS_THRESHOLD,
        _embedding_pairs_blocked,
        _srp_candidates,
    )
    from mrtweety_analytic_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _embedding_pairs_blocked(
        spark, sf_dir, SRP_COS_THRESHOLD
    ).select("vec_a", "vec_b")
    cand = _srp_candidates(spark, sf_dir)
    if ckpt:
        exact = exact.localCheckpoint(eager=False)
        cand = cand.localCheckpoint(eager=False)
    n = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    ce = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    cc = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    fo = exact.join(cand, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return (
        n.crossJoin(F.broadcast(ce))
        .crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(fo))
    )


def cohesion(spark, sf_dir, new: bool):
    from mrtweety_analytic_spark.operators.dedup import (
        min_label_propagate,
        q_dedup_embedding,
    )

    if new:
        pairs0 = (
            q_dedup_embedding(spark, sf_dir)
            .select("vec_a", "vec_b")
            .localCheckpoint()
        )
        labels = min_label_propagate(
            pairs0.select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
            ),
            20,
        )
        direct_src = pairs0
    else:
        labels = min_label_propagate(
            q_dedup_embedding(spark, sf_dir).select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
            ),
            20,
        )
        direct_src = q_dedup_embedding(spark, sf_dir).select(
            "vec_a", "vec_b"
        )
    clusters = labels.select(
        F.col("doc").alias("vec_id"), F.col("label").alias("cluster_id")
    )
    x = clusters.select(
        F.col("vec_id").alias("doc_a"), F.col("cluster_id").alias("ca")
    )
    y = clusters.select(
        F.col("vec_id").alias("doc_b"), F.col("cluster_id").alias("cb")
    )
    mates = x.join(
        y,
        (F.col("ca") == F.col("cb")) & (F.col("doc_a") < F.col("doc_b")),
    ).select("doc_a", "doc_b")
    direct = direct_src.select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.lit(1).alias("hit"),
    )
    probed = mates.join(direct, ["doc_a", "doc_b"], "left")
    return probed.agg(
        F.count(F.lit(1)).alias("n_mate_pairs"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_direct"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from mrtweety_analytic_spark.queries import QUERIES
    from mrtweety_analytic_spark.session import get_spark

    spark = get_spark("opt-exp-srp")
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(1_000_000)
        .groupBy((F.col("id") % 101).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )

    def _py_warm(it):
        import numpy as np  # noqa: F401

        for pdf in it:
            yield pdf

    (
        spark.range(100_000)
        .selectExpr("id", "cast(id as double) AS v")
        .mapInPandas(_py_warm, "id long, v double")
        .write.format("noop").mode("overwrite").save()
    )
    QUERIES["q_scan_parquet"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for rep in range(3):
        r = {
            "cert_nockpt": t(srp_cert(spark, sf_dir, False)),
            "cert_ckpt": t(srp_cert(spark, sf_dir, True)),
            "coh_old": None,
            "coh_new": None,
        }
        t0 = time.time()
        t(cohesion(spark, sf_dir, False))
        r["coh_old"] = round(time.time() - t0, 3)
        t0 = time.time()
        t(cohesion(spark, sf_dir, True))
        r["coh_new"] = round(time.time() - t0, 3)
        print("rep", rep, r, flush=True)


if __name__ == "__main__":
    main()
