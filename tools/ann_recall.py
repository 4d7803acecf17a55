"""Measure ANN recall@k vs the exact cosine top-k baseline, for the
STAND-IN codebooks (lowest-id vectors, rounds 7-8) vs the K-MEANS-FITTED
codebooks (round 9) — the number the round-8 verdict asked to see before
and after wiring trained centroids into IVF and PQ.

Recall is averaged over ``--n-queries`` query vectors (each corpus
vector in turn plays the query, like a retrieval-eval harness would).
Results are printed as one JSON line; the round's numbers are recorded
in SCALE.md §Round 9.

Usage: python tools/ann_recall.py [--sf-dir /root/testdata/sf0.01]
                                  [--k 10] [--n-queries 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=20)
    ap.add_argument(
        "--drift",
        action="store_true",
        help="also measure the 25%%-append stale-codebook drift case "
        "and the post-retrain recovery on a persisted IVF×PQ index",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("ann-recall")
        .config("spark.sql.shuffle.partitions", "8")
        # ~240 probes' worth of literal-laden ADC plans accumulate in
        # the driver JVM over a full sweep; the 1g default heap OOMs
        # partway through the drift section
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from nyc_taxi_etl_pyspark_spark.operators.similarity import (
        brute_force_topk_cosine,
        ivf_topk_cosine,
        ivfpq_encode,
        ivfpq_topk_cosine,
        ivfpq_train,
        kmeans_centroids,
        pq_seed_codebooks,
        pq_topk_cosine,
        pq_train_codebooks,
    )

    e = spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet"))
    e = e.select("vec_id", "embedding").persist()
    n = e.count()
    # query ids drawn from the ACTUAL key values (hash-ordered — a
    # deterministic uniform draw), never by position: vec_id need not
    # be dense 0..n-1, and a missing id would make the exact baseline
    # empty (division by zero after minutes of Spark work)
    query_ids = [
        r["vec_id"]
        for r in e.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(args.n_queries)
        .collect()
    ]

    # codebooks computed ONCE per variant (a real deployment trains
    # offline and serves many queries — per-query training would
    # charge the fit to every probe)
    standin_cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    trained_cents = kmeans_centroids(e, "vec_id", "embedding", k=16)
    standin_books = pq_seed_codebooks(e, "vec_id", "embedding")
    trained_books = pq_train_codebooks(e, "vec_id", "embedding")
    ivfpq_trained = ivfpq_train(e, "vec_id", "embedding")
    # encode ONCE (a deployment encodes once, probes many times)
    ivfpq_enc = ivfpq_encode(
        e, ivfpq_trained[0], ivfpq_trained[1], "vec_id", "embedding"
    ).persist()
    ivfpq_enc.count()

    def ids(df) -> set:
        return {r[0] for r in df.collect()}

    sums = {"ivf_standin": 0.0, "ivf_trained": 0.0,
            "pq_standin": 0.0, "pq_trained": 0.0,
            "ivfpq_composed": 0.0}
    for qid in query_ids:
        q = e.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("query_embedding")
        )
        exact = ids(
            brute_force_topk_cosine(e, q, "vec_id", "embedding", k=args.k)
        )
        variants = {
            "ivf_standin": ivf_topk_cosine(
                e, standin_cents, q, "vec_id", "embedding",
                k=args.k, n_probe=4,
            ),
            "ivf_trained": ivf_topk_cosine(
                e, trained_cents, q, "vec_id", "embedding",
                k=args.k, n_probe=4,
            ),
            "pq_standin": pq_topk_cosine(
                e, q, "vec_id", "embedding", k=args.k,
                codebooks=standin_books,
            ),
            "pq_trained": pq_topk_cosine(
                e, q, "vec_id", "embedding", k=args.k,
                codebooks=trained_books,
            ),
            "ivfpq_composed": ivfpq_topk_cosine(
                e, q, "vec_id", "embedding", k=args.k,
                trained=ivfpq_trained, encoded=ivfpq_enc,
            ),
        }
        for name, df in variants.items():
            sums[name] += len(exact & ids(df)) / len(exact)
        print(f"# qid={qid} done", file=sys.stderr)

    out = {
        "sf_dir": args.sf_dir,
        "k": args.k,
        "n_queries": args.n_queries,
        "recall": {k: round(v / args.n_queries, 4) for k, v in sums.items()},
    }

    if args.drift:
        # append-maintenance drift (round-12 verdict ask): index 80% of
        # the corpus, append the remaining 25%-of-base under the STALE
        # quantizer, measure recall@k over the FULL corpus, re-train,
        # re-measure. The committed numbers make the re-train trigger
        # (~25% appended) an evidence-backed default, not a guess.
        import tempfile

        from nyc_taxi_etl_pyspark_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_append,
            ivfpq_index_maintain,
            ivfpq_index_probe,
        )
        from nyc_taxi_etl_pyspark_spark.sources.txtable import (
            TransactionalTable,
        )

        cut = e.approxQuantile("vec_id", [0.8], 0.0)[0]
        base = e.where(F.col("vec_id") < cut)
        extra = e.where(F.col("vec_id") >= cut)
        t = TransactionalTable(tempfile.mkdtemp(prefix="ann_drift_"))
        build_ivfpq_index(
            t, base, id_col="vec_id", vec_col="embedding"
        )
        ivfpq_index_append(spark, t, extra, "vec_id", "embedding")

        def probe_recall() -> float:
            tot = 0.0
            for qid in query_ids:
                q = e.filter(F.col("vec_id") == qid).select(
                    F.col("embedding").alias("query_embedding")
                )
                exact = ids(
                    brute_force_topk_cosine(
                        e, q, "vec_id", "embedding", k=args.k
                    )
                )
                got = ids(
                    ivfpq_index_probe(
                        spark, t, q,
                        id_col="vec_id", vec_col="embedding", k=args.k,
                    )
                )
                tot += len(exact & got) / len(exact)
            return round(tot / len(query_ids), 4)

        drifted = probe_recall()
        # the WIRED trigger (round-13): maintain measures the appended
        # fraction from manifest metadata alone and must fire the
        # retrain itself at >= 25% appended — no operator in the loop
        report = ivfpq_index_maintain(spark, t, "vec_id", "embedding")
        retrained = probe_recall()
        out["drift_25pct_append"] = {
            "base_rows": base.count(),
            "appended_rows": extra.count(),
            "recall_stale_codebooks": drifted,
            "recall_after_retrain": retrained,
            "maintain_fired": report["retrained"],
            "maintain_append_fraction": round(
                report["append_fraction"], 4
            ),
            "retrain_trigger": "ivfpq_index_maintain (wired r13): "
            "appends since last training commit >= 25% of indexed "
            "corpus -> automatic full-replace retrain, shape preserved "
            "from manifest meta, history time-travelable",
        }
        if not report["retrained"]:
            print(
                "GATE FAIL: maintain did not fire past 25% appends",
                file=sys.stderr,
            )
            return 1

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
