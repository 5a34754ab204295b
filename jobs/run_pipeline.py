"""spark-submit entry point for the KG-construction pipeline.

North-rule deployment shape: the package ships as a ``--py-files`` zip
and this driver script runs the end-to-end job on a multi-executor
cluster::

    python jobs/make_pyfiles.py dist/kgengine.zip
    spark-submit --master <cluster> --py-files dist/kgengine.zip \
        jobs/run_pipeline.py --sf-dir /data/transcripts \
        --output /warehouse/kg --checkpoints /warehouse/stages

In-sandbox ``--master local[N]`` stands in for the cluster; the same
invocation works unchanged against YARN/K8s because nothing below
touches local state except through Spark APIs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from cross_sentence_relation_extraction_idepnn_spark.config import MAX_K, SCORE_THRESHOLD


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", required=True, help="input table directory")
    p.add_argument("--output", required=True, help="KG output path")
    p.add_argument("--checkpoints", default=None, help="resumable stage warehouse")
    p.add_argument("--threshold", type=float, default=SCORE_THRESHOLD)
    p.add_argument("--max-k", type=int, default=MAX_K)
    p.add_argument("--buckets", type=int, default=16)
    args = p.parse_args(argv)

    # imports resolved from the --py-files zip on executors
    from pyspark.sql import SparkSession

    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.standoff import (
        write_triples,
    )

    spark = SparkSession.builder.appName("kg_construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    kg = materialize_kg(
        spark,
        args.sf_dir,
        warehouse=args.checkpoints,
        threshold=args.threshold,
        max_k=args.max_k,
    )
    out = write_triples(kg, args.output, n_buckets=args.buckets)
    n = out.count()
    print(
        json.dumps(
            {
                "job": "kg_construct",
                "sf_dir": args.sf_dir,
                "output": args.output,
                "triples": n,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
