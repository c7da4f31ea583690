"""spark-submit entrypoint for the KG-construction pipeline.

Cluster deployment (north rule: `spark-submit --py-files` on a
multi-executor cluster):

    zip -r sling_spark.zip sling_spark
    spark-submit --py-files sling_spark.zip tools/submit_pipeline.py \
        --corpus s3://bucket/corpus/ --output s3://bucket/kb/ \
        --checkpoint s3://bucket/ckpt/ [--n-files 200000]

With ``--corpus`` the input is a Parquet/Iceberg table with columns
(repo, path, commit, lang, content) — BASELINE.json's input_hint shape,
validated by sources.readers.corpus_from_table. Without it, the
deterministic synthetic corpus is generated at ``--n-files`` scale
(inside executors — nothing materializes on the driver).

Outputs under --output: triples/ (bucketed by subject, partitioned by
source), kb_items/, metrics/ (per-repo extraction counters). Resumable:
re-running with the same --checkpoint resumes from the last completed
stage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="path to a (repo,path,commit,lang,content) table")
    ap.add_argument("--n-files", type=int, default=10000,
                    help="synthetic corpus size when --corpus is absent")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--asset-store", default=None,
                    help="worker-visible dir for the Parquet annotator "
                         "assets each worker loads lazily (default: "
                         "<checkpoint>/assets; without --checkpoint, a "
                         "temp dir on a local master)")
    args = ap.parse_args()

    from sling_spark.kg.materialize import (
        counter_invariants,
        extraction_metrics,
        write_triples,
    )
    from sling_spark.kg.pipeline import run_pipeline
    from sling_spark.session import get_spark
    from sling_spark.sources.readers import corpus_from_table

    spark = get_spark(master=args.master, app_name="sling_spark_pipeline")
    t0 = time.time()

    corpus = None
    if args.corpus:
        corpus = corpus_from_table(spark.read.parquet(args.corpus)).drop("content_sha")

    res = run_pipeline(
        spark,
        n_files=args.n_files,
        corpus=corpus,
        checkpoint_dir=args.checkpoint,
        partitions=args.partitions,
        asset_store_dir=args.asset_store,
    )
    write_triples(res["triples"], f"{args.output}/triples")
    res["kb_items"].write.mode("overwrite").parquet(f"{args.output}/kb_items")
    # delta-maintenance inputs (tools/apply_delta.py): the raw source
    # rows and the cluster map this build fused from
    res["kb_sources"].write.mode("overwrite").parquet(f"{args.output}/sources")
    res["clusters"].write.mode("overwrite").parquet(f"{args.output}/clusters")
    metrics = extraction_metrics(res["doc_stats"], res["mentions"], res["relations"])
    metrics.write.mode("overwrite").parquet(f"{args.output}/metrics")

    counters = counter_invariants(metrics)
    counters["n_triples"] = spark.read.parquet(f"{args.output}/triples").count()
    counters["wall_sec"] = round(time.time() - t0, 2)
    counters["triples_per_sec"] = round(counters["n_triples"] / counters["wall_sec"], 1)
    print(json.dumps(counters))


if __name__ == "__main__":
    main()
