"""kg_small_batch: back-to-back KB builds over a few hundred distinct
files each, the daily-increment shape.

``run_call`` mirrors ``tools/submit_pipeline.py --corpus --checkpoint
--asset-store``: read the Parquet corpus table, call ``run_pipeline``
with a checkpoint dir and the Parquet ``AssetStore``, then write
triples, kb_items and extraction metrics. ``traced_call`` is the same
dataflow composed layer by layer from the public functions that
``run_pipeline`` calls, each output forced to Parquet inside its own
span; a test pins that it writes the same triples as ``run_call``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from sling_spark.kg.assets import asset_store_future, build_asset_store, seed_dataframes
from sling_spark.kg.documents import doc_stats, latest_with_sha
from sling_spark.kg.materialize import extraction_metrics, write_triples
from sling_spark.kg.mentions import annotate, mentions_of, relations_of
from sling_spark.kg.pipeline import run_pipeline
from sling_spark.kg.reconcile import invert_statements, kb_triples, merge_items, reconcile_items
from sling_spark.kg.relations import doc_triples
from sling_spark.kg.xref import build_clusters, canonicalize, connected_components
from sling_spark.sources.readers import corpus_from_table

from . import checks, inputs

LAYERS = [
    "sources.corpus_table",
    "kg.documents.latest_with_sha",
    "kg.documents.doc_stats",
    "kg.assets.kb_writes",
    "kg.assets.idf",
    "kg.mentions.annotate",
    "kg.xref.build_clusters",
    "kg.reconcile.merge_items",
    "kg.relations.doc_triples",
    "kg.materialize.write_triples",
    "kg.materialize.extraction_metrics",
]
PY_LAYERS = {"kg.documents.doc_stats", "kg.assets.kb_writes",
             "kg.mentions.annotate", "kg.reconcile.merge_items"}


def read_corpus(spark, table: str):
    return corpus_from_table(spark.read.parquet(table)).drop("content_sha")


def run_call(spark, table: str, work: str) -> tuple[float, float]:
    """One production-shaped build; returns the (start, end) times of
    the ``run_pipeline`` call inside it."""
    corpus = read_corpus(spark, table)
    t0 = time.time()
    res = run_pipeline(spark, corpus=corpus, checkpoint_dir=f"{work}/ckpt",
                       asset_store_dir=f"{work}/assets")
    t1 = time.time()
    write_triples(res["triples"], f"{work}/out/triples")
    res["kb_items"].write.mode("overwrite").parquet(f"{work}/out/kb_items")
    extraction_metrics(res["doc_stats"], res["mentions"], res["relations"]) \
        .write.mode("overwrite").parquet(f"{work}/out/metrics")
    return t0, t1


def traced_call(spark, table: str, work: str, tracer) -> int:
    """``run_call`` as serial layers. Returns the CC rounds that
    ``build_clusters`` ran (0 when it takes its driver union-find)."""
    ckpt, store, out = f"{work}/ckpt", f"{work}/assets", f"{work}/out"

    def force(df, name):
        df.write.mode("overwrite").parquet(f"{ckpt}/{name}")
        return spark.read.parquet(f"{ckpt}/{name}")

    with tracer.layer("sources.corpus_table"):
        corpus = force(read_corpus(spark, table), "corpus")
    with tracer.layer("kg.documents.latest_with_sha"):
        documents = force(latest_with_sha(corpus), "documents")
    with tracer.layer("kg.documents.doc_stats"):
        stats = force(doc_stats(documents), "doc_stats")
    with tracer.layer("kg.assets.kb_writes"):
        seed = seed_dataframes(spark)
        store_future = asset_store_future(spark, seed, store)
        for f in store_future["writes"]:
            f.result()
    with tracer.layer("kg.assets.idf"):
        assets_bc, _ = build_asset_store(spark, stats, store, seed, store_future=store_future)
    with tracer.layer("kg.mentions.annotate"):
        annotations = force(annotate(documents, assets_bc), "annotations")
    with tracer.layer("kg.xref.build_clusters"):
        connected_components.last_rounds = 0
        clusters = force(build_clusters(seed["same_as"]), "clusters")
        rounds = connected_components.last_rounds
    with tracer.layer("kg.reconcile.merge_items"):
        kb_sources = seed["items"].withColumn("source_priority", F.lit(0)) \
            .unionByName(seed["fragments"])
        all_items = kb_sources.unionByName(invert_statements(kb_sources),
                                           allowMissingColumns=True)
        merged = force(merge_items(reconcile_items(all_items, clusters)), "kb_items")
    with tracer.layer("kg.relations.doc_triples"):
        relations = relations_of(annotations)
        doc_t = canonicalize(doc_triples(relations), clusters, "subj")
        doc_t = canonicalize(doc_t, clusters, "obj")
        triples = force(doc_t.unionByName(kb_triples(merged)), "triples")
    with tracer.layer("kg.materialize.write_triples"):
        write_triples(triples, f"{out}/triples")
    with tracer.layer("kg.materialize.extraction_metrics"):
        merged.write.mode("overwrite").parquet(f"{out}/kb_items")
        extraction_metrics(stats, mentions_of(annotations), relations) \
            .write.mode("overwrite").parquet(f"{out}/metrics")
    return rounds


class KgSmallBatch:
    """Table k holds batch k of ``batch_files`` distinct files; pass 0
    is the warm-up."""

    name = "kg_small_batch"
    py_layers = PY_LAYERS
    batch_files = 300
    warmups = 1
    min_passes = 1

    def __init__(self, work: str, seed: int, n_tables: int):
        self.work = work
        self.rows: list[list[dict]] = []
        self.tables: list[str] = []
        for k, window in enumerate(inputs.kg_windows(seed, n_tables, self.batch_files)):
            rows = inputs.kg_rows(window)
            path = os.path.join(work, f"table{k}.parquet")
            inputs.write_table(rows, path)
            self.rows.append(rows)
            self.tables.append(path)
        self.n_triples: list[int] = []

    def pass_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def docs(self, i: int) -> int:
        return len(self.rows[i])

    def run(self, spark, i: int) -> tuple[float, float]:
        return run_call(spark, self.tables[i], self.pass_dir(i))

    def traced(self, spark, i: int, tracer) -> dict[str, float]:
        return {"kg.xref.build_clusters.rounds": traced_call(spark, self.tables[i], self.pass_dir(i), tracer)}

    def check(self, i: int) -> float:
        pred = checks.read_triples(f"{self.pass_dir(i)}/out/triples")
        self.n_triples.append(len(pred))
        return checks.kg_score(pred, checks.oracle_triples(self.rows[i]))

    def context(self) -> dict:
        return {"batch_rows": [len(r) for r in self.rows], "triples": self.n_triples}
