"""End-to-end KG-construction pipeline with resumable checkpoints.

Stage DAG (SURVEY.md §7):

    corpus ─ documents(raw) ─┬─ doc_stats ─ idf ─┐
                             │                   ├─ mentions ─ relations ─ doc_triples
    seed KB ─ asset-store writes ────────────────┘  (the five corpus-    │
                   independent asset writes run on background job-       │
                   submitter threads, overlapping the corpus stages)     │
    seed same_as ─ xref clusters ──┬─ canonicalized triples ─────────────┤
    seed items + fragments ─ (+ inverse-property fragments)              │
                  ─ reconcile/merge ─ kb_items ─ kb_triples ─────────────┴─ triples
    (the seed-KB branch — clusters + reconcile/merge — also runs on its
    own job-submitter thread, overlapping the corpus stages: it is
    corpus-independent, and its dimension-sized shuffle stages cost the
    same at ANY corpus size / core count)

The seed KB is an Arrow ``LocalRelation`` (``session.local_frame``), so
its scans stay in the JVM, like SLING's frozen global store that every
worker reads as it is. Built from Python lists it was a pickled Python
RDD, and every scan started Python-worker tasks. In a traced 300-file
kgbench pass on 4 cores (``kg_small_batch``, seed 7) the three KB-only
layers (asset writes, xref clusters, reconcile/merge) now take 4.0 s
wall and 11.5 CPU-s, of which 0.9 s is Python; over pickled lists they
took 8.2 s, 26.9 CPU-s and 12.9 s.

(Synthetic, checkpoint-less runs replace the corpus→documents pair with
the zero-shuffle `synthetic_documents` generator. Annotator assets reach
the workers through the Parquet-backed AssetStore: see
assets.store_location for where it is written.)

Checkpointing (north rule "resumable from per-partition checkpoint"):
every materialized stage is written to ``<dir>/<stage>`` as Parquet; a
stage whose output already exists (Spark writes the _SUCCESS marker only
after ALL partitions commit — per-partition task commits + an atomic job
commit, the Iceberg-snapshot analog) is READ instead of recomputed, so a
killed run resumes from the last completed stage and reproduces an
identical result (determinism is tested). Lineage: every triple row
carries provenance (repo/path/commit/content_sha + span) per
BASELINE.json's sha256 invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.corpus import corpus_df
from .assets import (
    asset_store_future,
    build_asset_store,
    seed_dataframes,
    store_location,
)
from .documents import doc_stats, latest_with_sha
from .mentions import annotate, mentions_of, relations_of
from .reconcile import invert_statements, kb_triples, merge_items, reconcile_items
from .relations import doc_triples
from .xref import build_clusters, canonicalize


def _materialize(df, spark: SparkSession, path: str | None, name: str):
    """Write-once / read-back checkpoint. No path → pass through.
    ``df`` may be a DataFrame or a ZERO-ARG CALLABLE producing one —
    pass a thunk for stages whose construction itself runs Spark
    actions (build_clusters runs the CC/union-find eagerly), so a
    resume that finds the checkpoint never recomputes them.

    The ``_SUCCESS`` probe goes through the Hadoop FS API, not
    ``os.path.exists`` — the checkpoint dir may live on s3://, hdfs://,
    abfs://, …, where a driver-local probe is always False and every
    stage of a killed run would silently recompute instead of resuming
    (the delta-state pointer learned the same lesson, kg/delta.py)."""
    if path is None:
        return df() if callable(df) else df
    target = path.rstrip("/") + "/" + name
    from .delta import _hadoop_fs

    fs, _, jvm = _hadoop_fs(spark, target)
    success = jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
    if not fs.exists(success):
        out = df() if callable(df) else df
        out.write.mode("overwrite").parquet(target)
    return spark.read.parquet(target)


def run_pipeline(
    spark: SparkSession,
    n_files: int = 200,
    corpus: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
    seed: dict[str, DataFrame] | None = None,
    asset_store_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage output by name.

    ``seed`` injects a different KB (e.g. wikidata-importer output) in
    place of the seed fixtures; ``asset_store_dir`` is the worker-visible
    directory of the annotator asset store (default: beside the
    checkpoints, else a temp dir on a local master — see
    assets.store_location)."""
    seed = seed or seed_dataframes(spark)
    store_dir = store_location(spark, asset_store_dir, checkpoint_dir)
    # corpus-independent branches start immediately: their jobs
    # interleave with the corpus/documents/stats stages below (separate
    # job-submitter threads; Spark submission is thread-safe)
    store_future = asset_store_future(spark, seed, store_dir)

    # seed-KB fuse branch (xref clusters + reconcile/merge): everything
    # here derives from the seed KB only, yet as a serial tail it costs
    # the same at any corpus size or core count (a dozen dimension-sized
    # shuffle stages; 2.2 s wall / 5.7 CPU-s in a traced 4-core kgbench
    # pass, see the module docstring). Run it concurrently with the
    # corpus stages; the main thread joins right before the final union.
    from concurrent.futures import ThreadPoolExecutor

    def _kb_branch():
        clusters = _materialize(
            lambda: build_clusters(seed["same_as"]), spark, checkpoint_dir,
            "clusters",
        )
        if checkpoint_dir is None:
            clusters = clusters.persist()
        kb_sources = seed["items"].withColumn(
            "source_priority", F.lit(0)
        ).unionByName(seed["fragments"])
        all_items = kb_sources.unionByName(
            invert_statements(kb_sources), allowMissingColumns=True
        )
        merged = _materialize(
            merge_items(reconcile_items(all_items, clusters)),
            spark,
            checkpoint_dir,
            "kb_items",
        )
        if checkpoint_dir is None:
            merged = merged.persist()
            merged.count()  # force the fuse NOW, overlapping the corpus
        return clusters, kb_sources, merged

    kb_pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="kb-branch")
    kb_future = kb_pool.submit(_kb_branch)
    kb_pool.shutdown(wait=False)
    if corpus is None and checkpoint_dir is None:
        # synthetic corpus, no raw-corpus checkpoint requested: generate
        # the latest-version documents DIRECTLY (zero-shuffle; the
        # winner per file is deterministic — corpus.latest_rows). The
        # content never enters a shuffle, matching how a real run would
        # dedup on keys and re-read payloads from the table.
        from ..sources.corpus import synthetic_documents

        # the raw corpus stays available LAZILY (provenance/sha audits
        # recompute it on demand); the pipeline itself never runs it
        corpus = corpus_df(spark, n_files, partitions=partitions)
        documents = synthetic_documents(spark, n_files, partitions=partitions)
    else:
        if corpus is None:
            corpus = corpus_df(spark, n_files, partitions=partitions)
        corpus = _materialize(corpus, spark, checkpoint_dir, "corpus")

        # Raw layout (pure Catalyst: latest-version + sha) — content
        # never crosses Arrow OUT of Python; the tokenizing consumers
        # below read it.
        documents = _materialize(
            latest_with_sha(corpus), spark, checkpoint_dir, "documents"
        )
    if checkpoint_dir is None:
        # documents feeds the stats pass AND mention detection; without a
        # parquet checkpoint, cache to avoid recomputing latest-versions.
        documents = documents.persist()

    # One tokenize pass → per-doc stats (vocabulary-mapreduce shape):
    # feeds IDF (fp_unique) and extraction metrics (n_tokens).
    stats = _materialize(doc_stats(documents), spark, checkpoint_dir, "doc_stats")
    if checkpoint_dir is None:
        stats = stats.persist()

    assets_bc, phrase_table = build_asset_store(
        spark, stats, store_dir, seed, store_future=store_future
    )

    # ONE annotation pass emits mention + relation rows together (the
    # annotator-chain shape; relations are order-dependent within a
    # sentence, so they belong inside the per-document call). The
    # independent check is the pure-Python oracle (oracle/kg_oracle.py).
    annotations = _materialize(
        annotate(documents, assets_bc), spark, checkpoint_dir, "annotations"
    )
    if checkpoint_dir is None:
        annotations = annotations.persist()
    mentions = mentions_of(annotations)
    relations = relations_of(annotations)

    # join the seed-KB fuse branch (started at pipeline launch; see
    # _kb_branch above — clusters were materialized/persisted there, the
    # kb_sources shape is the delta-maintainer input contract, and the
    # inverse-property fragments joined the fuse like any other source
    # item fragment, reconciler.cc:97-273)
    clusters, kb_sources, merged = kb_future.result()

    # canonicalize document triples (subjects/objects are already Q-ids
    # from the phrase table, but alt-id fall-through costs nothing and
    # guards future corpus-derived ids)
    doc_t = doc_triples(relations)
    doc_t = canonicalize(doc_t, clusters, "subj")
    doc_t = canonicalize(doc_t, clusters, "obj")

    kb_t = kb_triples(merged)

    triples = _materialize(
        doc_t.unionByName(kb_t), spark, checkpoint_dir, "triples"
    )

    return {
        "corpus": corpus,
        "documents": documents,
        "doc_stats": stats,
        "phrase_table": phrase_table,
        "mentions": mentions,
        "relations": relations,
        "clusters": clusters,
        "kb_sources": kb_sources,
        "kb_items": merged,
        "triples": triples,
    }
