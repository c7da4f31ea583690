"""corpus_qc: the near-duplicate keep-list chain
``shingles → minhash_signatures → lsh_candidate_pairs → jaccard_pairs →
dedup_clusters`` with bench.py's parameters, over a table of documents
plus planted mirrors and fork chains.

``run_chain`` is bench.py's chain, except that it writes the verified
pairs and the keep-list to Parquet (the outputs the check reads) instead
of counting them. ``traced_chain`` forces every stage's output to
Parquet inside its own span.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sling_spark.kg.xref import connected_components
from sling_spark.operators.dedup import (
    dedup_clusters,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)

from . import checks, inputs

LAYERS = [f"operators.dedup.{f}" for f in (
    "shingles", "minhash_signatures", "lsh_candidate_pairs", "jaccard_pairs", "dedup_clusters")]
PY_LAYERS: set[str] = set()  # the chain is JVM-only
NUM_HASHES, BANDS, ROWS_PER_BAND, MAX_BUCKET, MIN_JACCARD = 128, 16, 8, 64, 0.8


def read_docs(spark, table: str):
    return spark.read.parquet(table).select(
        F.concat_ws("/", "repo", "path").alias("doc_id"), F.col("content").alias("text"))


def run_chain(spark, table: str, out: str) -> None:
    sh = shingles(read_docs(spark, table), "doc_id", "text").persist()
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes=NUM_HASHES),
        bands=BANDS, rows_per_band=ROWS_PER_BAND, max_bucket=MAX_BUCKET,
    ).localCheckpoint()
    jaccard_pairs(sh, min_jaccard=MIN_JACCARD, candidates=cands) \
        .write.mode("overwrite").parquet(f"{out}/verified")
    dedup_clusters(spark.read.parquet(f"{out}/verified").select("doc_a", "doc_b")) \
        .write.mode("overwrite").parquet(f"{out}/clusters")
    sh.unpersist()


def traced_chain(spark, table: str, work: str, tracer) -> dict[str, float]:
    out = f"{work}/out"

    def force(df, path):
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    with tracer.layer("operators.dedup.shingles"):
        sh = force(shingles(read_docs(spark, table), "doc_id", "text"), f"{work}/shingles")
    with tracer.layer("operators.dedup.minhash_signatures"):
        sig = force(minhash_signatures(sh, num_hashes=NUM_HASHES), f"{work}/signatures")
    with tracer.layer("operators.dedup.lsh_candidate_pairs"):
        cands = force(lsh_candidate_pairs(sig, bands=BANDS, rows_per_band=ROWS_PER_BAND,
                                          max_bucket=MAX_BUCKET), f"{work}/candidates")
    with tracer.layer("operators.dedup.jaccard_pairs"):
        verified = force(jaccard_pairs(sh, min_jaccard=MIN_JACCARD, candidates=cands),
                         f"{out}/verified")
    with tracer.layer("operators.dedup.dedup_clusters"):
        connected_components.last_rounds = 0
        force(dedup_clusters(verified.select("doc_a", "doc_b")), f"{out}/clusters")
    return {"operators.dedup.dedup_clusters.rounds": connected_components.last_rounds}


class CorpusQc:
    """Every pass, the warm-up passes included, reads the same table of
    ``n_docs`` documents plus planted copies, so ``n_tables`` (the kg
    workload's batch count) goes unused. A pass is mostly fixed cost
    (about 8 s whatever the table size), and it keeps getting cheaper
    for about five passes in a fresh JVM (JIT): after one warm-up pass
    the next spends a third more CPU than the fourth. So two warm-up
    passes, then at least three timed passes, whose median keeps one
    slow pass out of the rates."""

    name = "corpus_qc"
    py_layers = PY_LAYERS
    n_docs = 600
    warmups = 2
    min_passes = 3

    def __init__(self, work: str, seed: int, n_tables: int):
        self.work = work
        self.rows, self.planted = inputs.qc_rows(seed, self.n_docs)
        self.table = os.path.join(work, "table.parquet")
        self.n_rows = inputs.write_table(self.rows, self.table)
        self.exact: checks.ExactJaccard | None = None  # built by the first check
        self.checked: list[dict] = []

    def pass_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def docs(self, i: int) -> int:
        return self.n_rows

    def run(self, spark, i: int) -> tuple[float, float]:
        t0 = time.time()
        run_chain(spark, self.table, f"{self.pass_dir(i)}/out")
        return t0, time.time()

    def traced(self, spark, i: int, tracer) -> dict[str, float]:
        return traced_chain(spark, self.table, self.pass_dir(i), tracer)

    def check(self, i: int) -> float:
        out = f"{self.pass_dir(i)}/out"
        v = pq.read_table(f"{out}/verified", columns=["doc_a", "doc_b", "jaccard"]).to_pydict()
        verified = list(zip(v["doc_a"], v["doc_b"], v["jaccard"]))
        c = pq.read_table(f"{out}/clusters", columns=["doc_id", "keep_id"]).to_pydict()
        keep = dict(zip(c["doc_id"], c["keep_id"]))
        if self.exact is None:
            self.exact = checks.ExactJaccard({inputs.doc_id(r): r["content"] for r in self.rows})
        recall, precision = checks.qc_score(self.exact, self.planted, verified, keep, MIN_JACCARD)
        self.checked.append({"verified": len(verified), "clustered": len(keep),
                             "recall": recall, "precision": precision})
        return recall * precision

    def context(self) -> dict:
        return {"rows": self.n_rows, "planted_pairs": len(self.planted), "checked": self.checked}
