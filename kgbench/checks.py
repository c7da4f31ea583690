"""Output checks, computed outside the timed region.

- kg: the output triples against ``sling_spark.oracle.kg_oracle``
  composed over exactly the documents of the input table.
- corpus_qc: recall of the planted duplicate pairs (both ends in one
  cluster) times the precision of the verified pairs, whose Jaccard the
  benchmark recomputes exactly in Python.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from functools import lru_cache

import pyarrow.parquet as pq

from sling_spark.functions.tokenize import tokenize
from sling_spark.kg.evaluation import PRF, triple_set
from sling_spark.oracle import kg_oracle
from sling_spark.sources import kb

# ---------------------------------------------------------------------------
# kg
# ---------------------------------------------------------------------------

@lru_cache(maxsize=1)
def _kb_triples() -> frozenset:
    """The seed-KB statement triples (corpus-independent)."""
    items = kg_oracle.merge_items(kg_oracle.build_clusters())
    return frozenset(triple_set(
        {"subj": it["id"], "pred": st["pid"], "obj": st["object"],
         "provenance": None, "source": "kb_statement"}
        for it in items for st in it["statements"]
    ))


def oracle_triples(rows: list[dict]) -> set:
    """kg_oracle's composition (``_run_uncached``) over the given corpus
    rows instead of the first-n-files prefix."""
    latest: dict[tuple[str, str], dict] = {}
    for r in rows:
        key = (r["repo"], r["path"])
        if key not in latest or r["commit"] > latest[key]["commit"]:
            latest[key] = r
    docs = []
    for r in sorted(latest.values(), key=lambda r: (r["repo"], r["path"])):
        d = dict(r)
        d["content_sha"] = hashlib.sha256(d["content"].encode()).hexdigest()
        d["tokens"] = tokenize(d["content"])
        docs.append(d)
    popularity = {r["id"]: r["count"] for r in kb.popularity_rows()}
    links: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for r in kb.links_rows():
        links[r["src"]].append((r["dst"], r["count"]))
    for v in links.values():
        v.sort()
    mentions = kg_oracle.annotate(docs, kg_oracle.build_phrase_table(),
                                  kg_oracle.build_idf(docs), popularity, links)
    clusters = kg_oracle.build_clusters()
    doc_t = triple_set(
        {"subj": kg_oracle.canonical(t["subj"], clusters), "pred": t["pred"],
         "obj": kg_oracle.canonical(t["obj"], clusters),
         "provenance": (t["repo"], t["path"], t["commit"], t["content_sha"],
                        t["begin"], t["end"]),
         "source": "doc_relation"}
        for t in kg_oracle.extract_relations(mentions)
    )
    return doc_t | _kb_triples()


def read_triples(path: str) -> set:
    """The triple set of a ``write_triples`` output directory."""
    table = pq.read_table(path, columns=["subj", "pred", "obj", "provenance", "source"])
    return triple_set(table.to_pylist())


def kg_score(pred: set, gold: set) -> float:
    """min(precision, recall) of the output triples."""
    s = PRF.score(pred, gold)
    return min(s.precision, s.recall)


# ---------------------------------------------------------------------------
# corpus_qc
# ---------------------------------------------------------------------------

_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, which shingles() splits on


def shingle_set(text: str) -> set[str]:
    """Python twin of operators.dedup.shingles: lower-case, split on
    whitespace, distinct word 3-grams; a document shorter than 3 words
    yields one gram of what it has."""
    toks = [t for t in _SPLIT.split(text.lower()) if t]
    if len(toks) < 3:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


class ExactJaccard:
    """Exact Jaccard over stop-filtered shingle sets, with the stop rule
    of jaccard_pairs at its defaults: a shingle is dropped when its
    document frequency exceeds max(0.01 * n_docs, 8)."""

    def __init__(self, docs: dict[str, str]):
        sets = {d: shingle_set(t) for d, t in docs.items()}
        df = Counter(s for sh in sets.values() for s in sh)
        bar = max(len(sets) * 0.01, 8.0)
        stop = {s for s, c in df.items() if c > bar}
        self.sets = {d: sh - stop for d, sh in sets.items()}

    def __call__(self, a: str, b: str) -> float:
        sa, sb = self.sets[a], self.sets[b]
        union = len(sa | sb)
        return 1.0 if union == 0 else len(sa & sb) / union


def qc_score(exact: ExactJaccard, planted: list[tuple[str, str]],
             verified: list[tuple[str, str, float]], keep: dict[str, str],
             min_jaccard: float = 0.8) -> tuple[float, float]:
    """(recall of planted pairs, precision of verified pairs). A planted
    pair is recalled when both ends carry the same keep id; a verified
    pair is correct when its exact Jaccard is at least ``min_jaccard``
    and matches the reported value to the 6 decimals it is rounded to."""
    hit = sum(1 for a, b in planted if a in keep and keep.get(a) == keep.get(b))
    good = 0
    for a, b, j in verified:
        exact_j = exact(a, b)
        if exact_j >= min_jaccard and abs(exact_j - j) <= 1e-6:
            good += 1
    return hit / max(len(planted), 1), good / max(len(verified), 1)
