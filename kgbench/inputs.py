"""Seeded input tables. The seed picks a window of file indices in the
synthetic corpus universe and the planted near-duplicates; the program
under test only ever sees the resulting Parquet tables, in the
``(repo, path, commit, lang, content)`` shape that
``tools/submit_pipeline.py --corpus`` reads.
"""

from __future__ import annotations

import hashlib
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from sling_spark.sources.corpus import corpus_rows, latest_rows

UNIVERSE = 200_000  # files in the synthetic universe (bench.py's sf0.1 size)
COLUMNS = ["repo", "path", "commit", "lang", "content"]
_SCHEMA = pa.schema([(c, pa.string()) for c in COLUMNS])
_WS = re.compile(r"([ \t\n\x0b\f\r]+)")


def write_table(rows: list[dict], path: str) -> int:
    table = pa.Table.from_pylist([{c: r[c] for c in COLUMNS} for r in rows], schema=_SCHEMA)
    pq.write_table(table, path)
    return table.num_rows


def kg_windows(seed: int, n_batches: int, batch_files: int) -> list[tuple[int, int]]:
    """``n_batches`` consecutive, disjoint file windows [lo, hi) of
    ``batch_files`` files each, at a seed-chosen offset."""
    span = n_batches * batch_files
    lo = random.Random(seed).randrange(0, UNIVERSE - span)
    return [(lo + k * batch_files, lo + (k + 1) * batch_files) for k in range(n_batches)]


def kg_rows(window: tuple[int, int]) -> list[dict]:
    """Every commit of every file in the window (about 5% of files carry
    two commits; the pipeline keeps the latest)."""
    return list(corpus_rows(UNIVERSE, *window))


def _edit(text: str, rng: random.Random, n_words: int, tag: str) -> str:
    """Replace ``n_words`` random words with fresh tokens, keeping the
    whitespace layout."""
    parts = _WS.split(text)
    words = [i for i in range(0, len(parts), 2) if parts[i]]
    for j, i in enumerate(rng.sample(words, n_words)):
        parts[i] = f"{tag}w{j}"
    return "".join(parts)


def doc_id(row: dict) -> str:
    """The QC document key, as bench.py builds it."""
    return f"{row['repo']}/{row['path']}"


PLANT_SHARE = 0.1  # of the documents get copies
CHAIN_SHARE = 0.4  # of those get a fork chain instead of one mirror
CHAIN_LEN = 5
WORDS_PER_EDIT = 2
PLANTED_MIN_JACCARD = 0.82  # every planted pair clears jaccard_pairs' 0.8 by this much
MAX_REDRAWS = 20


def _plant(seed: int | str, rng: random.Random, base: list[dict], originals: list[dict],
           n_chain: int) -> tuple[list[dict], list[tuple[str, str]], list[int]]:
    """The table rows, the planted pairs, and for each pair the index of
    its original in ``originals``. The first ``n_chain`` originals get
    a fork chain, the rest a single mirror."""
    rows = list(base)
    planted: list[tuple[str, str]] = []
    origin: list[int] = []
    for k, orig in enumerate(originals):
        prev = orig
        is_chain = k < n_chain
        for j in range(CHAIN_LEN if is_chain else 1):
            tag = f"s{seed}p{k}c{j}"
            content = (_edit(prev["content"], rng, WORDS_PER_EDIT, tag) if is_chain
                       else prev["content"] + f"// mirrored copy {tag}\n")
            copy = dict(prev, path=f"{orig['path']}.{tag}", content=content,
                        commit=hashlib.blake2b(tag.encode(), digest_size=20).hexdigest())
            rows.append(copy)
            planted.append((doc_id(prev), doc_id(copy)))
            origin.append(k)
            prev = copy
    return rows, planted, origin


def qc_rows(seed: int | str, n_docs: int) -> tuple[list[dict], list[tuple[str, str]]]:
    """Latest-version documents of a seed-chosen window plus planted
    near-duplicates. Returns (rows, planted pairs as doc ids).

    A PLANT_SHARE of the documents get copies. Most get a single mirror:
    the original plus one appended line. A CHAIN_SHARE of them get a
    fork chain of CHAIN_LEN copies, each the previous one with
    WORDS_PER_EDIT words replaced. Planted pairs are (original,
    mirror) and each consecutive pair of a chain. The ends of a chain
    drift below the 0.8 verify threshold, so clustering has to follow a
    path rather than one star.

    Originals are drawn from documents with enough distinctive shingles
    (after jaccard_pairs' stop-shingle filter) that a planted pair
    should stay above the threshold: at least 30 for a mirror
    (J >= 0.9) and 70 for a chain (consecutive J >= 0.84). The copies
    raise the document frequency of their original's shingles, which
    can push some of them over the stop bar, so the planted pairs are
    then measured on the whole table: an original with a pair below
    PLANTED_MIN_JACCARD is replaced by a fresh draw, up to MAX_REDRAWS
    times."""
    from .checks import ExactJaccard

    rng = random.Random(seed)
    lo = rng.randrange(0, UNIVERSE - n_docs)
    base = [dict(r) for r in latest_rows(UNIVERSE, lo, lo + n_docs)]
    sizes = {d: len(s) for d, s in ExactJaccard({doc_id(r): r["content"] for r in base}).sets.items()}
    n_plant = round(PLANT_SHARE * n_docs)
    n_chain = round(CHAIN_SHARE * n_plant)
    chain_pool = [r for r in base if sizes[doc_id(r)] >= 70]
    chains = rng.sample(chain_pool, n_chain)
    taken = {doc_id(r) for r in chains}
    mirror_pool = [r for r in base if sizes[doc_id(r)] >= 30 and doc_id(r) not in taken]
    originals = chains + rng.sample(mirror_pool, n_plant - n_chain)
    rejected: set[str] = set()

    for _ in range(MAX_REDRAWS + 1):
        rows, planted, origin = _plant(seed, rng, base, originals, n_chain)
        exact = ExactJaccard({doc_id(r): r["content"] for r in rows})
        weak = sorted({origin[i] for i, (a, b) in enumerate(planted)
                       if exact(a, b) < PLANTED_MIN_JACCARD})
        if not weak:
            return rows, planted
        rejected |= {doc_id(originals[k]) for k in weak}
        in_use = {doc_id(r) for r in originals} | rejected
        for k in weak:
            pool = [r for r in (chain_pool if k < n_chain else mirror_pool)
                    if doc_id(r) not in in_use]
            originals[k] = rng.choice(pool)
            in_use.add(doc_id(originals[k]))
    raise RuntimeError(f"seed {seed}: planted pairs stay below {PLANTED_MIN_JACCARD} "
                       f"after {MAX_REDRAWS} redraws")
