"""Phrase-structure annotator analog (SURVEY.md §2.7's last gap).

Reference semantics: the phrase-structure annotator
(sling/nlp/silver/phrases.cc:37-395, REGISTER "phrase-structure")
annotates resolved MULTI-WORD mentions with internal structure: the
evoked entity's simple facts (blacklisted kinship/sequence properties
excluded) form a TARGET set; every proper subphrase (the full span is
excluded — phrases.cc's ``e <= (b == 0 ? length-1 : length)`` bound,
skipped tokens never at boundaries) is looked up in the phrase table,
subphrases resolving to a target keep that entity as ``aux``; a
SpanChart::Solve min-cost cover picks non-overlapping sub-mentions; for
each chosen sub-mention the FIRST matching fact (in extraction order)
supplies the relation, and sub-mentions resolving to the parent itself
are dropped (phrases.cc:110-160 Extract callback). So "Apache Spark"
(Q1) gains the sub-mention "Apache" → the Apache Software Foundation
with the developed-by role.

This engine's analog runs POST-annotation over the resolved mention
rows (one Arrow pass; the reference likewise runs it as a separate
annotator over resolved documents): the phrase is re-tokenized with the
shared tokenizer (token fingerprints do not depend on break levels, so
the fold over the sub-span equals the in-document fold), the fact view
is the SAME ordered-facts model the relation extractor uses
(assets.statements + BLOCKED_PROPERTIES + PROPERTY_PRIORITY ordering),
and the cover is the same compressed DP as the mention chart
(mentions._solve_cover == SpanChart::Solve semantics). Reference
default-disables this annotator in the silver pipeline (silver.py), so
it is likewise NOT part of run_pipeline — it is an opt-in operator with
its own contract query (kg_phrase_structure).

The reference's cross-document phrase cache (phrases.cc LoadCache) is
a single-machine memoization detail Spark replaces with per-worker
lru_cache over (entity, phrase) — same hit pattern, no shared state.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.fingerprint import FP_SKIPPED, phrase_fp, token_fp
from ..sources.kb import BLOCKED_PROPERTIES
from .mentions import _PRIO, _solve_cover

PHRASE_STRUCTURE_SCHEMA = (
    "repo string, path string, commit string, sentence int, "
    "begin int, end int, entity string, sub_begin int, sub_end int, "
    "sub_entity string, pid string"
)


def analyze_phrase(
    words: list[str],
    entity: str,
    phrase_table: dict,
    statements: dict,
) -> list[tuple[int, int, str, str]]:
    """Sub-mentions of one resolved multi-word phrase:
    (sub_begin, sub_end, sub_entity, pid) with span offsets relative to
    the phrase. Deterministic; shared by the Spark op and the oracle
    twin."""
    facts = statements.get(entity)
    if not facts:
        return []
    ordered = sorted(
        {f for f in facts if f[0] not in BLOCKED_PROPERTIES},
        key=lambda f: (_PRIO.get(f[0], 99), f[0], f[1]),
    )
    targets = {o for _p, o in ordered}
    if not targets:
        return []
    n = len(words)
    cands: list[tuple[int, int, int, int, str]] = []
    for b in range(n):
        if token_fp(words[b]) == FP_SKIPPED:
            continue
        e_max = n - 1 if b == 0 else n  # the full span is excluded
        for e in range(b + 1, e_max + 1):
            if token_fp(words[e - 1]) == FP_SKIPPED:
                continue
            fp = phrase_fp(words[b:e])
            entries = phrase_table.get(fp)
            if not entries:
                continue
            # first target match in phrase-table order (-count, entity)
            m = next((ent for ent, _c, _f, _r in entries if ent in targets), None)
            if m is not None:
                cands.append((b, e, 0, 0, m))
    if not cands:
        return []
    out: list[tuple[int, int, str, str]] = []
    for b, e, _fp, _form, sub_ent in _solve_cover(cands, n):
        if sub_ent == entity:  # never the parent's own meaning
            continue
        pid = next(
            (p for p, o in ordered if o == sub_ent), None
        )
        if pid is not None:
            out.append((b, e, sub_ent, pid))
    return out


def phrase_structure(mentions: DataFrame, assets_bc) -> DataFrame:
    """Sub-mention rows for every resolved multi-word mention (one
    Arrow-batched pass; assets come from the same AssetStore handle the
    annotator uses). Literal spans (fp == 0) and anaphors carry no
    phrase-table meaning and are skipped, as in the reference."""

    def run(batches):
        from ..functions.tokenize import tokenize
        from .assets import load_assets

        assets = load_assets(assets_bc.value)
        pt, st = assets.phrase_table, assets.statements

        @lru_cache(maxsize=1 << 16)
        def subs(entity: str, phrase: str):
            return tuple(
                analyze_phrase([t.word for t in tokenize(phrase)], entity, pt, st)
            )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.end - r.begin < 2 or r.fp == 0 or r.anaphora:
                    continue
                for b, e, sub_ent, pid in subs(r.entity, r.phrase):
                    rows.append(
                        {
                            "repo": r.repo, "path": r.path, "commit": r.commit,
                            "sentence": r.sentence, "begin": r.begin,
                            "end": r.end, "entity": r.entity,
                            "sub_begin": r.begin + b, "sub_end": r.begin + e,
                            "sub_entity": sub_ent, "pid": pid,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["repo", "path", "commit", "sentence", "begin", "end",
                         "entity", "sub_begin", "sub_end", "sub_entity", "pid"],
            )

    return mentions.select(
        "repo", "path", "commit", "sentence", "begin", "end", "phrase",
        "fp", "entity", "anaphora",
    ).mapInPandas(run, schema=PHRASE_STRUCTURE_SCHEMA)
