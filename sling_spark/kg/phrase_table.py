"""Alias selection + phrase-table build.

Reference semantics:
- alias-selector groups alias variants per item, folds near-duplicate
  variants (edit distance bounded) transferring their counts, applies
  count/form thresholds (sling/nlp/wiki/aliases.cc:246-624).
- phrase-table-builder groups selected aliases by phrase fingerprint and
  stores, per fp, entity entries sorted for lookup
  (sling/nlp/kb/phrase-table-builder.cc:36-237); the table records its
  normalization ("lcn", builder :105-107) and is memory-mapped by every
  annotator worker — our analog is the Parquet asset store each worker
  loads once (assets.AssetStore / load_assets, which also fixes the
  lookup order: count desc, entity asc).

Plan shape: one applyInPandas per entity (tiny groups) for variant
folding, then one hash aggregation by fp. Both shuffles are on keys with
KB-sized cardinality (items / phrases), far below corpus scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import CASE_NONE, normalize_phrase

SELECTED_SCHEMA = (
    "entity string, alias string, fp long, count int, form int, "
    "sources int, reliable boolean"
)

# source bitmask (the 3-source analog of wiki.h:48-64 AliasSource):
# NAME | ALIAS are the "trusted" sources (wikidata-label/alias class);
# ANCHOR is the corpus-derived class (wikipedia-anchor/link class);
# VARIATION marks aliases selected by the variation pass.
SRC_TRUSTED = 1 | 2  # SRC_NAME | SRC_ALIAS
SRC_ANCHOR_CLASS = 4
SRC_VARIATION = 8

# reference defaults (aliases.cc:603-614)
ANCHOR_THRESHOLD = 100
MAJORITY_FORM_FRACTION = 0.75
MIN_PREFIX = 2
MAX_EDIT_DISTANCE = 1  # reference ships 0 (disabled); wikiflow enables


def _edit_distance(a: str, b: str, limit: int) -> int:
    """Levenshtein distance, early-exiting with limit+1 when exceeded."""
    if a == b:
        return 0
    if abs(len(a) - len(b)) > limit:
        return limit + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        best = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(v)
            best = min(best, v)
        if best > limit:
            return limit + 1
        prev = cur
    return prev[-1]


def _common_prefix(a: str, b: str) -> int:
    n = 0
    for ca, cb in zip(a, b):
        if ca != cb:
            break
        n += 1
    return n


def _same_digits(a: str, b: str) -> bool:
    """Variation guard (aliases.cc Alias::SameDigits): every digit of
    ``a`` must appear in ``b`` in order, and ``b`` must carry no digits
    after the matched region."""
    m = 0
    for ch in a:
        if ch.isdigit():
            match = False
            while m < len(b):
                cb = b[m]
                m += 1
                if cb == ch:
                    match = True
                    break
            if not match:
                return False
    while m < len(b):
        if b[m].isdigit():
            return False
        m += 1
    return True


def _select_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Alias selection for one entity (AliasSelector::Reduce,
    reference sling/nlp/wiki/aliases.cc:246-624):

    1. variants group by FINGERPRINT: counts summed, per-variant counts,
       case-form histogram, sources OR-ed;
    2. the group's surface is the most common variant (tie: lexicographic);
    3. selection: trusted sources (NAME/ALIAS) always; pure corpus anchors
       need ``count >= anchor_threshold`` (:557-561);
    4. variation pass (:462-494): an unselected alias is adopted when it
       shares a ``>= min_prefix`` normalized prefix with a selected
       non-variation alias, is within ``max_edit_distance``, and carries
       the same digit sequence; it gets the VARIATION source bit;
    5. the emitted form is the MAJORITY form: the first case form holding
       ``>= majority_form_fraction`` of occurrences, else NONE (:500-508).
    """
    anchor_threshold = int(pdf["p_anchor"].iloc[0])
    majority = float(pdf["p_majority"].iloc[0])
    min_prefix = int(pdf["p_minprefix"].iloc[0])
    max_edit = int(pdf["p_maxedit"].iloc[0])
    entity = pdf["entity"].iloc[0]

    groups: dict[int, dict] = {}
    for r in pdf.itertuples(index=False):
        g = groups.get(r.fp)
        if g is None:
            g = groups[r.fp] = {
                "variants": {}, "forms": [0, 0, 0, 0], "sources": 0, "count": 0,
            }
        g["count"] += r.count
        g["variants"][r.alias] = g["variants"].get(r.alias, 0) + r.count
        g["forms"][r.form] += r.count
        g["sources"] |= r.sources

    for g in groups.values():
        g["name"] = min(g["variants"], key=lambda a: (-g["variants"][a], a))
        g["norm"] = normalize_phrase(g["name"])
        trusted = bool(g["sources"] & SRC_TRUSTED)
        anchor_ok = (
            g["sources"] & SRC_ANCHOR_CLASS and g["count"] >= anchor_threshold
        )
        g["selected"] = trusted or bool(anchor_ok)

    if max_edit > 0:
        for fp in sorted(groups):
            g = groups[fp]
            if g["selected"]:
                continue
            for ofp in sorted(groups):
                a = groups[ofp]
                if not a["selected"] or a["sources"] & SRC_VARIATION:
                    continue
                if _common_prefix(g["norm"], a["norm"]) < min_prefix:
                    continue
                if _edit_distance(g["norm"], a["norm"], max_edit) > max_edit:
                    continue
                if not _same_digits(g["norm"], a["norm"]):
                    continue
                g["selected"] = True
                g["sources"] |= SRC_VARIATION
                break

    out = []
    for fp in sorted(groups):
        g = groups[fp]
        if not g["selected"] or not g["name"]:
            continue
        form = CASE_NONE
        for f in range(4):
            if g["forms"][f] >= g["count"] * majority:
                form = f
                break
        out.append(
            {
                "entity": entity,
                "alias": g["name"],
                "fp": fp,
                "count": g["count"],
                "form": form,
                "sources": g["sources"],
                "reliable": bool(g["sources"] & SRC_TRUSTED),
            }
        )
    return pd.DataFrame(
        out,
        columns=["entity", "alias", "fp", "count", "form", "sources", "reliable"],
    )


def select_aliases(
    aliases: DataFrame,
    anchor_threshold: int = ANCHOR_THRESHOLD,
    majority_form_fraction: float = MAJORITY_FORM_FRACTION,
    min_prefix: int = MIN_PREFIX,
    max_edit_distance: int = MAX_EDIT_DISTANCE,
) -> DataFrame:
    """Per-entity alias selection (aliases.cc Reduce semantics) — one
    applyInPandas per entity (KB-sized groups, far below corpus scale)."""
    return (
        aliases.withColumn("p_anchor", F.lit(anchor_threshold))
        .withColumn("p_majority", F.lit(float(majority_form_fraction)))
        .withColumn("p_minprefix", F.lit(min_prefix))
        .withColumn("p_maxedit", F.lit(max_edit_distance))
        .groupBy("entity")
        .applyInPandas(_select_group, schema=SELECTED_SCHEMA)
    )


def build_phrase_table(selected: DataFrame) -> DataFrame:
    """fp → sorted candidate list. Entries per (fp, entity) are merged
    (counts summed, majority form), then sorted by (count desc, entity)
    as the lookup order (phrase-table-builder.cc:100-170 Flush)."""
    per_entity = selected.groupBy("fp", "entity").agg(
        F.sum("count").cast("int").alias("count"),
        F.max_by("form", "count").alias("form"),
        F.max("reliable").alias("reliable"),
    )
    entry = F.struct(
        (-F.col("count")).alias("neg_count"),  # sort key: count desc
        F.col("entity"),  # then entity asc
        F.col("count"),
        F.col("form"),
        F.col("reliable"),
    )
    return (
        per_entity.groupBy("fp")
        .agg(F.array_sort(F.collect_list(entry)).alias("entries"))
        .select(
            "fp",
            F.transform(
                "entries",
                lambda e: F.struct(
                    e["entity"].alias("entity"),
                    e["count"].alias("count"),
                    e["form"].alias("form"),
                    e["reliable"].alias("reliable"),
                ),
            ).alias("entries"),
        )
    )


def build_name_table(selected: DataFrame) -> DataFrame:
    """Sorted (normalized name → entities) table for prefix search —
    the name-table-builder analog (sling/nlp/kb/name-table-builder.cc:
    34-240). Serving-side artifact: ORDER BY makes the parquet row
    groups range-prunable on the name prefix."""
    norm = F.lower(F.col("alias"))
    return (
        selected.select(
            norm.alias("name"),
            F.struct(
                F.col("entity"), F.col("count"), F.col("form")
            ).alias("entry"),
        )
        .groupBy("name")
        .agg(F.array_sort(F.collect_list("entry")).alias("entries"))
        .orderBy("name")
    )

