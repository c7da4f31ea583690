"""Item reconciliation + merge (the KB fuse).

Reference semantics (sling/nlp/kb/reconciler.cc):
- **reconcile** (mapper, :97-273): rewrite each source item's key to its
  canonical cluster id; rewrite statement objects through the same map.
- **merge** (reducer, :278-759): per canonical id, fuse statements from
  all sources: exact duplicates collapse; a QUALIFIED statement subsumes
  an unqualified twin (:440-480 compatibility merge); deprecated-rank
  statements are dropped; date-valued duplicates keep the most precise
  value (:~560-640); the item name comes from the highest-priority
  source.

Execution shape: two broadcast joins (cluster map onto keys and onto
exploded statement objects — both dimension-sized) + ONE shuffle
(groupBy canonical id) + applyInPandas merge. At 10^9 items this is a
single hash-partitioned aggregation; AQE handles reconciled-id skew.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import kb
from .xref import canonicalize

ITEMS_SCHEMA = (
    "id string, name string, types array<string>, "
    "statements array<struct<pid string, object string, "
    "qualifiers map<string,string>>>"
)

_DATE_RE = re.compile(r"^\d{4}(-\d{2})?(-\d{2})?$")


#: statement objects that are ITEM REFERENCES (inversion targets): main
#: Q-ids or alt ids in a known namespace — literals (dates, numbers,
#: free text) are never inverted (reconciler.cc:157 `!target.IsRef()`).
_ITEM_REF_RE = kb.ITEM_REF_RE  # shared item-reference test (kb.py)


def invert_statements(items: DataFrame) -> DataFrame:
    """Emit inverse-property item FRAGMENTS keyed by statement target
    (ItemReconciler property inversion, reconciler.cc:97-273): for each
    statement (subj, pid, object-item) with pid in ``kb.INVERSIONS``,
    the target item receives (inverse_pid, subj). Qualifier inversion
    copies only config-mapped qualifiers onto the inverted statement
    (:181-199); an inverse of P8810 'parent' specializes to P22 father /
    P25 mother by the SUBJECT's own P21 gender, skipping qualified
    statements and unknown-gender subjects (:163-177). Fragments carry
    ``orig_id = subj#inv:target`` as a collision-free deterministic merge
    order key and the subject's source_priority.

    Plan shape: explode → broadcast-join the (dimension-sized) inversion
    config → groupBy (target, subj) with sort_array-collected statements;
    one shuffle keyed by the inverse fragments only (orders of magnitude
    below item scale)."""
    spark = items.sparkSession
    inv_df = local_frame(
        spark,
        [
            (pid, cfg["inverse"], dict(cfg.get("qualifiers", {})))
            for pid, cfg in sorted(kb.INVERSIONS.items())
        ],
        "pid string, inverse string, qmap map<string,string>",
    )
    pri = (
        F.coalesce("source_priority", F.lit(0))
        if "source_priority" in items.columns
        else F.lit(0)
    )
    flat = items.select(
        F.col("id").alias("subj"),
        pri.alias("source_priority"),
        # the subject's own gender statement (frame.GetHandle(n_gender_))
        F.expr("get(filter(statements, s -> s.pid = 'P21'), 0).object").alias("gender"),
        F.posexplode("statements").alias("pos", "st"),
    ).select(
        "subj",
        "source_priority",
        "gender",
        "pos",
        F.col("st.pid").alias("pid"),
        F.col("st.object").alias("object"),
        F.coalesce("st.qualifiers", F.expr("map()")).alias("qualifiers"),
    )
    inv = (
        flat.join(F.broadcast(inv_df), on="pid")
        # raw-id self/literal guard; the post-canonicalization self case
        # (same-as fuses subj and object) is dropped in _merge_group.
        # No rank filter here, matching the reference: inversion runs
        # over the raw frame (reconciler.cc:152-206) and the inverse of
        # a deprecated-rank statement survives un-deprecated — only the
        # FORWARD statement is dropped, at merge (reconciler.cc:419-426)
        .filter(F.col("object").rlike(_ITEM_REF_RE) & (F.col("object") != F.col("subj")))
    )
    qualified = F.size("qualifiers") > 0
    gendered = F.col("inverse") == kb.GENDERED_PARENT
    inv = inv.filter(
        ~gendered | (~qualified & F.col("gender").isin(kb.MALE, kb.FEMALE))
    ).withColumn(
        "inverse",
        F.when(~gendered, F.col("inverse"))
        .when(F.col("gender") == kb.MALE, F.lit(kb.FATHER))
        .otherwise(F.lit(kb.MOTHER)),
    )
    # qualifier inversion: keep only config-mapped qualifiers, renamed;
    # empty result (or unqualified source) → plain inverted link
    inv_quals = F.expr(
        "map_from_entries(transform("
        "  filter(map_entries(qualifiers), e -> array_contains(map_keys(qmap), e.key)),"
        "  e -> struct(qmap[e.key] AS key, e.value AS value)))"
    )
    inv = inv.withColumn(
        "inv_qualifiers",
        F.when(qualified & (F.size("qmap") > 0), inv_quals).otherwise(F.expr("map()")),
    )
    return (
        inv.groupBy(
            F.col("object").alias("id"),
            F.concat(F.col("subj"), F.lit("#inv:"), F.col("object")).alias("orig_id"),
            "source_priority",
        )
        .agg(
            F.transform(
                # array_sort with a pos-only comparator: the payload
                # struct carries a map, which sort_array cannot order
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos",
                            F.struct(
                                F.col("inverse").alias("pid"),
                                F.col("subj").alias("object"),
                                F.col("inv_qualifiers").alias("qualifiers"),
                            ).alias("st"),
                        )
                    ),
                    lambda l, r: F.when(l["pos"] < r["pos"], F.lit(-1))
                    .when(l["pos"] > r["pos"], F.lit(1))
                    .otherwise(F.lit(0)),
                ),
                lambda x: x["st"],
            ).alias("statements")
        )
        .select(
            "id",
            "orig_id",
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("array<string>").alias("types"),
            "statements",
            "source_priority",
        )
    )


def reconcile_items(items: DataFrame, clusters: DataFrame) -> DataFrame:
    """Rewrite item ids and statement objects to canonical cluster ids.
    Items may carry an explicit ``orig_id`` merge-order key (inverse
    fragments do); plain items default it to their own id."""
    orig = (
        F.coalesce("orig_id", F.col("id"))
        if "orig_id" in items.columns
        else F.col("id")
    )
    flat = items.select(
        "id",
        orig.alias("orig_id"),  # deterministic merge order key
        "name",
        "types",
        F.coalesce("source_priority", F.lit(0)).alias("source_priority")
        if "source_priority" in items.columns
        else F.lit(0).alias("source_priority"),
        F.posexplode_outer("statements").alias("pos", "st"),
    ).select(
        "id",
        "orig_id",
        "name",
        "types",
        "source_priority",
        "pos",
        F.col("st.pid").alias("pid"),
        F.col("st.object").alias("object"),
        F.col("st.qualifiers").alias("qualifiers"),
    )
    flat = canonicalize(flat, clusters, "id")
    # literal objects (dates/numbers) round-trip canonicalize unchanged:
    # "2014-02" normalizes to "Q:2014-02", misses the cluster map, and
    # display_id strips the prefix back off — identity fall-through.
    flat = canonicalize(flat, clusters, "object")
    return flat


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fuse one canonical item from its reconciled statement rows."""
    cid = pdf["id"].iloc[0]
    # name: highest-priority source (lowest number), tie → lexicographic
    named = pdf[pdf["name"].notna()]
    if len(named):
        named = named.sort_values(["source_priority", "orig_id"], kind="mergesort")
        name = named["name"].iloc[0]
    else:
        name = None
    # types: sorted union
    types: set[str] = set()
    for ts in pdf["types"]:
        if ts is not None:
            types.update(ts)

    # statements: deterministic input order (source, item, slot position)
    rows = pdf[pdf["pid"].notna()].sort_values(
        ["source_priority", "orig_id", "pos"], kind="mergesort"
    )
    merged: list[dict] = []  # each {pid, object, qualifiers}
    # O(1) duplicate lookup — a mega-item (10^4 statements) would make
    # the old per-statement linear scan a quadratic single task
    by_key: dict[tuple[str, str], dict] = {}
    dates_by_pid: dict[str, list[dict]] = {}

    def find_same(pid: str, obj: str) -> dict | None:
        return by_key.get((pid, obj))

    def find_date_twin(pid: str, obj: str) -> dict | None:
        if not _DATE_RE.match(obj or ""):
            return None
        for m in dates_by_pid.get(pid, ()):
            a, b = m["object"], obj
            if a.startswith(b) or b.startswith(a):
                return m
        return None

    for r in rows.itertuples(index=False):
        quals = dict(r.qualifiers) if r.qualifiers is not None else {}
        if quals.get("rank") == "deprecated":
            continue  # drop deprecated-rank statements
        obj = r.object
        # drop inverse fragments that became self-relations AFTER
        # canonicalization (same-as cluster maps subj and object to one
        # id): the reference skips these at inversion, where ids are
        # already mapped by the commons store (reconciler.cc:158-162 —
        # FrameId(target) is empty for the id-stripped self frame).
        # Forward self-statements pass through, as in the reference
        # merger. The raw-id guard in invert_statements catches only
        # pre-cluster self-references.
        if obj == cid and "#inv:" in r.orig_id:
            continue
        same = find_same(r.pid, obj)
        if same is not None:
            # qualifier-compatibility merge: qualified wins over bare
            if quals and not same["qualifiers"]:
                same["qualifiers"] = quals
            continue
        twin = find_date_twin(r.pid, obj)
        if twin is not None:
            # keep the most precise date WHOLESALE — object and its
            # qualifiers together (ReconcileDates keeps the winner
            # SLOT and prunes the less precise one, reconciler.cc:
            # 568-623; splicing only the object would strand the
            # imprecise statement's qualifiers on the precise value)
            if len(obj) > len(twin["object"]):
                del by_key[(r.pid, twin["object"])]
                twin["object"] = obj
                twin["qualifiers"] = quals
                by_key[(r.pid, obj)] = twin
            continue
        st = {"pid": r.pid, "object": obj, "qualifiers": quals}
        merged.append(st)
        by_key[(r.pid, obj)] = st
        if _DATE_RE.match(obj or ""):
            dates_by_pid.setdefault(r.pid, []).append(st)

    return pd.DataFrame(
        [
            {
                "id": cid,
                "name": name,
                "types": sorted(types),
                "statements": merged,
            }
        ],
        columns=["id", "name", "types", "statements"],
    )


def merge_items(reconciled: DataFrame) -> DataFrame:
    """groupBy canonical id → fused kb_items (reconciler.cc Reduce)."""
    return reconciled.groupBy("id").applyInPandas(_merge_group, schema=ITEMS_SCHEMA)


def kb_triples(merged_items: DataFrame) -> DataFrame:
    """Explode fused items into KB-statement triples (the second triple
    source per SURVEY.md §2.7 'Triples')."""
    return merged_items.select(
        F.col("id").alias("subj"), F.explode("statements").alias("st")
    ).select(
        "subj",
        F.col("st.pid").alias("pred"),
        F.col("st.object").alias("obj"),
        F.col("st.qualifiers").alias("qualifiers"),
        F.lit(None)
        .cast(
            "struct<repo:string,path:string,commit:string,"
            "content_sha:string,begin:int,end:int>"
        )
        .alias("provenance"),
        F.lit("kb_statement").alias("source"),
    )
