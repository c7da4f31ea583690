"""Identifier cross-reference clustering (canonicalization).

Reference semantics (sling/nlp/kb/xref-builder.cc:26-238, xref.cc:259-283):
identifiers linked by same-as edges are unioned into clusters; a union
that would put TWO "main"-namespace ids into one cluster is REFUSED (the
conflict is reported, not merged); the cluster's canonical id is its
highest-priority member (xref.h:109-119), and ids in caseless namespaces
are lowercased before matching.

Spark-first execution (SURVEY.md §4 custom-work item #1). One size
switch, ``DRIVER_EDGE_LIMIT``, picks the path for every connected-
components caller here and in ``operators.dedup.dedup_clusters``:

1. **At or below the limit: one driver union-find.** A single bounded
   fetch (``small_edge_list``) both counts and collects the edge set;
   xref tables and near-dup pair graphs are dimension-sized, and a dozen
   iterative Spark jobs for 10^4 edges is pure scheduling overhead. This
   is the reference's own shape (xref-builder.cc runs one in-memory
   union-find).
2. **Above it: large-star / small-star connected components** over the
   symmetric edge list (Kiveris et al., "Connected Components in
   MapReduce and Beyond") — alternating DataFrame join/agg rounds that
   converge in O(log n) rounds on ANY topology (a 10^6-edge chain is
   covered by test); lineage is truncated with localCheckpoint so plans
   don't grow. Components that captured >= 2 main ids are then
   re-solved per component in applyInPandas with a sequential
   union-find that refuses main+main unions, edges processed in a
   deterministic global order — identical to the pure-Python oracle's
   order, so results match exactly. Union-find on disjoint components
   commutes, so per-component re-solve == global sequential solve.

All id string manipulation is native Column expressions (JVM-side, inside
whole-stage codegen); Python runs only the union-finds — over the whole
edge list below the limit, per conflicted component above it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.kb import CASELESS_NAMESPACES, NAMESPACE_PRIORITY

CLUSTERS_SCHEMA = "member_id string, canonical_id string"

# Edge sets up to this size run connected components as one union-find on
# the driver, above it as distributed star rounds. 200k string edges are
# tens of MB of driver memory. Tests force a path by patching this value.
DRIVER_EDGE_LIMIT = 200_000

# ---------------------------------------------------------------------------
# scalar semantics (pure Python twins used by the oracle + tiny repair UDF)
# ---------------------------------------------------------------------------


def normalize_id(ident: str) -> str:
    """Bare ids live in the main 'Q' namespace; caseless-namespace keys
    are lowercased (reconciler.cc caseless-property lowering)."""
    if ":" not in ident:
        return f"Q:{ident}"
    ns, _, key = ident.partition(":")
    if ns in CASELESS_NAMESPACES:
        key = key.lower()
    return f"{ns}:{key}"


def id_priority(ident: str) -> int:
    return NAMESPACE_PRIORITY.get(ident.partition(":")[0], 99)


def is_main(ident: str) -> bool:
    return id_priority(ident) == 0


def display_id(ident: str) -> str:
    """Canonical display form: main-namespace ids drop the 'Q:' prefix
    (they ARE the QID); others keep the namespace."""
    ns, _, key = ident.partition(":")
    return key if ns == "Q" else ident


def _edge_sort_key(a: str, b: str) -> tuple:
    pa, pb = id_priority(a), id_priority(b)
    return (min(pa, pb), max(pa, pb), min(a, b), max(a, b))


# ---------------------------------------------------------------------------
# column-expression twins (JVM-side; no Python UDFs)
# ---------------------------------------------------------------------------


def normalize_id_col(c: Column) -> Column:
    # split on the FIRST ':' only (limit-2 split), matching
    # normalize_id's partition(':'): the namespace never contains ':'
    # but the KEY may (timestamp literals '…T10:30:00', composite ids
    # 'maven:group:artifact') — a last-colon split would corrupt those,
    # silently and divergently from the driver-side oracle.
    has = F.instr(c, ":") > 0
    parts = F.split(c, ":", 2)
    ns = F.when(has, parts.getItem(0)).otherwise(F.lit("Q"))
    key = F.when(has, parts.getItem(1)).otherwise(c)
    key = F.when(ns.isin(*CASELESS_NAMESPACES), F.lower(key)).otherwise(key)
    return F.concat_ws(":", ns, key)


def display_id_col(c: Column) -> Column:
    return F.when(c.startswith("Q:"), F.substring(c, 3, 1 << 30)).otherwise(c)


def id_priority_col(c: Column) -> Column:
    ns = F.when(F.instr(c, ":") > 0, F.substring_index(c, ":", 1)).otherwise(F.lit("Q"))
    expr = F.lit(99)
    for name, pri in sorted(NAMESPACE_PRIORITY.items(), key=lambda kv: -kv[1]):
        expr = F.when(ns == name, F.lit(pri)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# pipeline stages
# ---------------------------------------------------------------------------


def normalized_edges(same_as: DataFrame) -> DataFrame:
    """Lowercase caseless-namespace ids, drop self-loops, dedup the
    undirected edge set."""
    e = same_as.select(
        normalize_id_col(F.col("id_a")).alias("na"),
        normalize_id_col(F.col("id_b")).alias("nb"),
    ).filter(F.col("na") != F.col("nb"))
    return e.select(
        F.least("na", "nb").alias("a"), F.greatest("na", "nb").alias("b")
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", §3): for every node u with neighborhood N(u)
    (symmetric view), connect each STRICTLY LARGER neighbor v > u to
    m = min(N(u) ∪ {u}). All output edges are (larger, smaller)."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mv"))
    m = F.least(F.col("a"), F.col("mv"))
    return (
        sym.join(mins, on="a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), m.alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient each edge (larger, smaller); for
    every node u connect all of its SMALLER neighbors — and u itself —
    to m = min of the smaller neighborhood."""
    es = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
    mins = es.groupBy("a").agg(F.min("b").alias("m"))
    return (
        es.join(mins, on="a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("a").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, loop_partitions: int = 8
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al.): (id,
    component), component = lexicographic min reachable id, for every
    endpoint of an edge — an id whose only edge is a self-loop is its own
    component. This is the distributed side of the ``DRIVER_EDGE_LIMIT``
    switch: ``build_clusters`` and ``dedup_clusters`` call it only for
    edge sets above the limit (``contract.q_kg_xref_components`` calls it
    directly, at any size). Converges in
    O(log n) rounds on ANY graph — the round-2 min-label version was
    O(diameter), which silently returns NON-converged labels on a long
    chain within any fixed iteration budget. Convergence is checked
    with one cheap checksum aggregate over the checkpointed edge set
    (count + hash-sum) instead of the old per-round join + count
    action — every round for the first 4 rounds, then every 2: the
    common production graphs (near-dup mirror forests, shallow xref
    clusters) reach fixpoint in 1-3 rounds, and the old every-2 cadence
    made a pair graph (fixed after round 1) run two extra LS∘SS rounds
    waiting for the next even-round check (measured 2x the QC
    clustering stage); past round 4 the sparse cadence returns, because
    on small-edge-count loops the checksum job costs as much scheduling
    as the star round it might save (guide §1.2: fewer passes). Never
    more rounds than the old cadence for any fixpoint depth.
    The loop runs on ``loop_partitions``
    (the id space is the DIMENSION side — scheduling 64 tasks per round
    for a KB-sized table is pure overhead; raise for planet-scale id
    graphs). Sets ``connected_components.last_rounds`` for tests.

    At the fixpoint the edge set is exactly the star forest
    (member → component-min), so labels are read off the edges. The star
    rounds drop self-loops, so each self-loop id is added back as its own
    label candidate and the min per id is kept: an id with other edges
    has a label no larger than itself, so the loop never wins there."""
    e = edges.select("a", "b").coalesce(loop_partitions).localCheckpoint()
    loops = e.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("id"), F.col("a").alias("component")
    )
    prev_sig = None
    rounds = 0
    for it in range(max_iter):
        # one eager materialization per round, not two: the large-star
        # result needs no checkpoint of its own — small-star's two
        # consumers (the min-agg and the join side) share its subtree,
        # which the planner evaluates once via Exchange reuse. Halves
        # the per-round job count; on KB-sized graphs the loop is pure
        # scheduling overhead (guide §1.2: fewer passes first).
        e = _small_star(_large_star(e)).coalesce(loop_partitions).localCheckpoint()
        rounds += 1
        if rounds <= 4 or it % 2 == 1 or it == max_iter - 1:
            sig = e.agg(
                F.count("*").alias("n"),
                # xor-fold of per-edge hashes: order-insensitive and
                # overflow-free under ANSI mode (sum of longs is not)
                F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
            ).first()
            sig = (sig["n"], sig["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
    connected_components.last_rounds = rounds
    return (
        e.select(F.col("a").alias("id"), F.col("b").alias("component"))
        .union(
            e.select(F.col("b").alias("id"), F.col("b").alias("component"))
        )
        .union(loops)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def small_edge_list(edges: DataFrame) -> list[tuple] | None:
    """The size switch of every connected-components caller: one bounded
    fetch that both counts and collects the (a, b) edge set. Returns the
    edges as tuples when there are at most ``DRIVER_EDGE_LIMIT`` of them
    (the caller runs a driver union-find), else None (the caller runs
    ``connected_components``)."""
    rows = edges.select("a", "b").limit(DRIVER_EDGE_LIMIT + 1).collect()
    if len(rows) > DRIVER_EDGE_LIMIT:
        return None
    return [tuple(r) for r in rows]


def min_label_components(edge_rows) -> dict:
    """Driver union-find over (a, b) pairs: every endpoint → the smallest
    id of its component, the labels ``connected_components`` computes.
    The smaller root always wins a union, so each root is its
    component's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


CONFLICTS_SCHEMA = (
    "main_a string, main_b string, edge_a string, edge_b string"
)


def _sequential_union(
    edge_rows,
) -> tuple[list[dict], list[dict]]:
    """Sequential union-find with main+main refusals over an edge list
    (exact xref.cc:259-283 semantics), returning BOTH the cluster rows
    and the refused-merge CONFLICT rows — the reference's xref-builder
    outputs refused main+main merges as conflict frames
    (sling/nlp/kb/xref-builder.cc:238); silently dropping them hides
    upstream data problems. Each conflict carries the two main ids that
    could not merge and the edge that tried."""
    ordered = sorted(set(edge_rows), key=lambda e: _edge_sort_key(*e))
    parent: dict[str, str] = {}
    main_of: dict[str, str | None] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        main_of.setdefault(x, x if is_main(x) else None)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    conflicts: list[dict] = []
    for a, b in ordered:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        ma, mb = main_of[ra], main_of[rb]
        if ma is not None and mb is not None:
            conflicts.append(
                {
                    "main_a": display_id(min(ma, mb)),
                    "main_b": display_id(max(ma, mb)),
                    "edge_a": a,
                    "edge_b": b,
                }
            )
            continue
        lo, hi = min(ra, rb), max(ra, rb)
        parent[hi] = lo
        main_of[lo] = main_of[lo] or main_of[hi]
    groups: dict[str, list[str]] = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    out = []
    for group in groups.values():
        canon = display_id(min(group, key=lambda i: (id_priority(i), i)))
        out.extend({"member_id": m, "canonical_id": canon} for m in group)
    return out, conflicts


def _resolve_component(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential union-find for one component, refusing main+main
    unions; edge order = the deterministic global order."""
    rows, _conflicts = _sequential_union(
        {(r["a"], r["b"]) for r in pdf.to_dict("records")}
    )
    return pd.DataFrame(rows, columns=["member_id", "canonical_id"])


def _component_conflicts(pdf: pd.DataFrame) -> pd.DataFrame:
    """Conflict rows for one conflicted component (distributed path)."""
    _rows, conflicts = _sequential_union(
        {(r["a"], r["b"]) for r in pdf.to_dict("records")}
    )
    return pd.DataFrame(
        conflicts, columns=["main_a", "main_b", "edge_a", "edge_b"]
    )


def build_clusters(same_as: DataFrame, return_conflicts: bool = False):
    """same_as edges → (member_id, canonical_id), main-id constraint
    enforced. Singleton ids (no edges) are their own cluster and are
    simply absent — canonicalize() falls through to identity.

    With ``return_conflicts=True`` returns (clusters, conflicts): the
    refused main+main merges as (main_a, main_b, edge_a, edge_b) rows
    (xref-builder.cc:238 conflict frames), from BOTH paths.

    Edge sets up to ``DRIVER_EDGE_LIMIT`` are fetched once and run as a
    single driver-side sequential union-find (the exact xref.cc
    semantics); ``kg.xref.build_clusters.rounds`` then reads 0. Larger
    sets take the distributed path: star-round CC + per-conflicted-
    component repair — result-identical, proven by tests that force
    both."""
    edges = normalized_edges(same_as)
    edge_rows = small_edge_list(edges)
    if edge_rows is not None:
        rows, conflicts = _sequential_union(edge_rows)
        spark = same_as.sparkSession
        clusters = spark.createDataFrame(rows, schema=CLUSTERS_SCHEMA)
        if return_conflicts:
            return clusters, spark.createDataFrame(conflicts, schema=CONFLICTS_SCHEMA)
        return clusters
    # localCheckpoint, not persist+unpersist: the returned plans are
    # LAZY — an unpersist() at plan-build time would evict the cache
    # before the caller ever materializes them, recomputing the
    # normalize+distinct shuffle; the checkpoint materializes edges
    # once and truncates lineage for the whole lifetime of the result
    edges = edges.localCheckpoint()
    labels = connected_components(edges)

    mains_per_comp = (
        labels.filter(id_priority_col(F.col("id")) == 0)
        .groupBy("component")
        .agg(F.count("*").alias("n_main"))
    )
    conflicted = mains_per_comp.filter(F.col("n_main") >= 2).select("component")

    # clean components: canonical = min by (priority, id), computed as a
    # min over a zero-padded "priority|id" sort key (one hash agg, then a
    # broadcast-joined map back onto members — both dimension-sized).
    clean = labels.join(conflicted, on="component", how="left_anti")
    rank_key = F.concat(
        F.lpad(id_priority_col(F.col("id")).cast("string"), 4, "0"),
        F.lit("|"),
        F.col("id"),
    )
    best = (
        clean.withColumn("rank_key", rank_key)
        .groupBy("component")
        .agg(F.min("rank_key").alias("best"))
        .select(
            "component",
            display_id_col(F.substring_index("best", "|", -1)).alias("canonical_id"),
        )
    )
    clean_clusters = clean.join(F.broadcast(best), on="component").select(
        F.col("id").alias("member_id"), "canonical_id"
    )

    # conflicted components: per-component sequential re-solve
    comp_edges = (
        edges.join(labels.withColumnRenamed("id", "a"), on="a")
        .join(conflicted, on="component", how="left_semi")
    )
    if return_conflicts:
        # both per-component passes read comp_edges — checkpoint the
        # (conflicted-component-sized) input so the join work runs once
        comp_edges = comp_edges.localCheckpoint()
    repaired = comp_edges.groupBy("component").applyInPandas(
        _resolve_component, schema=CLUSTERS_SCHEMA
    )
    out = clean_clusters.unionByName(repaired)
    if return_conflicts:
        conflicts = comp_edges.groupBy("component").applyInPandas(
            _component_conflicts, schema=CONFLICTS_SCHEMA
        )
        return out, conflicts
    return out


def canonicalize(df: DataFrame, clusters: DataFrame, col: str) -> DataFrame:
    """Rewrite ``col`` through the cluster map (identity fall-through) —
    the item-reconciler key-rewrite step (reconciler.cc:97-150).
    Broadcast join: the cluster map is dimension-sized."""
    mapped = clusters.select(
        F.col("member_id").alias(f"__{col}_member"),
        F.col("canonical_id").alias(f"__{col}_canon"),
    )
    tmp = f"__{col}_norm"
    return (
        df.withColumn(tmp, normalize_id_col(F.col(col)))
        .join(
            F.broadcast(mapped),
            F.col(tmp) == F.col(f"__{col}_member"),
            "left",
        )
        .withColumn(
            col,
            F.when(F.col(col).isNull(), F.lit(None).cast("string")).otherwise(
                F.coalesce(F.col(f"__{col}_canon"), display_id_col(F.col(tmp)))
            ),
        )
        .drop(f"__{col}_member", f"__{col}_canon", tmp)
    )
