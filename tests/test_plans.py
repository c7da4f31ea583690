"""Physical-plan assertions: pushdown, pruning, broadcast, partial agg.

These lock in the scale properties the engine is designed around — a
regression here is a 100-TB performance bug even when results stay
correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from sling_spark import contract
from sling_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_aggregation,
    assert_pruned_schema,
    assert_pushed_filters,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


def test_q1_pushdown_and_partial_agg(spark):
    df = contract.q_tpch_q1(spark, SF)
    assert_pushed_filters(df, "l_shipdate")
    assert_partial_aggregation(df)
    # Q1 projects 7 of 11 lineitem columns — pruning must hold
    assert_pruned_schema(df, "lineitem", 7)


def test_q5_broadcasts_dims_no_cartesian(spark):
    df = contract.q_tpch_q5(spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    assert_pushed_filters(df, "o_orderdate")


def test_q3_filter_pushdown(spark):
    df = contract.q_tpch_q3(spark, SF)
    assert_pushed_filters(df, "c_mktsegment")
    assert_pushed_filters(df, "l_shipdate")


def test_doc_scan_pruning(spark):
    df = contract.q_doc_token_count(spark, SF)
    # only doc_id + text should be read from the documents table
    assert_pruned_schema(df, "documents", 2)


def test_mentions_stage_is_narrow(spark, tmp_path):
    """Mention detection adds NO shuffle on the corpus side: the plan
    between the documents scan and the mentions output must be
    exchange-free (store-loaded assets, mapInPandas)."""
    from sling_spark.kg.assets import build_asset_store, seed_dataframes
    from sling_spark.kg.documents import build_documents
    from sling_spark.kg.mentions import detect_mentions
    from sling_spark.sources.corpus import corpus_df

    seed = seed_dataframes(spark)
    docs = build_documents(corpus_df(spark, 30, partitions=2)).persist()
    docs.count()
    assets_bc, _ = build_asset_store(spark, docs, str(tmp_path / "assets"), seed)
    mentions = detect_mentions(docs, assets_bc)
    plan = formatted_plan(mentions)
    # the persisted documents relation contains its own (expected)
    # shuffle; everything ABOVE the cache boundary must be exchange-free
    above_cache = plan.split("InMemoryRelation", 1)[0]
    assert "Exchange" not in above_cache, plan


def test_exact_dedup_partial_agg(spark):
    df = contract.q_doc_exact_dedup(spark, SF)
    assert_partial_aggregation(df)


def test_documents_stage_is_pure_catalyst(spark):
    """The pipeline's raw documents stage (latest-version + sha) must not
    contain ANY Python evaluation node: content shuffles and hashes stay
    JVM-side; tokenization happens only in the downstream consumers
    (doc_stats / annotate) where content crosses Arrow inbound only."""
    from sling_spark.kg.documents import doc_stats, latest_with_sha
    from sling_spark.sources.corpus import corpus_df

    raw = latest_with_sha(corpus_df(spark, 50, partitions=2))
    plan = formatted_plan(raw)
    # corpus synthesis itself is a Python source; strip its subtree by
    # checking the aggregate/sha section only
    agg_section = plan[plan.index("HashAggregate") :] if "HashAggregate" in plan else plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in agg_section, f"{marker} leaked into documents stage:\n{plan}"
    # the stats pass projects only the 4 needed columns before Python
    stats = doc_stats(raw)
    splan = formatted_plan(stats)
    assert "MapInPandas" in splan  # the one sanctioned Python pass


def test_scale_critical_session_confs(spark):
    """Pin the confs the 100 TB design depends on: AQE (runtime replan +
    skew-join splitting + partition coalescing), Arrow for every pandas
    UDF path, UTC session time, and a sane shuffle width. A silent
    default regression here degrades every operator at scale even
    though results stay correct."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(conf.get("spark.sql.shuffle.partitions")) >= 4


def test_new_operator_plan_shapes(spark):
    """Round-2 operators keep the scale-critical plan shapes: the
    inverse-statement build broadcast-joins the inversion config; the
    search index is one partial-agg hash aggregation keyed by term; the
    N-Triples export has no Python node; the zero-shuffle synthetic
    documents path contains no Exchange."""
    from pyspark.sql import functions as F

    from sling_spark.kg.aggregates import search_index
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.materialize import triples_to_ntriples
    from sling_spark.kg.reconcile import invert_statements
    from sling_spark.sources.corpus import synthetic_documents

    seed = seed_dataframes(spark)
    items = seed["items"].withColumn("source_priority", F.lit(0))

    inv_plan = formatted_plan(invert_statements(items))
    assert "BroadcastHashJoin" in inv_plan  # inversion config is broadcast
    assert "SortMergeJoin" not in inv_plan

    si_plan = formatted_plan(search_index(seed["aliases"], seed["items"]))
    assert "Aggregate" in si_plan
    # ONE shuffle, keyed by term (each node appears twice in formatted
    # output: tree line '+- Exchange (n)' + detail '(n) Exchange')
    assert si_plan.count("- Exchange") <= 1

    nt = triples_to_ntriples(
        spark.createDataFrame([("Q1", "P1", "Q2")], "subj string, pred string, obj string")
    )
    nt_plan = formatted_plan(nt)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in nt_plan

    docs_plan = formatted_plan(synthetic_documents(spark, 100, partitions=2))
    assert "Exchange" not in docs_plan  # zero-shuffle documents
    assert "MapInPandas" in docs_plan  # generation is the one Python pass


def test_jaccard_candidates_path_restricts_scan(spark):
    """Round-2 verdict defect #1: with LSH `candidates`, jaccard_pairs
    must NOT run the corpus-wide shingle self-join (a join keyed by
    shingle alone) — the shingle relation is semi-joined down to
    candidate docs, folded to one array row per doc, and intersections
    come from array_intersect per candidate pair, so the only joins in
    the plan are keyed by doc ids, never by shingle alone.
    ``materialize=False`` keeps the operator's full lineage visible
    (the shipping default checkpoints the array fold, which truncates
    the inspectable plan at the materialization boundary)."""
    from sling_spark.operators.dedup import jaccard_pairs

    sh = spark.createDataFrame(
        [("d1", "a b c"), ("d1", "b c d"), ("d2", "a b c"), ("d3", "x y z")],
        "doc_id string, shingle string",
    )
    cand = spark.createDataFrame([("d1", "d2")], "doc_a string, doc_b string")
    plan = formatted_plan(
        jaccard_pairs(sh, min_jaccard=0.1, candidates=cand, materialize=False)
    )
    # the defective shape: an INNER join whose sole key is the shingle
    # column (the stop-shingle LeftAnti join is legitimately shingle-keyed)
    for block in plan.split("\n\n"):
        if "keys [1]: [shingle#" in block:
            assert "Join type: Inner" not in block, block
    # the candidate-doc restriction (LeftSemi) is present, BELOW the agg
    assert "LeftSemi" in plan, plan
    # and the stop-shingle anti-join runs on this path too
    assert "LeftAnti" in plan, plan
    # the intersection is the per-pair array fold, not a row-expansion
    # join: collect_list aggregation + array_intersect in the plan
    assert "collect_list" in plan, plan
    assert "array_intersect" in plan, plan
    # the shipping default (materialize=True) yields identical rows
    lazy = jaccard_pairs(sh, min_jaccard=0.1, candidates=cand,
                         materialize=False)
    eager = jaccard_pairs(sh, min_jaccard=0.1, candidates=cand)
    assert lazy.exceptAll(eager).count() == 0
    assert eager.exceptAll(lazy).count() == 0


def test_new_round3_plan_shapes(spark):
    """Round-3 operators keep scale-critical plan shapes: the Turtle
    export is two partial-agg hash aggregations with NO Python node;
    the transitions op is ONE cogroup shuffle (FlatMapCoGroupsInPandas)
    with the doc_stats side broadcast; action_table adds one
    partial-agg aggregation."""
    from pyspark.sql import functions as F

    from sling_spark.kg.materialize import triples_to_turtle
    from sling_spark.kg.transitions import action_table, gold_transitions

    t = spark.createDataFrame(
        [("Q1", "P1", "Q2"), ("Q1", "P2", "x y")],
        "subj string, pred string, obj string",
    )
    ttl_plan = formatted_plan(triples_to_turtle(t))
    assert ttl_plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in ttl_plan

    m = spark.createDataFrame(
        [("r", "p", "c", 0, 1, "Q1")],
        "repo string, path string, commit string, begin int, end int, entity string",
    )
    r = spark.createDataFrame(
        [("r", "p", "c", "Q1", "P1", "Q2")],
        "repo string, path string, commit string, subj string, pred string, obj string",
    )
    ds = spark.createDataFrame(
        [("r", "p", "c", 5)],
        "repo string, path string, commit string, n_tokens int",
    )
    tr = gold_transitions(m, r, ds)
    tr_plan = formatted_plan(tr)
    assert "FlatMapCoGroupsInPandas" in tr_plan
    assert "BroadcastHashJoin" in tr_plan  # doc_stats side is broadcast
    assert "SortMergeJoin" not in tr_plan

    at_plan = formatted_plan(action_table(tr))
    assert at_plan.count("HashAggregate") >= 2  # partial + final


def test_contamination_broadcasts_benchmark(spark):
    """Decontamination keeps the 100 TB shape: the benchmark shingle
    set is broadcast (LeftSemi BroadcastHashJoin) — the corpus shingles
    are never shuffled against the benchmark — and the per-doc counts
    are partial-agg aggregations."""
    from sling_spark.operators.dedup import contamination_report

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta{i} eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    rep = contamination_report(docs, bench, n=3)
    plan = formatted_plan(rep)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final aggs
    rows = {r["doc_id"]: r for r in rep.collect()}
    # benchmark members are fully self-contaminated; others share the
    # common prefix/suffix shingles but not the zeta{i} ones
    assert rows[0]["contamination"] == 1.0
    assert 0 < rows[1]["contamination"] < 1.0


def test_lm_perplexity_stays_jvm_and_partial_aggs(spark):
    """The LM scorer must stay inside whole-stage codegen: no Python
    eval anywhere (the whole point of the column-expression design),
    partial aggregation on the count tables, and projection pruning on
    the documents scan (doc_id + text only)."""
    df = contract.q_doc_lm_perplexity(spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert_partial_aggregation(df)
    assert_pruned_schema(df, "documents", 2)


def test_repetition_stats_stays_jvm(spark):
    df = contract.q_doc_repetition_stats(spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert_partial_aggregation(df)
    assert_pruned_schema(df, "documents", 2)


def test_delta_carryover_never_shuffles_the_kb(spark):
    """The O(delta) claim, structurally: the untouched-item carry-over
    is a broadcast anti-join (touched side broadcast), never a
    sort-merge exchange of the full kb_items table."""
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.delta import apply_kb_delta, demo_sources, full_rebuild
    from sling_spark.kg.xref import build_clusters

    seed = seed_dataframes(spark)
    clusters = build_clusters(seed["same_as"])
    sources, delta = demo_sources(spark)
    base = full_rebuild(sources, clusters)
    res = apply_kb_delta(spark, sources, delta, clusters, base)
    plan = formatted_plan(res["kb_items"])
    import re

    anti = [m for m in re.findall(r"\w*HashJoin\w*.*LeftAnti|SortMergeJoin.*LeftAnti", plan)]
    assert any("Broadcast" in a for a in anti), plan[:2000]
    assert not any("SortMergeJoin" in a for a in anti), anti
