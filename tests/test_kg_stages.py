"""Spark pipeline stages vs the pure-Python oracle (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from sling_spark.kg.assets import build_asset_store, load_assets, seed_dataframes
from sling_spark.kg.documents import build_documents, idf_table
from sling_spark.kg.mentions import annotate, mentions_of, relations_of
from sling_spark.kg import xref
from sling_spark.kg.relations import facts_df
from sling_spark.kg.xref import build_clusters
from sling_spark.oracle import kg_oracle
from sling_spark.sources.corpus import corpus_df

N_FILES = 60


@pytest.fixture(scope="module")
def oracle():
    docs = kg_oracle.latest_corpus(N_FILES)
    pt = kg_oracle.build_phrase_table()
    idf = kg_oracle.build_idf(docs)
    popularity = {r["id"]: r["count"] for r in __import__("sling_spark.sources.kb", fromlist=["kb"]).popularity_rows()}
    links = {}
    from sling_spark.sources import kb as kbmod

    for r in kbmod.links_rows():
        links.setdefault(r["src"], []).append((r["dst"], r["count"]))
    for v in links.values():
        v.sort()
    mentions = kg_oracle.annotate(docs, pt, idf, popularity, links)
    relations = kg_oracle.extract_relations(mentions)
    return {
        "docs": docs,
        "pt": pt,
        "idf": idf,
        "mentions": mentions,
        "relations": relations,
    }


@pytest.fixture(scope="module")
def stages(spark, tmp_path_factory):
    seed = seed_dataframes(spark)
    documents = build_documents(corpus_df(spark, N_FILES, partitions=4)).persist()
    store_dir = str(tmp_path_factory.mktemp("assets"))
    assets_bc, pt_df = build_asset_store(spark, documents, store_dir, seed)
    annotations = annotate(documents, assets_bc).persist()
    return {
        "seed": seed,
        "documents": documents,
        "pt_df": pt_df,
        "assets_bc": assets_bc,
        "assets": load_assets(assets_bc.value),
        "mentions": mentions_of(annotations),
        "relations": relations_of(annotations),
    }


def test_documents_match_oracle(stages, oracle):
    got = {
        (r["repo"], r["path"], r["commit"], r["content_sha"], r["n_tokens"])
        for r in stages["documents"].collect()
    }
    want = {
        (d["repo"], d["path"], d["commit"], d["content_sha"], len(d["tokens"]))
        for d in oracle["docs"]
    }
    assert got == want
    assert len(got) == N_FILES  # latest-commit dedup kept one row per file


def test_phrase_table_matches_oracle(stages, oracle):
    got = {
        r["fp"]: [(e["entity"], e["count"], e["form"], e["reliable"]) for e in r["entries"]]
        for r in stages["pt_df"].collect()
    }
    assert got == oracle["pt"]


def test_idf_matches_oracle(spark, stages, oracle):
    got = {r["fp"]: r["idf"] for r in idf_table(stages["documents"]).collect()}
    want = oracle["idf"]
    assert set(got) == set(want)
    for fp, v in want.items():
        assert got[fp] == pytest.approx(v, abs=1e-12)


def test_mentions_match_oracle(stages, oracle):
    cols = ["repo", "path", "commit", "sentence", "begin", "end", "phrase",
            "fp", "entity", "score", "form", "anaphora"]
    got = {tuple(r[c] for c in cols) for r in stages["mentions"].collect()}
    want = {tuple(m[c] for c in cols) for m in oracle["mentions"]}
    assert got == want
    assert len(got) > 100  # sanity: the corpus actually produces mentions


def test_relations_match_oracle(stages, oracle):
    cols = ["repo", "path", "commit", "sentence", "subj", "pred", "obj",
            "begin", "end"]
    got = [tuple(r[c] for c in cols) for r in stages["relations"].collect()]
    want = [tuple(t[c] for c in cols) for t in oracle["relations"]]
    assert sorted(got) == sorted(want)
    assert len(got) > 20


def test_facts_closure_matches_lookup(spark, stages):
    """The DataFrame P279 closure (facts_df) emits exactly the fact set
    of the pure-Python closure (facts.h Facts::Extract semantics)."""
    from sling_spark.sources import kb as kbmod

    got = {
        (r["subj"], r["pid"], r["obj"])
        for r in facts_df(stages["seed"]["items"]).collect()
    }
    want = {
        (subj, pid, obj)
        for subj, facts in kbmod.facts_lookup().items()
        for pid, obj in facts
    }
    assert got == want
    # inherited facts present: TensorFlow gets protobuf (depth 1) and
    # JSON (depth 2) through the Q71 -> Q72 chain
    assert ("Q6", "P5", "Q24") in got and ("Q6", "P1", "Q23") in got


def test_xref_clusters_match_oracle(spark, stages):
    got = {
        r["member_id"]: r["canonical_id"]
        for r in build_clusters(stages["seed"]["same_as"]).collect()
    }
    want = kg_oracle.build_clusters()
    assert got == want
    # the distributed path (min-label CC + per-conflicted-component
    # repair) must be result-identical to the driver union-find
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(xref, "DRIVER_EDGE_LIMIT", 0)
        dist = {
            r["member_id"]: r["canonical_id"]
            for r in build_clusters(stages["seed"]["same_as"]).collect()
        }
    assert dist == want
    # adversarial invariants
    assert got["github:apache/spark"] == "Q1"  # case-variant edge folded in
    assert got["crates:redis"] == "Q38"  # ring closed fine
    # two-main conflict: pypi:torch ends up in exactly one of Q6/Q7,
    # and Q6/Q7 are NOT merged
    assert got["pypi:torch"] in {"Q6", "Q7"}
    assert got["Q:Q6"] == "Q6" and got["Q:Q7"] == "Q7"


def test_gendered_anaphora_agreement(stages):
    """anaphora.cc gender agreement: he/his/him resolve only to MASC
    entities, she/her/hers only to FEM, it/this only to genderless."""
    from sling_spark.sources.kb import gender_lookup

    g = gender_lookup()
    anaphors = [
        r for r in stages["mentions"].collect() if r["anaphora"]
    ]
    assert anaphors
    saw = set()
    for m in anaphors:
        w = m["phrase"].casefold()
        want = 1 if w in ("he", "his", "him") else 2 if w in ("she", "her", "hers") else 0
        assert g.get(m["entity"], 0) == want, (w, m["entity"])
        saw.add(want)
    # the corpus exercises all three agreement classes
    assert saw == {0, 1, 2}


def test_annotate_text_per_record_entry(stages):
    """§3.2 per-record entry: one-shot annotate of a single string using
    the broadcast assets — same shapes as the distributed path."""
    from sling_spark.kg.mentions import annotate_text

    out = annotate_text(
        "# Apache Spark depends on Hadoop at runtime\n"
        "# it is maintained by Apache engineers\n",
        stages["assets"],
    )
    ents = {m["entity"] for m in out["mentions"]}
    assert {"Q1", "Q2"} <= ents
    # the "it" anaphor resolved and produced a relation subject
    assert any(m["anaphora"] and m["entity"] == "Q1" for m in out["mentions"])
    assert any(r["subj"] == "Q1" and r["pred"] == "P1" and r["obj"] == "Q2"
               for r in out["relations"])
    assert "[Apache Spark|Q1]" in out["lex"]


def test_inverse_property_reconciliation(spark):
    """ItemReconciler property inversion (reference reconciler.cc:97-273):
    inverse statements keyed by target, qualifier inversion, gendered
    P40 child -> P22 father / P25 mother, and every skip rule."""
    from pyspark.sql import functions as F

    from sling_spark.kg.reconcile import ITEMS_SCHEMA, invert_statements

    def item(iid, stmts, prio=0):
        return (
            iid,
            None,
            [],
            [(pid, obj, dict(q)) for pid, obj, q in stmts],
            prio,
        )

    items = spark.createDataFrame(
        [
            # plain inversion + qualifier inversion (P3 carries `since`,
            # drops unmapped qualifiers)
            item("Q1", [("P3", "Q50", {"since": "2014", "rank": "preferred"})]),
            # literal object: never inverted
            item("Q1b", [("P3", "2014-02", {})]),
            # self-relation: never inverted
            item("Q1c", [("P3", "Q1c", {})]),
            # gendered: male subject -> target gets P22 father
            item("Q83", [("P21", "Q91", {}), ("P40", "Q84", {})]),
            # gendered: female subject -> target gets P25 mother
            item("Q85", [("P21", "Q92", {}), ("P40", "Q86", {})]),
            # gendered but QUALIFIED: skipped
            item("Q87", [("P21", "Q91", {}), ("P40", "Q88", {"order": "x"})]),
            # gendered but NO gender on subject: skipped
            item("Q89", [("P40", "Q90", {})]),
            # alt-id object IS an item ref -> inverted
            item("github:a/b", [("P7", "Q2", {})], prio=1),
        ],
        schema=ITEMS_SCHEMA + ", source_priority int",
    )
    inv = invert_statements(items)
    rows = {
        (r["id"], s["pid"], s["object"], tuple(sorted((s["qualifiers"] or {}).items())))
        for r in inv.collect()
        for s in r["statements"]
    }
    assert rows == {
        ("Q50", "P103", "Q1", (("since", "2014"),)),  # mapped qualifier kept
        ("Q84", "P22", "Q83", ()),  # father by male subject
        ("Q86", "P25", "Q85", ()),  # mother by female subject
        ("Q2", "P108", "github:a/b", ()),  # created -> created by
    }
    # merge-order key is collision-free and deterministic
    ids = [(r["id"], r["orig_id"]) for r in inv.collect()]
    assert all("#inv:" in o for _i, o in ids)
    # fanin priority: fragments carry the subject's source priority
    pr = {r["id"]: r["source_priority"] for r in inv.collect()}
    assert pr["Q2"] == 1 and pr["Q50"] == 0

    # Spark twin == independent Python oracle on the real seed KB
    from sling_spark.oracle import kg_oracle
    from sling_spark.sources import kb

    sources = [dict(it, source_priority=0) for it in kb.entities()]
    sources += kb.source_item_fragments()
    oracle_frags = {
        (f["id"], s["pid"], s["object"])
        for f in kg_oracle.invert_statements(sources)
        for s in f["statements"]
    }
    from sling_spark.kg.assets import seed_dataframes

    seed = seed_dataframes(spark)
    all_items = seed["items"].withColumn("source_priority", F.lit(0)).unionByName(
        seed["fragments"]
    )
    spark_frags = {
        (r["id"], s["pid"], s["object"])
        for r in invert_statements(all_items).collect()
        for s in r["statements"]
    }
    assert spark_frags == oracle_frags
    # the seed KB exercises both gendered branches
    pids = {p for _i, p, _o in spark_frags}
    assert "P22" in pids and {"P101", "P103", "P108"} <= pids


def test_asset_store_scale_path(spark, tmp_path):
    """The 100x-scale asset path (SLING repository memory-map analog):
    build_asset_store writes Parquet + broadcasts only a handle — NO
    driver collect anywhere — and workers lazily load per process. Asset
    dicts derived from the KB DataFrames match the fixture literals."""
    import pickle

    import pyspark.sql as psql

    from sling_spark.kg.assets import AssetStore, gender_from_items, links_from_items
    from sling_spark.kg.documents import doc_stats, latest_with_sha
    from sling_spark.kg.mentions import detect_mentions
    from sling_spark.sources import kb
    from sling_spark.sources.corpus import corpus_df

    seed = seed_dataframes(spark)
    docs = latest_with_sha(corpus_df(spark, 30, partitions=4)).persist()
    stats = doc_stats(docs).persist()
    stats.count()

    # --- DataFrame-derived asset dicts == fixture literals -------------
    fix_links = {}
    for r in kb.links_rows():
        fix_links.setdefault(r["src"], []).append((r["dst"], r["count"]))
    for v in fix_links.values():
        v.sort()
    df_links = {}
    for r in links_from_items(seed["items"]).collect():
        df_links.setdefault(r["src"], []).append((r["dst"], r["count"]))
    for v in df_links.values():
        v.sort()
    assert df_links == fix_links
    assert {
        r["id"]: r["gender"] for r in gender_from_items(seed["items"]).collect()
    } == kb.gender_lookup()

    # --- zero driver-side collect ---------------------------------------
    store_dir = str(tmp_path / "assets")
    orig_collect = psql.DataFrame.collect

    def no_collect(self, *a, **k):
        raise AssertionError("store mode must not collect on the driver")

    psql.DataFrame.collect = no_collect
    try:
        bc2, _pt = build_asset_store(spark, stats, store_dir, seed)
    finally:
        psql.DataFrame.collect = orig_collect
    # the broadcast payload is a tiny handle, not the tables
    assert isinstance(bc2.value, AssetStore)
    assert len(pickle.dumps(bc2.value)) < 1000

    # --- worker-side loader handles a table far beyond fixture scale ---
    from sling_spark.functions.tokenize import phrase_fingerprint, phrase_form

    big = [
        {
            "entity": f"E{i}",
            "alias": f"bigalias{i} v{j}",
            "fp": phrase_fingerprint(f"bigalias{i} v{j}"),
            "count": 5 + j,
            "form": phrase_form(f"bigalias{i} v{j}"),
            "sources": 2,
        }
        for i in range(20000)
        for j in range(2)
    ]
    big_seed = dict(seed, aliases=spark.createDataFrame(
        big, schema="entity string, alias string, fp long, count int, form int, sources int"
    ))
    big_dir = str(tmp_path / "big_assets")
    psql.DataFrame.collect = no_collect
    try:
        bc3, _ = build_asset_store(spark, stats, big_dir, big_seed)
    finally:
        psql.DataFrame.collect = orig_collect
    loaded = load_assets(bc3.value)
    # the alias selector folds the edit-distance-1 "v0" variant into
    # "v1" per entity, leaving one phrase per entity — 20k entries
    assert len(loaded.phrase_table) >= 20000
    # a doc mentioning a big-table alias resolves through the store
    probe = spark.createDataFrame(
        [("r", "p", "c", "sha", "uses bigalias7 v1 here")],
        "repo string, path string, commit string, content_sha string, content string",
    )
    ents = {r["entity"] for r in detect_mentions(probe, bc3).collect()}
    assert "E7" in ents

    # --- rebuild at the SAME path invalidates worker caches -------------
    # (ADVICE r02: _STORE_CACHE was keyed by path only, so a reused
    # worker process silently annotated with the stale first build).
    # Calling load_assets twice in THIS process is exactly the
    # reused-worker scenario.
    first = load_assets(bc3.value)
    extra = dict(big_seed)
    extra["aliases"] = big_seed["aliases"].union(
        spark.createDataFrame(
            [("E999", "freshalias token", phrase_fingerprint("freshalias token"),
              9, phrase_form("freshalias token"), 2)],
            "entity string, alias string, fp long, count int, form int, sources int",
        )
    )
    bc4, _ = build_asset_store(spark, stats, big_dir, extra)
    assert bc4.value.token != bc3.value.token
    second = load_assets(bc4.value)
    fp_new = phrase_fingerprint("freshalias token")
    assert fp_new not in first.phrase_table  # stale build lacks it
    assert fp_new in second.phrase_table  # rebuild visible despite same path
    # the rebuild REPLACES the worker-cache entry (one copy per path,
    # not one per build token — a reused worker must not accumulate
    # every superseded GB-scale asset copy)
    from sling_spark.kg.assets import _STORE_CACHE

    assert _STORE_CACHE[bc4.value.path][0] == bc4.value.token

    docs.unpersist()
    stats.unpersist()


def test_asset_store_location():
    """run_pipeline's store directory: the explicit dir, else beside the
    checkpoints, else a temp dir — which only a local master can use."""
    import os
    from types import SimpleNamespace

    from sling_spark.kg.assets import store_location

    def session(master):
        return SimpleNamespace(sparkContext=SimpleNamespace(master=master))

    cluster = session("spark://head:7077")
    assert store_location(cluster, "s3://b/assets", "s3://b/ckpt") == "s3://b/assets"
    assert store_location(cluster, None, "hdfs:///ckpt/") == "hdfs:///ckpt/assets"
    with pytest.raises(ValueError, match="asset_store_dir.*checkpoint_dir"):
        store_location(cluster)
    for master in ("local", "local[4]", "local[4,2]"):
        assert os.path.isdir(store_location(session(master)))


def test_alias_selector_thresholds(spark):
    """Full AliasSelector semantics (reference aliases.cc:246-624):
    anchor_threshold on pure anchors, variation adoption gated by
    min_prefix + max_edit_distance + same-digits, majority case form."""
    from sling_spark.functions.normalize import CASE_LOWER, CASE_NONE, CASE_UPPER
    from sling_spark.functions.tokenize import phrase_fingerprint, phrase_form
    from sling_spark.kg.assets import ALIAS_SCHEMA, seed_dataframes
    from sling_spark.kg.phrase_table import select_aliases
    from sling_spark.oracle.kg_oracle import select_alias_rows
    from sling_spark.sources import kb

    def row(entity, alias, count, sources, form=None):
        return {
            "entity": entity, "alias": alias,
            "fp": phrase_fingerprint(alias), "count": count,
            "form": phrase_form(alias) if form is None else form,
            "sources": sources,
        }

    rows = [
        row("E1", "Widget", 5, 1),        # trusted: always selected
        row("E1", "gadget", 50, 4),       # pure anchor < threshold: dropped
        row("E1", "doohickey", 150, 4),   # pure anchor >= threshold: kept
        row("E1", "widgets", 3, 4),       # variation of Widget (prefix+edit1)
        row("E1", "midget", 80, 4),       # edit 1 but prefix 0: dropped
        row("E1", "mod 9", 4, 2),         # trusted with digit
        row("E1", "mod 8", 90, 4),        # digits differ: NOT a variation
        row("E2", "ACME", 30, 2),         # 30/40 >= 0.75 -> UPPER wins
        row("E2", "acme", 10, 4),
        row("E3", "Beta", 20, 2),         # 20/40 < 0.75 -> form NONE
        row("E3", "beta", 20, 4),
    ]
    df = spark.createDataFrame(rows, schema=ALIAS_SCHEMA)
    got = {
        (r["entity"], r["alias"]): (r["count"], r["form"], r["sources"], r["reliable"])
        for r in select_aliases(df, anchor_threshold=100).collect()
    }
    assert set(got) == {
        ("E1", "Widget"), ("E1", "doohickey"), ("E1", "widgets"),
        ("E1", "mod 9"), ("E2", "ACME"), ("E3", "Beta"),
    }
    assert got[("E1", "widgets")][2] == 4 | 8  # VARIATION bit set
    assert got[("E1", "widgets")][3] is False  # not a trusted alias
    assert got[("E2", "ACME")] == (40, CASE_UPPER, 2 | 4, True)
    assert got[("E3", "Beta")][1] == CASE_NONE
    assert got[("E1", "mod 9")][1] == CASE_LOWER

    # oracle twin agrees on the same input
    oracle = {
        (r["entity"], r["alias"]): (r["count"], r["form"], r["sources"], r["reliable"])
        for r in select_alias_rows(rows, anchor_threshold=100)
    }
    assert oracle == got

    # and on the full seed KB (fp-group majority forms)
    seed = seed_dataframes(spark)
    spark_sel = {
        (r["entity"], r["fp"]): (r["alias"], r["count"], r["form"])
        for r in select_aliases(seed["aliases"]).collect()
    }
    oracle_sel = {
        (r["entity"], r["fp"]): (r["alias"], r["count"], r["form"])
        for r in select_alias_rows(kb.alias_rows())
    }
    assert spark_sel == oracle_sel


def test_normalize_id_column_twin_parity(spark):
    """normalize_id_col must agree with the driver-side normalize_id on
    every shape — in particular keys CONTAINING ':' (composite ids,
    timestamp literals), where a last-colon split silently corrupts the
    value and diverges from the oracle."""
    from pyspark.sql import functions as F

    from sling_spark.kg.xref import normalize_id, normalize_id_col

    ids = [
        "Q42", "github:Apache/Spark", "maven:org.apache:spark-core",
        "2014-02-27T10:30:00", "npm:@scope/pkg", "pypi:Py:Pkg:Extra",
        "plainword", "a:b", "a:b:c:d", "Q:Q7",
    ]
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    got = {
        r["id"]: r["norm"]
        for r in df.select("id", normalize_id_col(F.col("id")).alias("norm")).collect()
    }
    assert got == {i: normalize_id(i) for i in ids}


def test_xref_conflict_reporting(spark):
    """Refused main+main merges surface as conflict rows from BOTH the
    driver union-find and the distributed CC+repair path, on an
    adversarial edge order (xref-builder.cc:238 conflict frames)."""
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.xref import build_clusters

    seed = seed_dataframes(spark)
    _cl, conf = build_clusters(seed["same_as"], return_conflicts=True)
    driver = {tuple(r) for r in conf.collect()}
    # the seed plants exactly one bad upstream link: pypi:torch claimed
    # by both Q6 (TensorFlow) and Q7 (PyTorch)
    assert len(driver) == 1
    ((ma, mb, ea, eb),) = driver
    assert (ma, mb) == ("Q6", "Q7")
    assert "pypi:torch" in (ea, eb)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(xref, "DRIVER_EDGE_LIMIT", 0)
        _cl2, conf2 = build_clusters(seed["same_as"], return_conflicts=True)
        assert {tuple(r) for r in conf2.collect()} == driver

    # adversarial order: a chain that reaches the second main id LAST,
    # plus extra edges whose order could flip the refusal point
    rows = [
        ("Q:Q1", "github:a", 0, 1, False),
        ("github:a", "pypi:b", 1, 2, False),
        ("pypi:b", "npm:c", 2, 5, False),
        ("npm:c", "Q:Q2", 5, 0, False),   # closing edge must be refused
        ("Q:Q2", "maven:d", 0, 3, False),
        ("maven:d", "pypi:b", 3, 2, False),  # second path, also refused
    ]
    sa = spark.createDataFrame(
        rows,
        "id_a string, id_b string, priority_a int, priority_b int, redirect boolean",
    )
    cl_a, conf_a = build_clusters(sa, return_conflicts=True)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(xref, "DRIVER_EDGE_LIMIT", 0)
        cl_b, conf_b = build_clusters(sa, return_conflicts=True)
        assert {tuple(r) for r in cl_a.collect()} == {tuple(r) for r in cl_b.collect()}
        ca, cb = {tuple(r) for r in conf_a.collect()}, {tuple(r) for r in conf_b.collect()}
    assert ca == cb and len(ca) >= 1
    assert all(m[:2] == ("Q1", "Q2") for m in ca)


def test_phrase_structure_annotator(spark, stages):
    """Phrase-structure analog (phrases.cc:37-160): 'Apache Spark'
    resolved to Q1 gains the sub-mention 'Apache' -> Q50 (the
    foundation) with the developed-by role; the full span itself is
    never a sub-mention, and sub-mentions resolving to the parent are
    dropped."""
    from sling_spark.functions.tokenize import tokenize
    from sling_spark.kg.phrase_structure import (
        analyze_phrase,
        phrase_structure,
    )
    from sling_spark.oracle.kg_oracle import build_phrase_table
    from sling_spark.sources import kb

    pt, st = build_phrase_table(), kb.facts_lookup()
    # scalar core: the Apache example
    words = [t.word for t in tokenize("Apache Spark")]
    got = analyze_phrase(words, "Q1", pt, st)
    assert got == [(0, 1, "Q50", "P3")]
    # a single-token phrase has no PROPER subphrase
    assert analyze_phrase(["Spark"], "Q1", pt, st) == []
    # Node.js: 'js' resolves to JavaScript; the role is the FIRST fact
    # with that target in priority order (P1 depends-on here — the
    # reference likewise takes the first matching fact, phrases.cc:137)
    wjs = [t.word for t in tokenize("Node.js")]
    assert ("Q13", "P1") in {(s, p) for _b, _e, s, p in analyze_phrase(wjs, "Q35", pt, st)}

    # spark path over the pipeline's own mentions
    sub_rows = phrase_structure(stages["mentions"], stages["assets_bc"]).collect()
    rows = {(r["entity"], r["sub_entity"], r["pid"]) for r in sub_rows}
    assert ("Q1", "Q50", "P3") in rows
    # offsets: every sub-span sits strictly inside its parent span
    for r in sub_rows:
        assert r["begin"] <= r["sub_begin"] < r["sub_end"] <= r["end"]
        assert (r["sub_end"] - r["sub_begin"]) < (r["end"] - r["begin"])


def test_generate_transitions_rejects_overlap():
    """Overlapping spans violate the LIFO mark-stack precondition and
    must fail loudly, not silently swap boundaries (ADVICE r3)."""
    import pytest

    from sling_spark.kg.transitions import generate_transitions

    with pytest.raises(ValueError, match="disjoint"):
        generate_transitions([(0, 3, "Q1"), (2, 5, "Q2")], {}, 6)
    # touching spans are fine
    acts = generate_transitions([(0, 2, "Q1"), (2, 4, "Q2")], {}, 4)
    assert [a[0] for a in acts].count("EVOKE") == 2


def test_word_vocabulary_uses_engine_normalization(spark):
    """vocabulary-builder.cc:56-64 counts UTF8::Normalize'd words: two
    spellings that normalize_phrase folds together ('Café'/'cafe',
    "O'Neill"/'oneill') must merge into ONE vocabulary row, keyed by
    the same string the fingerprints use — bare lower() would not.
    (The code-corpus tokenizer emits ASCII identifier tokens, where the
    two coincide; the operator contract covers ANY tokenized table, so
    the fixture hand-builds Unicode token rows.)"""
    from sling_spark.kg.aggregates import word_vocabulary

    docs = spark.createDataFrame(
        [(["Café", "cafe", "O'Neill", "café", "x"], [11, 11, 12, 11, 13])],
        "t_word array<string>, t_fp array<long>",
    )
    vocab = {r["word"]: r["count"] for r in word_vocabulary(docs).collect()}
    assert vocab == {"cafe": 3, "oneill": 1, "x": 1}


def test_inverse_self_loop_dropped_post_canonicalization(spark):
    """An inversion-property statement pointing into the subject's OWN
    same-as cluster must not become a self-loop after canonicalization
    (reconciler.cc:158-162 skips self-relations on already-mapped ids);
    a forward self-statement passes through, as in the reference
    merger. Spark path and oracle twin must agree."""
    from sling_spark.kg.reconcile import (
        invert_statements, merge_items, reconcile_items,
    )
    from sling_spark.oracle import kg_oracle

    items = spark.createDataFrame(
        [("Q1", "Spark", ["framework"],
          [{"pid": "P1", "object": "github:a/b", "qualifiers": {}}], 0)],
        "id string, name string, types array<string>, "
        "statements array<struct<pid string, object string, "
        "qualifiers map<string,string>>>, source_priority int",
    )
    clusters = spark.createDataFrame(
        [("github:a/b", "Q1")], "member_id string, canonical_id string"
    )
    all_items = items.unionByName(
        invert_statements(items), allowMissingColumns=True
    )
    merged = merge_items(reconcile_items(all_items, clusters)).collect()
    assert len(merged) == 1
    stmts = [(s["pid"], s["object"]) for s in merged[0]["statements"]]
    # forward statement canonicalizes to (P1, Q1) and stays; the
    # P101 inverse fragment (raw target github:a/b -> canonical Q1)
    # must be dropped as a post-canonicalization self-relation
    assert ("P1", "Q1") in stmts
    assert ("P101", "Q1") not in stmts

    sources = [{"id": "Q1", "name": "Spark", "types": ["framework"],
                "statements": [{"pid": "P1", "object": "github:a/b",
                                "qualifiers": {}}],
                "source_priority": 0}]
    oracle = kg_oracle.merge_items({"github:a/b": "Q1"}, sources=sources)
    ostmts = [(s["pid"], s["object"]) for s in oracle[0]["statements"]]
    assert sorted(ostmts) == sorted(stmts)


def test_date_precision_merge_keeps_winner_qualifiers(spark):
    """When a more precise date replaces a less precise twin, the
    precise statement wins WHOLESALE — object and qualifiers together
    (ReconcileDates keeps the winner slot, reconciler.cc:568-623)."""
    from sling_spark.kg.reconcile import merge_items, reconcile_items
    from sling_spark.oracle import kg_oracle

    schema = (
        "id string, name string, types array<string>, "
        "statements array<struct<pid string, object string, "
        "qualifiers map<string,string>>>, source_priority int"
    )
    items = spark.createDataFrame(
        [("Q9", "Thing", [],
          [{"pid": "P6", "object": "2014", "qualifiers": {}}], 0),
         ("Q9", None, [],
          [{"pid": "P6", "object": "2014-02-01",
            "qualifiers": {"since": "x"}}], 1)],
        schema,
    )
    clusters = spark.createDataFrame([], "member_id string, canonical_id string")
    merged = merge_items(reconcile_items(items, clusters)).collect()
    assert len(merged) == 1
    st = [s for s in merged[0]["statements"] if s["pid"] == "P6"]
    assert len(st) == 1
    assert st[0]["object"] == "2014-02-01"
    assert dict(st[0]["qualifiers"]) == {"since": "x"}

    sources = [
        {"id": "Q9", "name": "Thing", "types": [], "source_priority": 0,
         "statements": [{"pid": "P6", "object": "2014", "qualifiers": {}}]},
        {"id": "Q9", "name": None, "types": [], "source_priority": 1,
         "statements": [{"pid": "P6", "object": "2014-02-01",
                         "qualifiers": {"since": "x"}}]},
    ]
    oracle = kg_oracle.merge_items({}, sources=sources)
    ost = [s for s in oracle[0]["statements"] if s["pid"] == "P6"]
    assert ost[0]["object"] == "2014-02-01"
    assert ost[0]["qualifiers"] == {"since": "x"}


def test_phrase_table_oracle_matches_pipeline_on_anchor_aliases(spark):
    """The oracle phrase table selects with the pipeline's anchor
    threshold (min_alias_count=2, not select_alias_rows' bootstrap
    default of 100) and derives each entry's reliable flag from its
    sources — an anchor-class alias (sources=4, count in [2,100)) is
    selected by BOTH paths with reliable=False."""
    from sling_spark.kg.phrase_table import build_phrase_table as pt_build
    from sling_spark.kg.phrase_table import select_aliases
    from sling_spark.oracle.kg_oracle import (
        build_phrase_table as oracle_pt,
        select_alias_rows,
    )
    from sling_spark.sources import kb

    anchor = {
        "entity": "Q1", "alias": "sparky anchor", "count": 5,
        "form": 1, "sources": 4,
        "fp": __import__(
            "sling_spark.functions.tokenize", fromlist=["t"]
        ).phrase_fingerprint("sparky anchor"),
    }
    rows = kb.alias_rows() + [anchor]
    sel = select_alias_rows(rows, anchor_threshold=2)
    picked = [r for r in sel if r["alias"] == "sparky anchor"]
    assert picked and picked[0]["reliable"] is False

    df = spark.createDataFrame(
        rows, "entity string, alias string, fp long, count int, "
              "form int, sources int",
    )
    table = {
        r["fp"]: [(e["entity"], e["count"], e["form"], e["reliable"])
                  for e in r["entries"]]
        for r in pt_build(select_aliases(df, anchor_threshold=2)).collect()
    }
    # oracle twin over the same augmented rows, via the module seam:
    # selection params and reliable derivation must agree entry-by-entry
    per = {}
    for s in sel:
        key = (s["fp"], s["entity"])
        slot = per.setdefault(
            key, {"count": 0, "form": None, "best": -1, "reliable": False})
        slot["count"] += s["count"]
        slot["reliable"] = slot["reliable"] or s["reliable"]
        if s["count"] > slot["best"]:
            slot["best"], slot["form"] = s["count"], s["form"]
    want = {}
    for (fp, entity), slot in per.items():
        want.setdefault(fp, []).append(
            (entity, slot["count"], slot["form"], slot["reliable"]))
    for fp in want:
        want[fp].sort(key=lambda t: (-t[1], t[0]))
    assert table == want
    # and the default oracle (fixture-only) equals the pipeline default
    fixture_sel = select_aliases(
        spark.createDataFrame(
            kb.alias_rows(),
            "entity string, alias string, fp long, count int, "
            "form int, sources int",
        ),
        anchor_threshold=2,
    )
    fixture_table = {
        r["fp"]: [(e["entity"], e["count"], e["form"], e["reliable"])
                  for e in r["entries"]]
        for r in pt_build(fixture_sel).collect()
    }
    assert fixture_table == oracle_pt()
