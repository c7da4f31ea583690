"""Materialization: partitioned triple table, extraction metrics,
RDF export."""

from __future__ import annotations

from pyspark.sql import functions as F

from sling_spark.kg.materialize import (
    counter_invariants,
    extraction_metrics,
    write_triples,
)
from sling_spark.kg.pipeline import run_pipeline


def test_materialize_and_metrics(spark, tmp_path):
    res = run_pipeline(spark, n_files=40)
    out = str(tmp_path / "triples")
    write_triples(res["triples"], out, n_buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == res["triples"].count()
    # partition pruning by source works (directory-level)
    kb_only = spark.read.parquet(out).filter(F.col("source") == "kb_statement")
    assert 0 < kb_only.count() < back.count()
    assert "subj_bucket" in back.columns

    metrics = extraction_metrics(res["doc_stats"], res["mentions"], res["relations"])
    rows = {r["repo"]: r for r in metrics.collect()}
    assert sum(r["n_docs"] for r in rows.values()) == 40
    inv = counter_invariants(metrics)
    assert inv["docs"] == 40 and inv["mentions"] > 0 and inv["relations"] > 0
    # counter parity with the actual tables
    assert inv["mentions"] == res["mentions"].count()
    assert inv["relations"] == res["relations"].count()


def test_anchor_alias_bootstrap(spark):
    """Corpus-derived anchor aliases aggregate resolved mentions and
    feed a second phrase-table build (alias bootstrap round)."""
    from pyspark.sql import functions as F

    from sling_spark.kg.anchor_aliases import corpus_anchor_aliases, merged_alias_table
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.phrase_table import build_phrase_table, select_aliases

    res = run_pipeline(spark, n_files=40)
    anchors = corpus_anchor_aliases(res["mentions"], min_count=2)
    rows = anchors.collect()
    assert len(rows) > 10
    assert all(r["sources"] == 4 for r in rows)  # SRC_ANCHOR
    # counts equal the number of non-anaphor mention occurrences
    spark_count = (
        res["mentions"].filter(~F.col("anaphora"))
        .groupBy("entity", "fp").count()
    )
    want = {(r["entity"], r["fp"]): r["count"] for r in spark_count.collect()}
    for r in rows:
        assert r["count"] == want[(r["entity"], r["fp"])]
    # the merged table builds a valid phrase table with boosted counts
    seed = seed_dataframes(spark)
    merged = merged_alias_table(seed["aliases"], anchors)
    pt2 = build_phrase_table(select_aliases(merged))
    assert pt2.count() > 0


def test_ntriples_export(spark, tmp_path):
    """RDF export renders ids as IRIs and literals as escaped strings,
    JVM-side (no Python in the plan)."""
    from sling_spark.kg.materialize import triples_to_ntriples, write_ntriples

    df = spark.createDataFrame(
        [
            ("Q1", "P1", "Q2"),
            ("Q1", "P6", "2014-02-27"),
            ("github:a/b", "P4", 'say "hi"\nplease'),
        ],
        "subj string, pred string, obj string",
    )
    lines = sorted(r["line"] for r in triples_to_ntriples(df).collect())
    assert (
        "<http://example.org/kb/Q1> <http://example.org/prop/P1> "
        "<http://example.org/kb/Q2> ." in lines
    )
    assert any('"2014-02-27"' in ln for ln in lines)
    esc = [ln for ln in lines if "github:a/b" in ln][0]
    assert '\\"hi\\"' in esc and "\\n" in esc and "\n" not in esc
    # no Python stage in the plan
    plan = triples_to_ntriples(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    out = tmp_path / "nt"
    write_ntriples(df, str(out))
    text = "".join(p.read_text() for p in out.glob("part-*"))
    assert text.count(" .") == 3


def test_turtle_export_roundtrip(spark, tmp_path):
    """Turtle printer (turtle.cc analog): prefixes + ';' predicate
    groups + ',' object lists + literal escaping, and the reader
    recovers EXACTLY the input triples through prefix expansion. Every
    written part file is a standalone valid Turtle document."""
    import glob

    from sling_spark.kg.materialize import (
        parse_turtle,
        triples_to_turtle,
        turtle_prefixes,
        write_turtle,
    )

    rows = [
        ("Q1", "P1", "Q2"),
        ("Q1", "P1", "Q3"),          # object list under one predicate
        ("Q1", "P6", "2014-02-27"),  # literal date
        ("Q1", "P9", 'say "hi"\n\\x'),  # escaping: quote, newline, backslash
        ("Q2", "P2", "github:ext1"),  # namespaced ref, colon -> full IRI
        ("i/odd id", "P1", "Q1"),    # non-PN_LOCAL subject -> full IRI
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    blocks = {r["block"] for r in triples_to_turtle(df).collect()}
    q1 = next(b for b in blocks if b.startswith("kb:Q1 "))
    assert "kb:Q2 , kb:Q3" in q1              # object list, sorted
    assert " ;\n    " in q1 and q1.endswith(" .")
    assert '"2014-02-27"' in q1
    assert '"say \\"hi\\"\\n\\\\x"' in q1     # escaped literal
    assert any(b.startswith("<http://example.org/kb/i/odd id>") for b in blocks)
    assert any("<http://example.org/kb/github:ext1>" in b for b in blocks)

    # reader round-trip: parse(prefixes + blocks) == IRI-space input
    doc = turtle_prefixes() + "\n" + "\n".join(sorted(blocks))
    got = set(parse_turtle(doc))
    kb_, p_ = "http://example.org/kb/", "http://example.org/prop/"
    expected = {
        (kb_ + s, p_ + p, kb_ + o if o in ("Q1", "Q2", "Q3", "github:ext1") else o)
        for s, p, o in rows
    }
    assert got == expected

    # distributed writer: every part file is a standalone document
    out = str(tmp_path / "ttl")
    write_turtle(df.repartition(3), out)
    parts = sorted(glob.glob(out + "/part-*"))
    assert parts
    all_triples = []
    for part in parts:
        text = open(part).read()
        assert text.startswith("@prefix kb:")
        all_triples.extend(parse_turtle(text))
    assert set(all_triples) == expected


def test_ntriples_ref_heuristic_literal_safety(spark):
    """Literals that merely LOOK like curies (mailto:, http:) must stay
    quoted literals — only the engine's emitted id namespaces render as
    IRIs (ADVICE r3: is_ref sniff rewrote foreign-schema literals)."""
    from sling_spark.kg.materialize import parse_turtle, triples_to_ntriples, triples_to_turtle, turtle_prefixes

    df = spark.createDataFrame(
        [("Q1", "P1", "mailto:someone@example.com"),
         ("Q1", "P2", "http://example.com/page"),
         ("Q1", "P3", "github:apache/spark"),
         ("Q1", "P4", "Q42")],
        "subj string, pred string, obj string",
    )
    lines = {r["line"] for r in triples_to_ntriples(df).collect()}
    assert any('"mailto:someone@example.com"' in l for l in lines)
    assert any('"http://example.com/page"' in l for l in lines)
    assert any("<http://example.org/kb/github:apache/spark>" in l for l in lines)
    assert any("<http://example.org/kb/Q42>" in l for l in lines)
    # explicit ref flag overrides the sniff entirely
    flagged = df.withColumn("is_ref", F.col("obj") == F.lit("Q42"))
    lines2 = {r["line"] for r in triples_to_ntriples(flagged.select("subj", "pred", "obj", "is_ref"), ref_col="is_ref").collect()}
    assert any('"github:apache/spark"' in l for l in lines2)
    # and the Turtle printer round-trips the sniffed literals unchanged
    blocks = "\n".join(
        r["block"] for r in triples_to_turtle(df).collect()
    )
    triples = set(parse_turtle(turtle_prefixes() + "\n" + blocks))
    assert ("http://example.org/kb/Q1", "http://example.org/prop/P1",
            "mailto:someone@example.com") in triples
