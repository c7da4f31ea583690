"""Tests for the wider operator inventory: KB aggregations, biaffine
scorer, BIO decoder, transition system, dates, and the guard that every
library module is reachable from an entry point."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from sling_spark.functions.dates import (
    P_DAY,
    P_MONTH,
    P_YEAR,
    more_precise,
    parse_date,
)


def test_parse_date_and_precision():
    assert parse_date("1958").precision == P_YEAR
    assert parse_date("1958-03").precision == P_MONTH
    assert parse_date("1958-03-14").precision == P_DAY
    assert parse_date("-0500").year == -500
    assert parse_date("1958-13") is None
    assert parse_date("banana") is None
    assert more_precise("1958", "1958-03-14") == "1958-03-14"
    assert more_precise("1958-03", "1958") == "1958-03"
    assert more_precise("1958", "1959-01") == "1958"  # incompatible
    # star notation (calendar.h:82-84): decade / century / millennium
    from sling_spark.functions.dates import P_CENTURY, P_DECADE, P_MILLENNIUM

    assert parse_date("195*").precision == P_DECADE
    assert parse_date("195*").year == 1950
    assert parse_date("19**").precision == P_CENTURY
    assert parse_date("1***") == parse_date("1***")
    assert parse_date("1***").precision == P_MILLENNIUM
    assert parse_date("-5**").year == -500  # 5th century BC
    assert parse_date("19***") is None  # > 4 digits of year
    assert more_precise("195*", "1958-03") == "1958-03"  # inside the decade
    assert more_precise("19**", "1958") == "1958"


def test_parse_date_textual_forms():
    """Month-name / decade / century textual forms (DateAnnotator
    calendar resolution, reference sling/nlp/kb/calendar.cc)."""
    from sling_spark.functions.dates import P_CENTURY, P_DECADE

    d = parse_date("May 14, 1984")
    assert (d.year, d.month, d.day, d.precision) == (1984, 5, 14, P_DAY)
    # token-joined surface (comma is its own token in mention phrases)
    assert parse_date("May 14 , 1984") == d
    assert parse_date("may 14, 1984") == d  # case-insensitive
    d2 = parse_date("14 May 1984")
    assert (d2.year, d2.month, d2.day, d2.precision) == (1984, 5, 14, P_DAY)
    dm = parse_date("September 2016")
    assert (dm.year, dm.month, dm.precision) == (2016, 9, P_MONTH)
    dd = parse_date("1960s")
    assert (dd.year, dd.precision) == (1960, P_DECADE)
    dc = parse_date("19th century")  # 1801-1900 → star prefix 18
    assert (dc.year, dc.precision) == (1800, P_CENTURY)
    assert parse_date("21st century").year == 2000
    assert parse_date("May 32, 1984") is None  # invalid day
    assert parse_date("0th century") is None
    # textual and star forms agree under more_precise
    assert more_precise("196*", "1964-07") == "1964-07"
    assert more_precise("18**", "1867") == "1867"
    assert more_precise("195*", "1968") == "195*"  # different decade
    # abbreviated month forms (month_of_word: abbreviations match only
    # when capitalized in the TOKEN path; parse_date takes any case)
    from sling_spark.functions.dates import month_of_word

    da = parse_date("Jan 5, 2020")
    assert (da.year, da.month, da.day, da.precision) == (2020, 1, 5, P_DAY)
    assert parse_date("5 Dec 2019").month == 12
    assert (parse_date("Sept 2016").month, parse_date("Sep 2016").month) == (9, 9)
    assert month_of_word("Dec") == 12 and month_of_word("dec") is None
    assert month_of_word("may") == 5  # full names stay case-insensitive


def test_kb_aggregates(spark):
    from sling_spark.kg.aggregates import (
        best_per_group,
        invert_membership,
        item_fanin,
        item_popularity,
        merge_links,
        property_usage,
    )
    from sling_spark.kg.assets import seed_dataframes

    seed = seed_dataframes(spark)
    fanin = {r["target"]: r["fanin"] for r in item_fanin(seed["items"]).collect()}
    assert fanin["Q60"] > 5  # Apache license is referenced a lot
    links = merge_links(seed["links"])
    pop = {r["id"]: r["popularity"] for r in item_popularity(links).collect()}
    assert pop["Q60"] > 0
    usage = {(r["pid"], r["type"]): r["n_uses"] for r in property_usage(seed["items"]).collect()}
    assert usage[("P2", "library")] > 0

    mem = spark.createDataFrame(
        [("a", ["g1", "g2"]), ("b", ["g1"])], "m string, gs array<string>"
    )
    inv = {r["grp"]: r["members"] for r in invert_membership(mem, "m", "gs").collect()}
    assert inv == {"g1": ["a", "b"], "g2": ["a"]}

    best = best_per_group(
        spark.createDataFrame([(1, 5.0), (1, 9.0), (2, 1.0)], "g long, s double"),
        ["g"],
        [F.desc("s")],
    )
    assert {(r["g"], r["s"]) for r in best.collect()} == {(1, 9.0), (2, 1.0)}


def test_biaffine_batched_scoring(spark):
    import numpy as np

    from sling_spark.kg.biaffine import BiaffineScorer, score_spans
    from sling_spark.kg.documents import build_documents
    from sling_spark.sources.corpus import corpus_df

    scorer = BiaffineScorer()
    fps = np.array([11, 22, 33, 44, 55], dtype=np.uint64)
    a = scorer.score_sentence(fps)
    b = scorer.score_sentence(fps)
    assert a == b and len(a) > 0  # deterministic
    # spark path produces rows with sane spans (needs the tokens layout)
    docs = build_documents(corpus_df(spark, 6, partitions=2), layout="tokens")
    spans = score_spans(docs, scorer, threshold=3.0)
    rows = spans.collect()
    assert all(r["end"] > r["begin"] for r in rows)


def test_bio_decoder_constrained_decode(spark):
    """BIO decoder analog (reference bio-decoder.cc:224-289): the tag
    sequence must satisfy CanFollow (spans are SINGLE or BEGIN..END of
    one type), decode is deterministic, and the Spark path matches the
    per-sentence NumPy decode exactly."""
    import numpy as np

    from sling_spark.kg.bio import BioTagger, bio_spans
    from sling_spark.kg.documents import build_documents
    from sling_spark.sources.corpus import corpus_df

    tagger = BioTagger()
    fps = np.array([11, 22, 33, 44, 55, 66, 77], dtype=np.uint64)
    a = tagger.decode(fps)
    assert a == tagger.decode(fps)  # deterministic
    # spans are well-formed and non-overlapping, types in range
    last_end = 0
    for b, e, typ, _s in a:
        assert 0 <= b < e <= len(fps) and b >= last_end
        assert 0 <= typ < tagger.n_types
        last_end = e
    # the shared-encodings contract: bio logits read the SAME encodings
    # as the biaffine scorer (fp-only and full-lexical channels alike)
    from sling_spark.kg.biaffine import BiaffineScorer, sentence_bounds, token_encodings
    from sling_spark.kg.lexical import encode_tokens

    assert np.allclose(BiaffineScorer().embed(fps), token_encodings(fps))
    words = ["Alpha", "beta-x", '"', "42", "..."]
    brks2 = [0, 0, 0, 2, 0]
    assert np.allclose(
        encode_tokens(fps[:5], words, brks2, dim=BiaffineScorer().dim),
        encode_tokens(fps[:5], words, brks2, dim=BioTagger().dim),
    )
    # spark path (batch-level encode+matmul) == per-document driver
    # decode on the same documents
    docs = build_documents(corpus_df(spark, 6, partitions=2), layout="tokens")
    got = {
        (r["repo"], r["path"], r["sentence"], r["begin"], r["end"], r["type"],
         r["score"])
        for r in bio_spans(docs, tagger).collect()
    }
    expected = set()
    for r in docs.select("repo", "path", "commit", "t_brk", "t_fp", "t_word").collect():
        brks, all_fps = list(r["t_brk"]), list(r["t_fp"])
        lg = tagger.logits_from_encodings(
            encode_tokens(
                np.array(all_fps, dtype=np.uint64), list(r["t_word"]), brks,
                dim=tagger.dim,
            )
        )
        for s_idx, (sb, se) in enumerate(sentence_bounds(brks)):
            for b, e, typ, score in tagger.decode_logits(lg[sb:se]):
                expected.add(
                    (r["repo"], r["path"], s_idx, sb + b, sb + e, typ,
                     round(score, 6))
                )
    assert got == expected and len(got) > 0


def test_gold_transition_generator():
    """transition-generator.cc semantics on a hand-checked fixture:
    MARK before multi-token spans, EVOKE with slot CONNECT/ASSIGN,
    REFER through the attention buffer with center moves, and the
    deferred CONNECT emitted right after its target's EVOKE."""
    from sling_spark.kg.transitions import generate_transitions

    # tokens: 0..9. Spans: A=[0,2) multi-token, B=[3,4), A again=[5,6),
    # C=[7,9) multi-token. Slots: A -P1-> B (B evoked AFTER A: deferred),
    # A -P2-> X (never mentioned: ASSIGN), B -P3-> A (A in attention:
    # CONNECT at evoke time).
    spans = [(0, 2, "A"), (3, 4, "B"), (5, 6, "A"), (7, 9, "C")]
    slots = {"A": [("P1", "B"), ("P2", "X")], "B": [("P3", "A")]}
    got = generate_transitions(spans, slots, 10)
    assert got == [
        ("MARK", 0, 0, 0, "", ""),          # t=0: A is multi-token
        ("SHIFT", 0, 0, 0, "", ""),
        ("EVOKE", 0, 0, 0, "", "A"),        # t=1: A ends; len>1 -> 0
        ("ASSIGN", 0, 0, 0, "P2", "X"),     # X unmentioned
        ("SHIFT", 0, 0, 0, "", ""),         # (P1->B deferred)
        ("SHIFT", 0, 0, 0, "", ""),
        ("EVOKE", 1, 0, 0, "", "B"),        # t=3: B evoked
        ("CONNECT", 0, 1, 0, "P1", ""),     # deferred A-P1->B: A at idx 1
        ("CONNECT", 0, 0, 1, "P3", ""),     # B-P3->A: A now at idx 1
        ("SHIFT", 0, 0, 0, "", ""),
        ("SHIFT", 0, 0, 0, "", ""),
        ("REFER", 1, 0, 1, "", ""),         # t=5: A again, at index 1
        ("SHIFT", 0, 0, 0, "", ""),         # (A moves back to center)
        ("SHIFT", 0, 0, 0, "", ""),
        ("MARK", 0, 0, 0, "", ""),          # t=7: C multi-token
        ("SHIFT", 0, 0, 0, "", ""),
        ("EVOKE", 0, 0, 0, "", "C"),        # t=8: C ends
        ("SHIFT", 0, 0, 0, "", ""),
        ("SHIFT", 0, 0, 0, "", ""),         # t=9
    ]


def test_transition_roundtrip_recovers_annotations(spark):
    """Generator/applier consistency (the invariant the reference
    trains against): applying the gold sequence (ParserState::Apply
    semantics, parser-state.cc:44-289) reconstructs EXACTLY the silver
    spans, the in-document relation edges, and the out-of-document
    ASSIGN slots — across the whole 40-file fixture."""
    from sling_spark.kg.transitions import (
        _doc_slots,
        apply_transitions,
        generate_transitions,
    )
    from sling_spark.oracle import kg_oracle

    res = kg_oracle.run(40)
    spans_by, rel_by, n_tok = {}, {}, {}
    for d in res["documents"]:
        n_tok[(d["repo"], d["path"], d["commit"])] = len(d["tokens"])
    for m in res["mentions"]:
        k = (m["repo"], m["path"], m["commit"])
        spans_by.setdefault(k, set()).add((m["begin"], m["end"], m["entity"]))
    for r in res["relations"]:
        k = (r["repo"], r["path"], r["commit"])
        rel_by.setdefault(k, []).append(r)

    checked_docs = checked_edges = 0
    for k in sorted(spans_by):
        spans = sorted(spans_by[k])
        slots = _doc_slots(rel_by.get(k, []))
        actions = generate_transitions(spans, slots, n_tok[k])
        doc = apply_transitions(actions)
        # spans reconstruct exactly, with frames resolving to entities
        got_spans = {
            (b, e, doc["frames"][f]) for b, e, f in doc["spans"]
        }
        assert got_spans == set(spans), k
        # edges == relations whose object is mentioned in the doc;
        # assigns == the rest
        mentioned = {s[2] for s in spans}
        expected_edges, expected_assigns = set(), set()
        for subj, pairs in slots.items():
            for role, value in pairs:
                if value in mentioned:
                    expected_edges.add((subj, role, value))
                else:
                    expected_assigns.add((subj, role, value))
        got_edges = {
            (doc["frames"][s], r, doc["frames"][t])
            for s, r, t in doc["edges"]
        }
        got_assigns = {
            (doc["frames"][f], r, v) for f, r, v in doc["assigns"]
        }
        assert got_edges == expected_edges, k
        assert got_assigns == expected_assigns, k
        checked_docs += 1
        checked_edges += len(got_edges)
    assert checked_docs >= 30 and checked_edges > 50


def test_cascade_encodings():
    """Cascade-form gold sequences match the per-decoder reference
    encoders: caspar prefixes every non-SHIFT/MARK action with
    CASCADE(1); knolex prefixes only EVOKE (1) and CONNECT (2)."""
    from sling_spark.kg.transitions import cascade_encode, generate_transitions

    spans = [(0, 1, "A"), (2, 3, "B"), (4, 5, "A")]
    slots = {"A": [("P1", "B"), ("P2", "X")]}
    base = generate_transitions(spans, slots, 6)
    caspar = cascade_encode(base, "caspar")
    knolex = cascade_encode(base, "knolex")

    # every non-SHIFT/MARK action in caspar form is preceded by CASCADE(1)
    for i, a in enumerate(caspar):
        if a[0] not in ("SHIFT", "MARK", "CASCADE"):
            assert caspar[i - 1][:2] == ("CASCADE", 1)
    # stripping cascades recovers the base sequence in both schemes
    assert [a for a in caspar if a[0] != "CASCADE"] == base
    assert [a for a in knolex if a[0] != "CASCADE"] == base
    # knolex: EVOKE -> CASCADE(1); CONNECT -> CASCADE(2); REFER bare
    for i, a in enumerate(knolex):
        if a[0] == "EVOKE":
            assert knolex[i - 1][:2] == ("CASCADE", 1)
        elif a[0] == "CONNECT":
            assert knolex[i - 1][:2] == ("CASCADE", 2)
        elif a[0] == "REFER":
            assert knolex[i - 1][0] != "CASCADE"


# Modules no entry point imports yet, kept pending a keep-or-delete
# decision. Anything else unreached is dead code: delete it or wire it in.
PENDING_UNREACHED = {
    "sling_spark.functions.subword",
    "sling_spark.kg.anchor_aliases",
    "sling_spark.plans",
    "sling_spark.sources.wikitext",
    "sling_spark.streaming.events",
}


def _imported_names(path, module):
    """Dotted names of every import in ``path``, function bodies included."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def test_every_module_is_reachable_from_an_entry_point():
    """Every sling_spark module is imported, directly or transitively, by
    the pipeline, the contract, a tool or a benchmark."""
    root = pathlib.Path(__file__).resolve().parents[1]

    def name(path):
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {name(p): p for p in (root / "sling_spark").rglob("*.py")}
    todo = [root / "sling_spark/kg/pipeline.py", root / "sling_spark/contract.py",
            root / "bench.py", root / "bench_extra.py", root / "__spark_entry__.py",
            *(root / "tools").glob("*.py"),
            *(p for p in (root / "kgbench").glob("*.py") if not p.name.startswith("test_"))]
    reached = {name(p) for p in todo}
    while todo:
        path = todo.pop()
        for imported in _imported_names(path, name(path)):
            parts = imported.split(".")
            for prefix in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append(modules[prefix])
    unreached = sorted(set(modules) - reached - PENDING_UNREACHED)
    assert not unreached, f"no entry point imports {unreached}"
    stale = sorted(PENDING_UNREACHED - (set(modules) - reached))
    assert not stale, f"reached or deleted, drop from PENDING_UNREACHED: {stale}"


def test_pipeline_frames_from_driver_rows_go_through_local_frame():
    """No module under ``sling_spark/kg/`` or ``sling_spark/operators/``
    names ``createDataFrame``: frames over driver-held rows come from
    ``session.local_frame`` (an Arrow LocalRelation). A list handed to
    ``createDataFrame`` becomes a pickled Python RDD, and every scan of
    it starts Python-worker tasks."""
    root = pathlib.Path(__file__).resolve().parents[1] / "sling_spark"
    found = [
        f"{path.relative_to(root)}:{node.lineno}"
        for package in ("kg", "operators")
        for path in sorted((root / package).rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    assert not found, f"use session.local_frame instead of createDataFrame at {found}"
