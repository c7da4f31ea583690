"""Property-based tests (hypothesis) for the scalar semantics, plus a
randomized distributed-vs-driver xref equivalence check (the SURVEY §5
"randomized checks vs a reference implementation" practice)."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sling_spark.functions.fingerprint import (
    FP_SKIPPED,
    phrase_fp,
    token_fp,
)
from sling_spark.functions.normalize import case_form, normalize_phrase
from sling_spark.functions.tokenize import sentences, tokenize

text_strategy = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=400,
)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_tokenize_offsets_roundtrip(content):
    toks = tokenize(content)
    for t in toks:
        assert content[t.begin : t.end] == t.word
        assert t.fp >= 1  # never 0 (document.h:94-100 invariant)
    # offsets strictly increase
    for a, b in zip(toks, toks[1:]):
        assert b.begin >= a.end
    # sentence bounds cover exactly [0, n)
    bounds = sentences(toks)
    if toks:
        assert bounds[0][0] == 0 and bounds[-1][1] == len(toks)
        for (s1, e1), (s2, e2) in zip(bounds, bounds[1:]):
            assert e1 == s2 and s1 < e1


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent_and_fp_stable(word):
    norm = normalize_phrase(word)
    assert normalize_phrase(norm) == norm  # idempotent
    assert token_fp(word) == token_fp(word)  # deterministic
    if norm and any(c.isalnum() for c in norm):
        assert token_fp(word) == token_fp(norm.upper())  # case-insensitive
    assert case_form(word) in (0, 1, 2, 3)


@given(st.lists(st.sampled_from(["alpha", "Beta", "x1", "Y", "deltA"]), min_size=1, max_size=5))
@settings(max_examples=100, deadline=None)
def test_phrase_fp_properties(words):
    fp = phrase_fp(words)
    assert fp >= 1
    if len(words) == 1:
        assert fp == token_fp(words[0])
    # order sensitivity: any non-palindromic reordering changes the fp
    rev = list(reversed(words))
    if [normalize_phrase(w) for w in rev] != [normalize_phrase(w) for w in words]:
        assert phrase_fp(rev) != fp
    # punctuation tokens do not contribute
    assert phrase_fp([*words, "."]) == fp
    assert phrase_fp([".", *words]) == fp


@given(st.lists(st.sampled_from(["1958", "1958-03", "1958-03-14", "1959", "x"]),
                min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_date_more_precise_properties(dates):
    from sling_spark.functions.dates import more_precise, parse_date

    a = dates[0]
    for b in dates[1:]:
        out = more_precise(a, b)
        pa, pb = parse_date(a), parse_date(b)
        if pa and pb:
            assert parse_date(out).precision >= pa.precision
        a = out


def test_oracle_merge_idempotent():
    """Re-merging merged items changes nothing (reconcile fixpoint)."""
    from sling_spark.oracle import kg_oracle

    clusters = kg_oracle.build_clusters()
    once = kg_oracle.merge_items(clusters)
    # feed merged output back through the same dedup logic by checking
    # no statement list contains a (pid, object) duplicate
    for it in once:
        seen = set()
        for s in it["statements"]:
            key = (s["pid"], s["object"])
            assert key not in seen, (it["id"], key)
            seen.add(key)


def _random_edge_set(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    namespaces = ["Q", "github", "pypi", "maven"]
    nodes = [
        f"{rng.choice(namespaces)}:{'n%d' % i}" for i in range(n_nodes)
    ]
    edges = []
    for _ in range(n_edges):
        a, b = rng.sample(nodes, 2)
        edges.append(
            {
                "id_a": a,
                "id_b": b,
                "priority_a": 0,
                "priority_b": 0,
                "redirect": False,
            }
        )
    return edges


def test_xref_distributed_equals_driver_on_random_graphs(spark, monkeypatch):
    """Randomized equivalence: distributed CC + per-component repair ==
    global sequential union-find, on graphs with many main-id conflicts
    (every Q:-node is a main id, so refusals are frequent)."""
    from sling_spark.kg import xref
    from sling_spark.kg.xref import build_clusters

    schema = "id_a string, id_b string, priority_a int, priority_b int, redirect boolean"
    limit = xref.DRIVER_EDGE_LIMIT
    for seed in (7, 21, 99):
        edges = _random_edge_set(seed, n_nodes=40, n_edges=60)
        df = spark.createDataFrame(edges, schema=schema)
        monkeypatch.setattr(xref, "DRIVER_EDGE_LIMIT", limit)
        drv = {
            (r["member_id"], r["canonical_id"])
            for r in build_clusters(df).collect()
        }
        monkeypatch.setattr(xref, "DRIVER_EDGE_LIMIT", 0)
        dist = {
            (r["member_id"], r["canonical_id"])
            for r in build_clusters(df).collect()
        }
        assert drv == dist, f"seed {seed}"


def _mixed_pair_graph(seed: int) -> list[tuple[int, int]]:
    """Chains, stars, cross edges and disjoint pairs over ids whose
    numeric order differs from insertion order, plus one self-pair, one
    reversed and one repeated pair."""
    rng = random.Random(seed)
    ids = rng.sample(range(100_000), 400)
    pairs: list[tuple[int, int]] = []
    for c in range(3):
        chain = ids[40 * c: 40 * c + 40]
        pairs += list(zip(chain, chain[1:]))
    for s in range(2):
        hub, *leaves = ids[120 + 30 * s: 150 + 30 * s]
        pairs += [(hub, leaf) for leaf in leaves]
    pool = ids[:180]
    pairs += [tuple(rng.sample(pool, 2)) for _ in range(15)]
    pairs += [(ids[200 + 2 * i], ids[201 + 2 * i]) for i in range(20)]
    pairs += [(ids[399], ids[399]), pairs[0][::-1], pairs[1]]
    return pairs


def _jobs_in_group(sc, fn) -> int:
    """Spark jobs that ``fn`` submits, counted through a job group."""
    import uuid

    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_dedup_clusters_driver_path_equals_star_rounds(spark, monkeypatch, id_type):
    """Both sides of the DRIVER_EDGE_LIMIT switch give exceptAll-identical
    (doc_id, keep_id, cluster_size) rows and the same id type. String ids
    order differently from the same graph's long ids, so the keep ids
    differ between the two parametrizations."""
    from sling_spark.kg import xref
    from sling_spark.operators.dedup import dedup_clusters

    limit = xref.DRIVER_EDGE_LIMIT
    for seed in (7, 21, 99):
        pairs = _mixed_pair_graph(seed)
        if id_type == "string":
            pairs = [(f"doc/{a}", f"doc/{b}") for a, b in pairs]
        df = spark.createDataFrame(pairs, f"doc_a {id_type}, doc_b {id_type}")
        monkeypatch.setattr(xref, "DRIVER_EDGE_LIMIT", limit)
        monkeypatch.setattr(xref.connected_components, "last_rounds", 0, raising=False)
        drv = dedup_clusters(df)
        assert xref.connected_components.last_rounds == 0  # no star rounds ran
        monkeypatch.setattr(xref, "DRIVER_EDGE_LIMIT", 0)
        star = dedup_clusters(df)
        assert xref.connected_components.last_rounds >= 2
        assert drv.schema.simpleString() == star.schema.simpleString()
        n_nodes = len({x for p in pairs for x in p})
        assert drv.count() == star.count() == n_nodes, f"seed {seed}"
        assert drv.exceptAll(star).count() == 0, f"seed {seed}"
        assert star.exceptAll(drv).count() == 0, f"seed {seed}"


def test_size_switch_job_counts(spark, monkeypatch, tmp_path):
    """Below DRIVER_EDGE_LIMIT a corpus_qc-sized pair list (24 fork
    chains of 6 docs and 36 mirrors, 228 pairs, read from a 4-file
    Parquet table like the QC chain's verified pairs) is clustered and
    written in at most 5 Spark jobs; forced star rounds take about 30 on
    this graph. The seed KB's build_clusters makes exactly one Arrow
    fetch — no collect, no checkpoint, no count — before its driver
    union-find."""
    from sling_spark.kg.assets import seed_dataframes
    from sling_spark.kg.xref import build_clusters
    from sling_spark.operators.dedup import dedup_clusters

    pairs = []
    for c in range(24):
        chain = [f"fork/{c:02d}/{i}" for i in range(6)]
        pairs += list(zip(chain, chain[1:])) + list(zip(chain, chain[2:5]))
    pairs += [(f"doc/{m:02d}", f"doc/{m:02d}+mirror") for m in range(36)]
    assert len(pairs) == 228
    src = str(tmp_path / "verified")
    spark.createDataFrame(pairs, "doc_a string, doc_b string").repartition(4) \
        .write.parquet(src)
    verified = spark.read.parquet(src)
    out = str(tmp_path / "clusters")
    sc = spark.sparkContext
    n_jobs = _jobs_in_group(
        sc, lambda: dedup_clusters(verified).write.parquet(out)
    )
    assert n_jobs <= 5, n_jobs
    clusters = spark.read.parquet(out)
    assert clusters.count() == 24 * 6 + 36 * 2
    assert clusters.filter("keep_id = 'fork/07/0'").count() == 6

    seed = seed_dataframes(spark)
    frame_cls = type(seed["same_as"])
    actions: list[str] = []
    for name in ("collect", "count", "localCheckpoint", "toArrow"):
        real = getattr(frame_cls, name)

        def spy(self, *a, _name=name, _real=real, **kw):
            actions.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(frame_cls, name, spy)
    n_jobs = _jobs_in_group(sc, lambda: build_clusters(seed["same_as"]))
    assert actions == ["toArrow"]
    # the fetch plus the map stage of normalized_edges' distinct, which
    # adaptive execution submits as a job of its own
    assert n_jobs <= 2, n_jobs


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Adversarial O(diameter) fixture: a 10^6-edge chain. The round-2
    min-label CC needed diameter (10^6) rounds and silently returned
    non-converged labels within any fixed budget; large-star/small-star
    must label every node with the chain minimum in <= log2(n) + slack
    alternation rounds (Kiveris et al. convergence bound)."""
    import math

    from pyspark.sql import functions as F

    from sling_spark.kg.xref import connected_components

    n_edges = 1_000_000
    e = spark.range(n_edges).select(
        F.format_string("i/%07d", F.col("id")).alias("a"),
        F.format_string("i/%07d", F.col("id") + 1).alias("b"),
    )
    labels = connected_components(e, loop_partitions=32)
    wrong = labels.filter(F.col("component") != F.lit("i/0000000")).count()
    assert wrong == 0
    assert labels.count() == n_edges + 1
    rounds = connected_components.last_rounds
    assert rounds <= math.ceil(math.log2(n_edges + 1)) + 2, rounds


def test_connected_components_pair_graph_stops_after_two_rounds(spark):
    """A disjoint-pair forest (the near-dup mirror shape) is at its
    fixpoint after round 1; the per-round convergence checks inside the
    first 4 rounds must detect that at round 2 instead of running to
    the next even-round checkpoint (round 4, the old cadence — measured
    2x the QC clustering stage). Labels: every pair maps to its lexical
    min."""
    from pyspark.sql import functions as F

    from sling_spark.kg.xref import connected_components

    e = spark.range(500).select(
        F.format_string("p/%04d", F.col("id")).alias("a"),
        F.format_string("p/%04d@mirror", F.col("id")).alias("b"),
    )
    labels = connected_components(e)
    assert labels.count() == 1000
    wrong = labels.filter(
        F.col("component") != F.regexp_replace("id", "@mirror$", "")
    ).count()
    assert wrong == 0
    assert connected_components.last_rounds == 2


def test_connected_components_parity_with_driver_union_find(spark):
    """Exact label parity against a driver-side union-find on a mixed
    adversarial graph: long chains (diameter stress), stars (skew
    stress), and random cross edges, with string ids whose lexicographic
    order differs from insertion order."""
    import random

    from pyspark.sql import functions as F

    from sling_spark.kg.xref import connected_components

    rng = random.Random(13)
    edges: list[tuple[str, str]] = []
    # three chains of 300
    for c in range(3):
        ids = [f"n/{c}/{i:04d}" for i in range(300)]
        edges += list(zip(ids, ids[1:]))
    # two stars of 200
    for s in range(2):
        hub = f"hub/{s}"
        edges += [(hub, f"leaf/{s}/{i:03d}") for i in range(200)]
    # random cross edges among a pool (joins some structures)
    pool = [e[0] for e in edges[::7]]
    edges += [tuple(rng.sample(pool, 2)) for _ in range(120)]

    # driver union-find → component = min member id
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "a string, b string")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, loop_partitions=8).collect()
    }
    assert got == expected


@st.composite
def _lex_doc(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    words = draw(st.lists(
        st.text(min_size=1, max_size=6).filter(lambda w: not w.isspace()),
        min_size=n, max_size=n))
    brks = [0] + draw(st.lists(st.integers(min_value=0, max_value=3),
                               min_size=n - 1, max_size=n - 1))
    # non-overlapping spans
    spans, pos = [], 0
    while pos < n:
        if draw(st.booleans()) and pos + 1 <= n:
            end = draw(st.integers(min_value=pos + 1, max_value=min(n, pos + 3)))
            spans.append((pos, end, f"Q{draw(st.integers(0, 99))}"))
            pos = end
        else:
            pos += 1
    return words, brks, spans


@given(_lex_doc())
@settings(max_examples=150, deadline=None)
def test_lex_roundtrip_recovers_spans(doc):
    """to_lex → parse_lex recovers every span's ref and surface phrase,
    for arbitrary Unicode words (incl. reserved chars) and break levels."""
    from sling_spark.functions.lex import _REWRITES, parse_lex, to_lex

    words, brks, spans = doc
    # the ``/''/--/... rewrites intentionally change the surface form;
    # skip docs using them so surface comparison stays exact
    if any(w in _REWRITES for w in words):
        return
    lex = to_lex(words, brks, spans)
    text, parsed = parse_lex(lex)
    assert len(parsed) == len(spans)
    by_ref = sorted(parsed, key=lambda s: s[0])
    want = sorted(spans, key=lambda s: s[0])
    for (b, e, ref), (wb, we, wref) in zip(by_ref, want):
        assert ref == wref
        # the parsed byte span must cover exactly the span's words joined
        # by their separators
        sep = {0: "", 1: " ", 2: "  ", 3: "\n\n"}
        expect = words[wb]
        for i in range(wb + 1, we):
            expect += sep.get(brks[i], " ") + words[i]
        assert text[b:e] == expect


@given(st.text(alphabet="0123456789.,+- ", max_size=12))
@settings(max_examples=300, deadline=None)
def test_parse_number_never_crashes_and_sign_consistent(s):
    from sling_spark.functions.numbers import parse_number_format

    for fmt in ("IMPERIAL", "STANDARD", "NORWEGIAN"):
        v = parse_number_format(s, fmt)
        if v is not None:
            assert isinstance(v, (int, float))
            if s.strip().startswith("-") and v != 0:
                assert v < 0


_json_scalars = st.one_of(st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False), st.text(max_size=8))
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.text(max_size=6), children, max_size=3),
    ),
    max_leaves=12,
)


@given(st.dictionaries(
    st.sampled_from(["id", "labels", "aliases", "claims", "descriptions", "junk"]),
    _json_values, max_size=5,
))
@settings(max_examples=200, deadline=None)
def test_wikidata_parse_item_total(obj):
    """parse_item is total over arbitrary JSON-shaped garbage: returns
    None or a well-formed (item, aliases) pair, never raises — the
    dirty-dump tolerance the importer claims."""
    from sling_spark.sources.wikidata import parse_item

    out = parse_item(obj)
    if out is None:
        return
    item, aliases = out
    assert isinstance(item["id"], str) and item["id"]
    assert isinstance(item["statements"], list)
    for a in aliases:
        assert set(a) == {"entity", "alias", "lang", "is_label"}


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_warc_parser_total_on_garbage(data):
    """parse_warc_records never raises on arbitrary bytes (dirty-crawl
    tolerance) and every yielded payload length matches Content-Length."""
    from sling_spark.sources.readers import parse_warc_records

    for headers, payload in parse_warc_records(data):
        assert isinstance(headers, dict)
        assert len(payload) <= int(headers.get("content-length", 0))


@given(st.lists(st.tuples(st.binary(max_size=40), st.binary(max_size=60)), max_size=4))
@settings(max_examples=100, deadline=None)
def test_warc_roundtrip_arbitrary_payloads(recs):
    """Well-formed records with ARBITRARY binary payloads (incl. ones
    containing 'WARC/' and CRLFs) parse back exactly: Content-Length
    framing, not delimiter scanning."""
    from sling_spark.sources.readers import parse_warc_records

    blob = b""
    for i, (_uri, body) in enumerate(recs):
        blob += (
            b"WARC/1.0\r\nWARC-Record-ID: <r" + str(i).encode() + b">\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body + b"\r\n\r\n"
        )
    got = list(parse_warc_records(blob))
    assert len(got) == len(recs)
    for (h, payload), (_uri, body) in zip(got, recs):
        assert payload == body


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ab A9_ .\t()#=\n-", max_size=120))
def test_tokenize_arrays_matches_tokenize(content):
    """The array-layout tokenizer is field-identical to the Token-object
    tokenizer on arbitrary text (shared regex + break rule)."""
    from sling_spark.functions.tokenize import tokenize, tokenize_arrays

    toks = tokenize(content)
    ta = tokenize_arrays(content)
    assert ta.words == [t.word for t in toks]
    assert ta.begins.tolist() == [t.begin for t in toks]
    assert ta.ends.tolist() == [t.end for t in toks]
    assert ta.brks.tolist() == [t.brk for t in toks]
    assert ta.fps.tolist() == [t.fp for t in toks]
    assert ta.forms.tolist() == [t.form for t in toks]


@settings(max_examples=300, deadline=None)
@given(st.text(
    alphabet="ab A9_ .\t()#=\n-May三 1984 three million km century s,",
    max_size=160,
))
def test_literal_candidates_lit0_mask_parity(content):
    """The tokenizer's per-word literal-start pre-filter (lit0) never
    changes the literal annotator's output: scanning only flagged
    tokens yields the same candidate spans as scanning every token
    (lit0 is a strict superset of acceptable span starts)."""
    from sling_spark.functions.tokenize import tokenize_arrays
    from sling_spark.kg.mentions import _literal_candidates

    ta = tokenize_arrays(content)
    full = _literal_candidates(ta.words, ta.brks)
    masked = _literal_candidates(ta.words, ta.brks, ta.lit0)
    assert full == masked


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="He it she hERS THIS hymn. \n()", max_size=120))
def test_tokenize_pron_codes_match_pron_code(content):
    """The tokenizer's per-word pronoun gender column equals the
    annotator's per-token classifier — the anaphora stage may visit
    only flagged positions without changing semantics."""
    from sling_spark.functions.tokenize import tokenize_arrays
    from sling_spark.kg.mentions import _pron_code

    ta = tokenize_arrays(content)
    assert ta.pron.tolist() == [_pron_code(w) for w in ta.words]


@st.composite
def _triple_set(draw):
    ids = [f"Q{i}" for i in range(1, 8)] + ["cc:x1", "i/odd id", "Ab_c-d"]
    preds = [f"P{i}" for i in range(1, 6)] + ["weird/pred"]
    n = draw(st.integers(min_value=1, max_value=12))
    triples = set()
    for _ in range(n):
        s = draw(st.sampled_from(ids))
        p = draw(st.sampled_from(preds))
        if draw(st.booleans()):
            o = draw(st.sampled_from(ids))
        else:
            o = draw(st.text(
                alphabet='ab"\\\n\r\t xyzé0-9', min_size=1, max_size=12))
        triples.add((s, p, o))
    return sorted(triples)


@given(_triple_set())
@settings(max_examples=60, deadline=None)
def test_turtle_roundtrip_property(rows):
    """Property: the Turtle printer/reader round-trips ARBITRARY triple
    sets (ids incl. non-PN_LOCAL forms, literals with every escape
    char) — driver-side twin of the Spark grouping (same term rules),
    exercised via the scalar reader over a synthesized document."""
    from sling_spark.kg.materialize import (
        _NT_ESCAPES,
        parse_turtle,
        turtle_prefixes,
    )

    kb_, p_ = "http://example.org/kb/", "http://example.org/prop/"
    qname_ok = lambda x: x[0].isalpha() and all(
        c.isalnum() or c in "_-" for c in x)
    import re as _re

    is_ref = lambda o: bool(_re.match(r"^(Q\d+$|[a-z]+:)", o))

    def term(x, iri, pref):
        return f"{pref}:{x}" if qname_ok(x) else f"<{iri}{x}>"

    def esc(s):
        for raw, e in _NT_ESCAPES.items():
            s = s.replace(raw, e)
        return s

    # driver-side print with the SAME grouping rules as the Spark op
    by_s: dict = {}
    for s, p, o in rows:
        ot = term(o, kb_, "kb") if is_ref(o) else '"' + esc(o) + '"'
        by_s.setdefault(term(s, kb_, "kb"), {}).setdefault(
            term(p, p_, "p"), set()).add(ot)
    blocks = []
    for s in sorted(by_s):
        clauses = sorted(
            f"{p} {' , '.join(sorted(objs))}" for p, objs in by_s[s].items()
        )
        blocks.append(s + " " + " ;\n    ".join(clauses) + " .")
    doc = turtle_prefixes() + "\n" + "\n".join(blocks)

    got = set(parse_turtle(doc))
    expected = {
        (kb_ + s, p_ + p, (kb_ + o) if is_ref(o) else o) for s, p, o in rows
    }
    assert got == expected


@st.composite
def _silver_doc(draw):
    n_tokens = draw(st.integers(min_value=1, max_value=30))
    ents = [f"E{i}" for i in range(6)] + ["lit:2014"]
    spans, pos = [], 0
    while pos < n_tokens:
        if draw(st.booleans()):
            end = draw(st.integers(min_value=pos + 1,
                                   max_value=min(n_tokens, pos + 4)))
            spans.append((pos, end, draw(st.sampled_from(ents))))
            pos = end
        else:
            pos += 1
    slots = {}
    for e in {s[2] for s in spans}:
        if draw(st.booleans()):
            slots[e] = sorted({
                (draw(st.sampled_from(["P1", "P2", "P3"])),
                 draw(st.sampled_from(ents + ["EXTERNAL", "1999"])))
                for _ in range(draw(st.integers(min_value=1, max_value=3)))
            })
    return spans, slots, n_tokens


@given(_silver_doc())
@settings(max_examples=80, deadline=None)
def test_transition_roundtrip_property(doc):
    """Property: apply(generate(doc)) == doc for ARBITRARY disjoint
    span sets and slot graphs (self-slots, repeated mentions, literal
    frames, external values) — the generator/applier consistency
    invariant under fuzzing, not just the corpus fixture."""
    from sling_spark.kg.transitions import (
        apply_transitions,
        generate_transitions,
    )

    spans, slots, n_tokens = doc
    out = apply_transitions(generate_transitions(sorted(spans), slots, n_tokens))
    got_spans = {(b, e, out["frames"][f]) for b, e, f in out["spans"]}
    assert got_spans == set(spans)
    mentioned = {s[2] for s in spans}
    exp_edges, exp_assigns = set(), set()
    for subj, pairs in slots.items():
        if subj not in mentioned:
            continue  # unmentioned subjects never evoke: no slots emitted
        for role, value in pairs:
            if value in mentioned:
                exp_edges.add((subj, role, value))
            else:
                exp_assigns.add((subj, role, value))
    got_edges = {
        (out["frames"][s], r, out["frames"][t]) for s, r, t in out["edges"]
    }
    got_assigns = {(out["frames"][f], r, v) for f, r, v in out["assigns"]}
    assert got_edges == exp_edges
    assert got_assigns == exp_assigns


def test_warc_corrupt_gzip_member_keeps_prior_records():
    """Per-member gzip tolerance must be real: two intact per-record
    members followed by a corrupt member (or trailing garbage) keep the
    two intact records — GzipFile.read()-style whole-stream
    decompression would silently lose the entire archive."""
    import gzip

    from sling_spark.sources.readers import parse_warc_records

    def rec(i, body):
        return (
            b"WARC/1.0\r\nWARC-Record-ID: <r" + str(i).encode() + b">\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body + b"\r\n\r\n"
        )

    good = gzip.compress(rec(0, b"alpha")) + gzip.compress(rec(1, b"beta"))
    corrupt = bytearray(gzip.compress(rec(2, b"gamma")))
    corrupt[12] ^= 0xFF  # flip a deflate-stream byte mid-member
    got = list(parse_warc_records(good + bytes(corrupt)))
    assert [p for _h, p in got[:2]] == [b"alpha", b"beta"]
    got_trailing = list(parse_warc_records(good + b"not gzip at all"))
    assert [p for _h, p in got_trailing] == [b"alpha", b"beta"]


def test_xml_charref_whitespace_not_dropped():
    """expat delivers '&#32;'/'&#10;' as separate whitespace chunks;
    they must merge into the open text run, not vanish (word fusion)."""
    from sling_spark.sources.xmlframes import parse_xml_frame

    assert parse_xml_frame("<a>hello&#32;world</a>") == ("a", "hello world")
    assert parse_xml_frame("<a>hello&#10;world</a>") == ("a", "hello\nworld")
    assert parse_xml_frame("<a>hello\nworld</a>") == ("a", "hello\nworld")


@given(st.lists(st.integers(min_value=0, max_value=3), max_size=40))
@settings(max_examples=300, deadline=None)
def test_sentence_bounds_twins_agree(brks):
    """mentions._sentence_bounds (NumPy, chart hot path) and
    biaffine.sentence_bounds (loop, decoder ops) encode the SAME
    brk>=2 window rule — a drift would make the mention chart and the
    biaffine/BIO decoders disagree on sentence windows."""
    from sling_spark.kg.biaffine import sentence_bounds
    from sling_spark.kg.mentions import _sentence_bounds

    assert _sentence_bounds(brks) == sentence_bounds(brks)
