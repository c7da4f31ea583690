"""Wikitext AST parsing + extraction (reference wiki-parser.cc scope)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sling_spark.sources.wikitext import (
    extract_categories,
    extract_headings,
    extract_links,
    extract_plain_text,
    extract_templates,
    parse_wikitext,
)

ARTICLE = """'''Apache Spark''' is an [[open-source software|open-source]] engine.<ref>c</ref>
Started at [[University of California, Berkeley|Berkeley]].{{citation needed}}

== History ==
It began as a research project.<!-- hidden -->
* [[Matei Zaharia]] created it

{{Infobox software
| name = Apache Spark
| developer = [[Apache Software Foundation]]
| released = {{Start date|2014|02|27}}
}}

{| class="wikitable"
|-
! Year !! Version
|-
| 2014 || 1.0
|}

[[File:Spark logo.svg|thumb|logo]]
[[Category:Apache Software Foundation projects]]
"""


def test_links_and_categories():
    nodes = parse_wikitext(ARTICLE)
    links = extract_links(nodes, ARTICLE)
    assert ("open-source software", "open-source") in links
    assert ("University of California, Berkeley", "Berkeley") in links
    assert ("Matei Zaharia", "Matei Zaharia") in links
    # media and category links are NOT content links
    assert not any(t.startswith("File:") for t, _a in links)
    assert extract_categories(nodes) == ["Apache Software Foundation projects"]


def test_templates_nested_and_args():
    nodes = parse_wikitext(ARTICLE)
    tpls = {t["name"]: t["args"] for t in extract_templates(nodes, ARTICLE)}
    assert "citation needed" in tpls
    info = tpls["Infobox software"]
    assert info["name"] == "Apache Spark"
    assert info["developer"] == "Apache Software Foundation"  # link -> anchor
    # the nested template parses as its own node with positional args
    assert tpls["Start date"] == {"1": "2014", "2": "02", "3": "27"}


def test_plain_text_strips_markup():
    plain = extract_plain_text(ARTICLE)
    assert "Apache Spark is an open-source engine." in plain
    assert "Berkeley" in plain
    assert "History" in plain
    assert "hidden" not in plain          # comment stripped
    assert "<ref>" not in plain and "{{" not in plain and "[[" not in plain
    assert "thumb" not in plain           # media dropped


def test_headings():
    assert extract_headings(parse_wikitext(ARTICLE)) == [(2, "History")]
    assert extract_headings(parse_wikitext("=== Deep ===\nx\n")) == [(3, "Deep")]


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="[]{}|=*#:;'<>!-ab \nrefmath", max_size=120))
def test_parser_total_on_garbage(s):
    nodes = parse_wikitext(s)
    assert nodes[0].type == "document"
    extract_plain_text(s, nodes)
    extract_links(nodes, s)
    extract_templates(nodes, s)


def test_spark_parse_articles_and_anchor_aliases(spark):
    """End-to-end: articles -> parsed structure -> anchor aliases joined
    through the wikipedia_mapping dimension."""
    import json

    from sling_spark.sources.wikidata import (
        wikidata_items,
        wikidata_sitelinks,
        wikipedia_mapping,
    )
    from sling_spark.sources.wikitext import parse_articles, wikipedia_alias_rows

    art = spark.createDataFrame(
        [
            ("A", "See [[Apache Spark|Spark]] and [[Apache Spark]].\n"),
            ("B", "Also [[Apache Spark|Spark]] here. [[Category:X]]\n"),
            # MediaWiki-normalized link forms that must still resolve:
            # lowercase first letter, underscores, section anchor
            ("C", "See [[apache Spark|lower]] and [[Apache_Spark|under]] "
                  "and [[Apache Spark#History|hist]].\n"),
        ],
        "title string, wikitext string",
    )
    parsed = parse_articles(art).persist()
    rows = {r["title"]: r for r in parsed.collect()}
    assert [dict(l.asDict()) for l in rows["A"]["links"]] == [
        {"target": "Apache Spark", "anchor": "Spark"},
        {"target": "Apache Spark", "anchor": "Apache Spark"},
    ]

    dump = spark.createDataFrame(
        [(json.dumps({
            "id": "Q1",
            "labels": {"en": {"language": "en", "value": "Apache Spark"}},
            "claims": {},
            "sitelinks": {"enwiki": {"site": "enwiki", "title": "Apache Spark"}},
        }),)],
        "value string",
    )
    items, _ = wikidata_items(dump)
    mapping = wikipedia_mapping(items, wikidata_sitelinks(dump))
    aliases = {
        (r["entity"], r["alias"]): (r["count"], r["sources"])
        for r in wikipedia_alias_rows(parsed, mapping).collect()
    }
    assert aliases[("Q1", "Spark")] == (2, 4)
    assert aliases[("Q1", "Apache Spark")] == (1, 4)
    # title-normalized targets (lowercase-first / underscore / #anchor)
    # all joined through to Q1 (ADVICE r02 — Wiki::Id normalization)
    assert aliases[("Q1", "lower")] == (1, 4)
    assert aliases[("Q1", "under")] == (1, 4)
    assert aliases[("Q1", "hist")] == (1, 4)
    parsed.unpersist()


def test_extract_emphasis_and_intro():
    """EmphasisAnnotator/IntroAnnotator analogs (mentions.cc:185-252):
    bold/italic phrases come off the FONT nodes; the first bold phrase
    within 5 words of the article start is the intro (topic) phrase."""
    from sling_spark.sources.wikitext import extract_emphasis

    nodes = parse_wikitext(ARTICLE)
    ems = extract_emphasis(nodes, ARTICLE)
    assert ("Apache Spark", "bold", True) in ems
    # only ONE intro phrase per article
    assert sum(1 for _p, _s, intro in ems if intro) == 1

    # italic, late bold (not intro), heading boundary, length cap
    txt = (
        "plain lead-in words before ''an italic phrase'' here.\n"
        "Later '''Not The Topic''' bolded.\n"
        "== Sec ==\n'''post-heading bold'''\n"
        "'''" + " ".join(f"w{i}" for i in range(25)) + "'''\n"
    )
    ems2 = extract_emphasis(parse_wikitext(txt), txt)
    assert ("an italic phrase", "italic", False) in ems2
    assert ("Not The Topic", "bold", False) in ems2  # >5 words in
    assert ("post-heading bold", "bold", False) in ems2
    assert not any(p.startswith("w0 ") for p, _s, _i in ems2)  # len cap

    # bold phrase containing a link contributes the anchor text
    txt3 = "'''The [[Big Thing|Thing]] Project''' is fine.\n"
    ems3 = extract_emphasis(parse_wikitext(txt3), txt3)
    assert ("The Thing Project", "bold", True) in ems3


def test_intro_alias_resolves(spark, tmp_path):
    """A bolded intro phrase becomes an alias row for the article's own
    QID (wikipedia_intro_alias_rows) and RESOLVES: merged into the
    alias table, a plain-text mention of the bolded name annotates to
    the topic entity."""
    import json

    from pyspark.sql import functions as F

    from sling_spark.sources.wikidata import (
        wikidata_items,
        wikidata_sitelinks,
        wikipedia_mapping,
    )
    from sling_spark.sources.wikitext import (
        parse_articles,
        wikipedia_intro_alias_rows,
    )

    art = spark.createDataFrame(
        [("Apache Spark",
          "'''Sparky Engine''' is an engine.\nMore text here.\n")],
        "title string, wikitext string",
    )
    parsed = parse_articles(art)
    dump = spark.createDataFrame(
        [(json.dumps({
            "id": "Q77",
            "labels": {"en": {"language": "en", "value": "Apache Spark"}},
            "claims": {},
            "sitelinks": {"enwiki": {"site": "enwiki", "title": "Apache Spark"}},
        }),)],
        "value string",
    )
    items, _ = wikidata_items(dump)
    mapping = wikipedia_mapping(items, wikidata_sitelinks(dump))
    alias_rows = wikipedia_intro_alias_rows(parsed, mapping)
    got = [(r["entity"], r["alias"], r["count"]) for r in alias_rows.collect()]
    assert got == [("Q77", "Sparky Engine", 1)]

    # resolution: merge the intro alias into the seed alias table and
    # annotate a text mentioning the bolded name
    from sling_spark.kg.assets import build_asset_store, seed_dataframes
    from sling_spark.kg.documents import doc_stats, latest_with_sha
    from sling_spark.kg.mentions import detect_mentions

    seed = seed_dataframes(spark)
    seed = dict(seed, aliases=seed["aliases"].unionByName(alias_rows))
    probe = spark.createDataFrame(
        [("r", "p", "c", "python", "powered by Sparky Engine internally")],
        "repo string, path string, commit string, lang string, content string",
    )
    docs = latest_with_sha(probe)
    assets_bc, _ = build_asset_store(
        spark, doc_stats(docs), str(tmp_path / "assets"), seed
    )
    ents = {m["entity"] for m in detect_mentions(docs, assets_bc).collect()}
    assert "Q77" in ents


def test_parse_item_deprecated_p31_not_typed():
    """A deprecated-rank P31 claim must not type the item: the
    statement is dropped at merge, and a page typed only by a
    deprecated 'disambiguation' claim would be misclassified out of
    wikipedia_mapping."""
    from sling_spark.sources.wikidata import parse_item

    def p31(qid, rank):
        return {"mainsnak": {"datavalue": {
            "type": "wikibase-entityid",
            "value": {"entity-type": "item", "id": qid}}},
            "rank": rank}

    item, _ = parse_item({
        "id": "Q7", "labels": {"en": {"language": "en", "value": "x"}},
        "claims": {"P31": [p31("Q4167410", "deprecated"),
                           p31("Q5", "normal")]},
    })
    assert item["types"] == ["Q5"]
    # the deprecated statement itself is still parsed (merge drops it)
    ranks = {s["qualifiers"].get("rank") for s in item["statements"]}
    assert "deprecated" in ranks


def test_parse_item_label_fallback_keeps_real_lang():
    """A label fallback to another language must tag the alias row with
    the label's ACTUAL language — a German-only item ingested with
    lang='en' must not inject a German alias into the English priors."""
    from sling_spark.sources.wikidata import parse_item

    item, aliases = parse_item(
        {"id": "Q8", "labels": {"de": {"language": "de", "value": "Straße"}}},
        lang="en",
    )
    assert item["name"] == "Straße"
    assert aliases == [{"entity": "Q8", "alias": "Straße", "lang": "de",
                        "is_label": True}]
    # requested-language label keeps the requested tag
    _, al2 = parse_item(
        {"id": "Q9", "labels": {"en": {"language": "en", "value": "Street"},
                                "de": {"language": "de", "value": "Straße"}}},
        lang="en",
    )
    assert al2[0]["lang"] == "en" and al2[0]["alias"] == "Street"


def test_parse_item_alias_only_skips_claims():
    """with_claims=False returns identical alias rows with empty
    statements/types — the cheap alias-extraction path."""
    from sling_spark.sources.wikidata import parse_item

    obj = {
        "id": "Q10",
        "labels": {"en": {"language": "en", "value": "Thing"}},
        "aliases": {"en": [{"language": "en", "value": "Object"}]},
        "claims": {"P31": [{"mainsnak": {"datavalue": {
            "type": "wikibase-entityid",
            "value": {"entity-type": "item", "id": "Q5"}}},
            "rank": "normal"}]},
    }
    full_item, full_aliases = parse_item(obj)
    lite_item, lite_aliases = parse_item(obj, with_claims=False)
    assert lite_aliases == full_aliases
    assert lite_item["statements"] == [] and lite_item["types"] == []
    assert full_item["types"] == ["Q5"]


def test_parse_sitelinks_excludes_non_language_wikis():
    """commonswiki/metawiki/wikidatawiki are not language Wikipedias;
    treating them as lang='commons' etc. would inflate the sitelink
    table with gallery/meta pages."""
    from sling_spark.sources.wikidata import parse_sitelinks

    rows = parse_sitelinks({
        "id": "Q11",
        "sitelinks": {
            "enwiki": {"site": "enwiki", "title": "Alpha"},
            "dewiki": {"site": "dewiki", "title": "Alpha"},
            "commonswiki": {"site": "commonswiki", "title": "Category:Alpha"},
            "wikidatawiki": {"site": "wikidatawiki", "title": "Q11"},
            "metawiki": {"site": "metawiki", "title": "Alpha"},
            "enwikiquote": {"site": "enwikiquote", "title": "Alpha"},
        },
    })
    assert sorted((r["lang"], r["title"]) for r in rows) == [
        ("de", "Alpha"), ("en", "Alpha")]


def test_plain_text_line_breaks_follow_reference_sink():
    """Single source newline renders as a space, a blank line as a
    paragraph newline (wiki-extractor.cc:366-399 Content) — consecutive
    text lines must never fuse word-to-word."""
    assert extract_plain_text("hello world\nsecond line") == (
        "hello world second line")
    assert extract_plain_text("para one.\n\npara two.") == (
        "para one.\npara two.")


def test_nested_template_in_name_consumed_whole():
    """A template nested in the NAME position must not truncate the
    outer template or leak its markup into plain text."""
    src = "{{outer {{inner}} rest|a=b}} tail"
    nodes = parse_wikitext(src)
    assert extract_plain_text(src, nodes) == "tail"
    names = [t["name"] for t in extract_templates(nodes, src)]
    assert names == ["outer {{inner}} rest"]


def test_nested_table_inner_close_does_not_end_outer():
    """The inner |} closes only the inner table; the outer table's
    remaining rows must not leak raw markup into plain text."""
    src = ("{| class=outer\n| cell1\n{| class=inner\n| inner cell\n|}\n"
           "|-\n| cell2\n|}\nafter")
    plain = extract_plain_text(src)
    assert "|" not in plain and "{" not in plain
    assert "cell2" in plain and "after" in plain


def test_heading_name_is_rendered_text():
    """Heading name strips markup (links → anchor text), so the
    headings column never carries '[[' or '|'."""
    nodes = parse_wikitext("== [[History|Early years]] ==\ntext")
    assert extract_headings(nodes) == [(2, "Early years")]


def test_unclosed_markup_swallows_like_reference():
    """Unclosed {{ / strip tags swallow to EOF — the reference stack
    parser leaves the node open and EOF drops its children."""
    assert extract_plain_text("before {{unclosed after\nmore") == "before"
    assert extract_plain_text("keep <ref>never closed\ngone") == "keep"
