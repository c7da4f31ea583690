"""Relation-extraction inputs and outputs as DataFrame plans.

Relations themselves are extracted by distant supervision inside the
annotator chain (mentions.py step 5, reference
sling/nlp/silver/relations.cc:28-227): they are order-dependent within
a sentence, so they belong in the per-document call. This module holds
the two plans around that call:

- ``facts_df`` — the KB fact table the annotator consults (written to
  the asset store, assets.asset_dataframes);
- ``doc_triples`` — the final document-triple shape of the relation
  rows the annotator emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.kb import BLOCKED_PROPERTIES


def facts_df(items: DataFrame) -> DataFrame:
    """Facts::Extract as a DataFrame plan (facts.h:30-90): direct item
    statements UNION statements inherited through up to
    FACTS_CLOSURE_DEPTH hops of P279 (taxonomy traversal), blocked
    properties dropped from emission. The closure is two broadcast
    self-joins on the dimension-sized taxonomy — no corpus-side cost."""
    from ..sources.kb import FACTS_CLOSURE_DEPTH

    base = items.select(
        F.col("id").alias("subj"), F.explode("statements").alias("st")
    ).select(
        "subj", F.col("st.pid").alias("pid"), F.col("st.object").alias("obj")
    )
    is_a = base.filter(F.col("pid") == "P279").select(
        "subj", F.col("obj").alias("parent")
    )
    direct = base.filter(~F.col("pid").isin(list(BLOCKED_PROPERTIES)))

    out = direct
    # reach[d] = (subj, ancestor at depth d); inherit ancestor's facts
    reach = is_a
    for _ in range(FACTS_CLOSURE_DEPTH):
        inherited = (
            reach.join(
                F.broadcast(direct.withColumnRenamed("subj", "parent")),
                on="parent",
            ).select("subj", "pid", "obj")
        )
        out = out.unionByName(inherited)
        reach = (
            reach.join(
                F.broadcast(
                    is_a.select(
                        F.col("subj").alias("parent"),
                        F.col("parent").alias("grandparent"),
                    )
                ),
                on="parent",
            )
            .select("subj", F.col("grandparent").alias("parent"))
        )
    return out.distinct()


def doc_triples(relations: DataFrame) -> DataFrame:
    """Final document-triple shape (FIXTURES.md §3 expected_triples)."""
    return relations.select(
        "subj",
        "pred",
        "obj",
        F.create_map().cast("map<string,string>").alias("qualifiers"),
        F.struct(
            "repo", "path", "commit", "content_sha", "begin", "end"
        ).alias("provenance"),
        F.lit("doc_relation").alias("source"),
    )
