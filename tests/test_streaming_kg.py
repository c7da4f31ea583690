"""Incremental (streaming) KG construction: batch parity + exactly-once
increments, plus the upsert/CDC emulation."""

from __future__ import annotations

from pyspark.sql import functions as F


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj"],
         r["provenance"]["path"], r["provenance"]["begin"])
        for r in df.collect()
    }


def test_streaming_increments_match_batch(spark, tmp_path):
    from sling_spark.kg.assets import build_asset_store, seed_dataframes
    from sling_spark.kg.documents import build_documents, latest_versions
    from sling_spark.kg.mentions import annotate, relations_of
    from sling_spark.kg.relations import doc_triples
    from sling_spark.sources.corpus import corpus_df
    from sling_spark.streaming.kg_stream import (
        annotate_stream,
        read_corpus_stream,
        run_to_parquet,
        stream_triples,
    )

    seed = seed_dataframes(spark)
    # pre-deduped corpus (streams carry one version per file here;
    # replay idempotence is covered by dropDuplicates)
    full = latest_versions(corpus_df(spark, 40, partitions=4)).persist()
    batch1 = full.filter(F.xxhash64("path") % 2 == 0)
    batch2 = full.filter(F.xxhash64("path") % 2 != 0)

    src = str(tmp_path / "corpus_src")
    out = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    batch1.write.parquet(src)

    # assets built from the FULL corpus documents (the commons KB is a
    # batch asset; streaming only annotates)
    docs_full = build_documents(full)
    assets_bc, _ = build_asset_store(spark, docs_full, str(tmp_path / "assets"), seed)

    # increment 1
    stream = stream_triples(
        annotate_stream(read_corpus_stream(spark, src), assets_bc)
    )
    run_to_parquet(stream, out, ckpt)
    n1 = spark.read.parquet(out).count()

    # increment 2: drop more files into the source dir, re-run
    batch2.write.mode("append").parquet(src)
    stream = stream_triples(
        annotate_stream(read_corpus_stream(spark, src), assets_bc)
    )
    run_to_parquet(stream, out, ckpt)
    streamed = spark.read.parquet(out)
    assert streamed.count() > n1 > 0

    # parity: streamed triples == batch annotation of the same corpus
    batch_triples = doc_triples(relations_of(annotate(docs_full, assets_bc)))
    assert _triple_set(streamed) == _triple_set(batch_triples)

    # exactly-once: re-running with no new input appends nothing
    stream = stream_triples(
        annotate_stream(read_corpus_stream(spark, src), assets_bc)
    )
    run_to_parquet(stream, out, ckpt)
    assert spark.read.parquet(out).count() == streamed.count()


def test_upsert_and_cdc(spark):
    from sling_spark.operators.upsert import apply_cdc, latest_wins, upsert

    target = spark.createDataFrame(
        [("Q1", "name", "Spark", 1), ("Q2", "name", "Hadoop", 1)],
        "subj string, pred string, obj string, version int",
    )
    updates = spark.createDataFrame(
        [("Q1", "name", "Apache Spark", 2), ("Q3", "name", "NumPy", 2)],
        "subj string, pred string, obj string, version int",
    )
    merged = upsert(target, updates, ["subj", "pred"])
    got = {(r["subj"], r["obj"]) for r in merged.collect()}
    assert got == {("Q1", "Apache Spark"), ("Q2", "Hadoop"), ("Q3", "NumPy")}

    stacked = target.unionByName(updates)
    latest = latest_wins(stacked, ["subj", "pred"], "version")
    got = {(r["subj"], r["obj"]) for r in latest.collect()}
    assert got == {("Q1", "Apache Spark"), ("Q2", "Hadoop"), ("Q3", "NumPy")}

    changes = spark.createDataFrame(
        [("Q2", "name", None, 3, "D"), ("Q4", "name", "pandas", 3, "I")],
        "subj string, pred string, obj string, version int, op string",
    )
    after = apply_cdc(merged, changes, ["subj", "pred"])
    got = {(r["subj"], r["obj"]) for r in after.collect()}
    assert got == {("Q1", "Apache Spark"), ("Q3", "NumPy"), ("Q4", "pandas")}


def test_streaming_with_asset_store(spark, tmp_path):
    """Structured Streaming annotation with the Parquet-backed
    AssetStore (no driver collect): the streamed triples equal the
    batch annotation of the same documents with the same store."""
    import pyspark.sql as psql
    from pyspark.sql import functions as F

    from sling_spark.kg.assets import build_asset_store, seed_dataframes
    from sling_spark.kg.documents import doc_stats, latest_with_sha
    from sling_spark.kg.mentions import annotate, relations_of
    from sling_spark.sources.corpus import corpus_df
    from sling_spark.streaming.kg_stream import (
        annotate_stream,
        read_corpus_stream,
        run_to_parquet,
        stream_triples,
    )

    docs = latest_with_sha(corpus_df(spark, 30, partitions=4)).persist()
    stats = doc_stats(docs).persist()
    stats.count()
    seed = seed_dataframes(spark)

    orig_collect = psql.DataFrame.collect

    def no_collect(self, *a, **k):
        raise AssertionError("store mode must not collect")

    psql.DataFrame.collect = no_collect
    try:
        store_bc, _ = build_asset_store(spark, stats, str(tmp_path / "assets"), seed)
    finally:
        psql.DataFrame.collect = orig_collect

    src = str(tmp_path / "src")
    docs.drop("content_sha").write.parquet(src)
    run_to_parquet(
        stream_triples(annotate_stream(read_corpus_stream(spark, src), store_bc)),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    streamed = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    batch = {
        (r["subj"], r["pred"], r["obj"])
        for r in relations_of(annotate(docs, store_bc))
        .select(F.col("subj"), "pred", "obj").collect()
    }
    assert streamed == batch and len(streamed) > 0
    docs.unpersist()
    stats.unpersist()


def test_dedup_stream_drops_duplicate_event_ids(spark, tmp_path):
    """dedup_stream keeps one row per event_id inside the watermark
    horizon, via dropDuplicatesWithinWatermark (bounded state: plain
    dropDuplicates on a subset without the event-time column would pin
    every id ever seen in the state store forever)."""
    from sling_spark.streaming.events import dedup_stream, run_available_now

    src = tmp_path / "events_in"
    spark.createDataFrame(
        [("e1", 100, 1.0), ("e1", 101, 1.0), ("e2", 102, 2.0)],
        "event_id string, epoch long, value double",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch"))).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id string, epoch long, value double, ts timestamp"
    ).parquet(str(src))
    deduped = dedup_stream(stream, watermark="10 minutes")
    run_available_now(deduped, "dedup_q", str(tmp_path / "ckpt"))
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_q").collect())
    assert got == ["e1", "e2"]
