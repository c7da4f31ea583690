"""Skew handling on the Zipfian corpus (north rule: skewed repos via
AQE skew-join splitting; hot shingles via the stop-shingle cap)."""

from __future__ import annotations

from sling_spark.sources.corpus import corpus_df


def test_corpus_is_zipfian(spark):
    """FIXTURES.md: a few repos hold ~50% of rows — the skew the
    pipeline's shuffles have to absorb (AQE skew-join splitting)."""
    counts = [r["count"] for r in corpus_df(spark, 400, partitions=8)
              .groupBy("repo").count().collect()]
    total = sum(counts)
    shares = sorted((c / total for c in counts), reverse=True)
    assert shares[0] > 0.2
    assert sum(shares[:3]) > 0.4


def test_aqe_skew_configs_active(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_default_driver_heap_fits_the_machine():
    """A heap above physical memory lets the shared test JVM grow until
    the OS kills it; the default stays at or below MemTotal and 48g."""
    from sling_spark.session import _default_driver_memory

    with open("/proc/meminfo") as fh:
        line = next(ln for ln in fh if ln.startswith("MemTotal:"))
    total_mb = int(line.split()[1]) // 1024
    assert 0 < int(_default_driver_memory().rstrip("m")) <= min(total_mb, 48 * 1024)


def test_stop_shingle_cap_defuses_hot_shingle(spark):
    """A shingle planted in 50% of documents (license-header analog)
    would make the no-candidates jaccard self-join quadratic; the
    stop-shingle frequency cap drops it from the whole computation while
    real near-dup pairs survive."""
    from pyspark.sql import functions as F

    from sling_spark.operators.dedup import jaccard_pairs

    n = 400
    rows = []
    for i in range(n):
        sh = [f"u{i} v{i} w{i}", f"x{i} y{i} z{i}"]  # unique shingles
        if i % 2 == 0:
            sh.append("license header line")  # hot: 50% of docs
        if i < 6:
            sh.append("shared rare shingle")  # a real overlap group
            sh.append("second shared shingle")
        rows.extend((f"d{i}", s) for s in sh)
    sh_df = spark.createDataFrame(rows, "doc_id string, shingle string")

    out = jaccard_pairs(sh_df, min_jaccard=0.3)
    pairs = {(r["doc_a"], r["doc_b"]): r["inter"] for r in out.collect()}
    # the hot shingle is excluded: even-doc pairs share NOTHING else, so
    # none of the ~20k even-even pairs appear
    assert all(int(a[1:]) < 6 and int(b[1:]) < 6 for a, b in pairs)
    # the rare-overlap group survives with both shared shingles counted
    assert pairs[("d0", "d1")] == 2
    # without the cap the ~20k hot pairs WOULD materialize (sanity that
    # the cap, not the jaccard threshold, did the work)
    capped_all = jaccard_pairs(sh_df, min_jaccard=0.01)
    assert capped_all.count() == len(pairs)
    uncapped = jaccard_pairs(sh_df, min_jaccard=0.01, stop_df_frac=None)
    assert uncapped.count() > 10_000
    # the capped plan carries the broadcast anti-join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_stop_shingle_cap_applies_on_candidates_path(spark):
    """Round-2 verdict defect: the LSH-candidates path skipped the
    stop-shingle cap AND ran the full shingle self-join. Now the cap is
    unconditional and intersections are computed per candidate pair —
    the hot shingle must not count toward any candidate pair's
    intersection, and the result must equal the no-candidates result
    restricted to the candidate list."""
    from sling_spark.operators.dedup import jaccard_pairs

    n = 400
    rows = []
    for i in range(n):
        sh = [f"u{i} v{i} w{i}", f"x{i} y{i} z{i}"]
        if i % 2 == 0:
            sh.append("license header line")  # hot: 50% of docs
        if i < 6:
            sh.append("shared rare shingle")
            sh.append("second shared shingle")
        rows.extend((f"d{i}", s) for s in sh)
    sh_df = spark.createDataFrame(rows, "doc_id string, shingle string")

    # candidates include real near-dups AND hot-shingle-only pairs
    cand = spark.createDataFrame(
        [("d0", "d1"), ("d2", "d3"), ("d0", "d2"), ("d10", "d12"), ("d100", "d102")],
        "doc_a string, doc_b string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["jaccard"])
        for r in jaccard_pairs(sh_df, min_jaccard=0.01, candidates=cand).collect()
    }
    # hot-only pairs are defused by the unconditional cap
    assert ("d10", "d12") not in got and ("d100", "d102") not in got
    # real overlaps survive with hot shingle excluded from intersections
    assert got[("d0", "d1")][0] == 2 and got[("d0", "d2")][0] == 2
    # parity: candidates path == no-candidates path ∩ candidate list
    full = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["jaccard"])
        for r in jaccard_pairs(sh_df, min_jaccard=0.01).collect()
    }
    cand_keys = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert got == {k: v for k, v in full.items() if k in cand_keys}
