"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the whole point of each design):

- **exact_dedup**: hash-groupBy on sha2(content) — one shuffle with
  map-side partial agg; the canonical representative is min(doc_id), an
  associative agg (no window sort).
- **minhash_lsh**: shingle → K minhash values → B bands; candidate pairs
  come from a self-join on (band, band_hash) — the join key is the LSH
  bucket, so the shuffle is by bucket, never all-pairs. Hashes are
  computed with JVM xxhash64, re-seeded per permutation — NO Python
  in the hot path.
- **simhash**: 64-bit sign-aggregated token hashes via explode +
  groupBy(doc) bit votes — two shuffles, all built-in.
- **ngram_jaccard**: exact pairwise Jaccard over shingle sets, but only
  WITHIN LSH candidate buckets (or for small inputs, a bounded
  self-join) — exact verify stage after the approximate filter, the
  standard two-phase near-dup pipeline.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import local_frame


def _size_guarded_broadcast(df: DataFrame, limit: int) -> DataFrame:
    """Broadcast hint only when the side is verifiably small: the side
    is localCheckpoint-materialized (computed once, lineage cut), its
    row count probed, and the hint applied only when at most ``limit``
    rows — an oversized "small" side degrades to a shuffled/AQE join
    instead of OOMing every executor. Pass ``limit=0`` to never
    broadcast, a negative limit to skip the probe and always hint."""
    if limit < 0:
        return F.broadcast(df)
    df = df.localCheckpoint()
    return F.broadcast(df) if df.count() <= limit else df


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: one row per duplicated
    content hash — (content_hash, keep_id, n_copies) with keep_id =
    min doc id (deterministic representative)."""
    h = docs.select(F.col(id_col).alias("doc_id"), F.sha2(F.col(text_col), 256).alias("content_hash"))
    return (
        h.groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingle set per document (distinct), JVM-side:
    lower → split → sliding window via arrays_zip over n shifted
    slices + one transform building each gram string.

    The window is O(n·L) per document with exactly one string
    allocation per gram (see the inline note below). The per-position
    formulation (transform over an index array calling slice(toks, i,
    n) at every i) re-materializes a slice per output gram, degrades
    to O(L²) work per document, and measured 8-30× slower on 1.3 kB
    code docs. Short docs (L < n) produce one gram of the available
    tokens — arrays_zip pads the shorter slices with null fields and
    concat_ws skips nulls, matching the slice semantics exactly
    (verified bit-equal via exceptAll in both directions, and pinned
    by test_shingles_short_doc_window).

    Empty tokens are dropped BEFORE windowing: Java split (limit -1)
    keeps the empty strings that leading/trailing whitespace produces,
    and an empty edge token would otherwise leak a separator into the
    edge grams ('hello world\\n' ≠ 'hello world')."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    # Two-step projection: materialize the token array once, THEN build
    # the gram window from the column reference. Inlined into the
    # explode expression, the tokenize subtree (split + filter) appears
    # four times (size + three slices) and the Generate node re-evaluates
    # it per reference — CollapseProject keeps this boundary because the
    # alias is non-cheap and multiply-referenced. Measured 3.6 → 2.5 s
    # warm on the 220k-doc QC corpus, identical output (guide §1.2
    # per-task work).
    with_toks = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    tk = F.col("toks")
    ln = F.greatest(F.size(tk) - (n - 1), F.lit(1))
    # Single-pass window: zip the n shifted slices into structs, then
    # build each gram string once. The n-1 chained zip_with passes
    # allocated an intermediate concat string per gram per pass (n-1
    # string materializations per output gram); arrays_zip's struct rows
    # are pointer-width, so this shape allocates exactly ONE string per
    # gram — measured 4.1 → 2.9 s (gram construction) / 5.6 → 4.3 s
    # (full shingle stage) on the 220k-doc QC corpus, interleaved in one
    # JVM, output proven identical by exceptAll in both directions.
    # Null semantics unchanged: arrays_zip pads the shorter slices with
    # null fields and concat_ws skips nulls, so short docs (L < n) still
    # produce one gram of the available tokens.
    grams = F.transform(
        F.arrays_zip(*[
            F.slice(tk, k + 1, ln).alias(f"t{k}") for k in range(n)
        ]),
        lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)]),
    )
    return with_toks.select(
        "doc_id",
        F.explode(F.array_distinct(grams)).alias("shingle"),
    ).filter(F.length("shingle") > 0)


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, sig array<long>) — min over per-permutation re-seeded
    xxhash64 of the shingle hash. One explode + one groupBy(doc) with
    min-aggs, all JVM-side.

    The permutations MUST genuinely reorder the shingle universe: an
    affine rehash ``(a_i*h + b_i) mod M`` with ``a_i*h`` always below
    the modulus never wraps, so it is monotonic in ``h`` and every
    "permutation" selects the SAME min shingle — the signature
    degenerates to a rank-1 (single-hash) minhash whose band collision
    probability is the raw jaccard for EVERY banding scheme. On a
    boilerplate-heavy corpus that floods LSH buckets with
    sub-threshold pairs (measured: 5.5M candidates at 22k code docs,
    <0.1% surviving a 0.8-jaccard verify, identical counts for 8×4 and
    16×8 banding — the tell-tale of rank-1 signatures). Re-hashing
    ``(h, i)`` through xxhash64 gives independent orderings per
    permutation at one vectorized JVM hash per (shingle, i)."""
    base = sh.withColumn("h", F.xxhash64("shingle"))
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = base.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 8, rows_per_band: int = 4,
    max_bucket: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Band the signatures; pairs sharing any band bucket are candidates.
    Shuffle key = (band, bucket_hash): near-dup docs collide, others
    spread. Output (doc_a, doc_b) with doc_a < doc_b, distinct.

    ``max_bucket`` is the hot-bucket safety valve for corpora with
    heavy boilerplate: a bucket of k docs emits k(k-1)/2 pairs, so one
    mega-bucket of template-similar (but sub-threshold) docs turns the
    self-join quadratic — measured on the synthetic code corpus, 22k
    docs produced a 1,694-doc bucket (1.4M pairs from that bucket
    alone) of which <0.1% survived the jaccard verify. Buckets larger
    than ``max_bucket`` are dropped entirely (the standard production
    rule: an over-threshold bucket is a boilerplate cluster the banding
    scheme cannot separate — raise bands×rows precision for those, or
    handle boilerplate upstream). None (default) keeps every bucket —
    the exact reference semantics the contract oracle pins.

    Tuning note: the s-curve threshold is ≈ (1/bands)^(1/rows_per_band)
    (0.59 for the 8×4 default). For a 0.8-jaccard verify stage, 16
    bands × 8 rows over 128 hashes (threshold ≈ 0.71) keeps near-dup
    recall ≈ 1 while excluding the merely-similar mass that floods
    buckets under the loose default.

    ``materialize`` (default on) eagerly checkpoints the banded
    relation so its signature lineage runs once instead of once per
    downstream consumer; pass False to keep the lineage lazy (plan
    inspection, tests)."""
    # Guard: banding past the end of the signature would read NULLs
    # (element_at out-of-range, ANSI off) and funnel every doc into one
    # identical bucket — the exact O(n²) blowup max_bucket exists to
    # prevent. Fail loudly at run time instead (plan-time length is
    # unknowable: array length is not in the schema).
    need = bands * rows_per_band
    bands_arr = F.when(
        F.size("sig") < need,
        F.raise_error(
            f"lsh_candidate_pairs: bands*rows_per_band = {need} exceeds "
            "the minhash signature length — regenerate signatures with "
            f"num_hashes >= {need}"
        ).cast("array<bigint>"),
    ).otherwise(
        F.array(*[
            F.xxhash64(F.concat_ws("|", *[
                F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ]))
            for b in range(bands)
        ])
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(bands_arr).alias("band", "bucket"),
    )
    # The banded relation has multiple consumers below (the bucket
    # count/cap and the pairing); left lazy, each consumer re-runs the
    # whole signature lineage — the shingle explode + K hashes + the
    # wide min-agg, the most expensive part of the minhash path
    # (guide §2.4: remove passes outright; measured 56.5 → 11.4 s warm
    # at 220k docs for the candidate stage). ``materialize=False``
    # keeps the lineage lazy for plan inspection/tests.
    if materialize:
        banded = banded.localCheckpoint()
    if max_bucket is not None:
        # Hot-bucket cap FIRST, with the constant-memory count + semi
        # join (a boilerplate mega-bucket must be dropped before
        # anything materializes its contents — a post-collect size
        # filter would build the hot bucket's full doc list in one
        # aggregation buffer before discarding it), THEN one
        # collect_list per surviving bucket and an array combination
        # expression instead of a self-join. The collected rows are
        # bounded by ``max_bucket`` × id-width bytes, and pairs come
        # from a flatMap — no join probe, no second shuffle of the
        # banded rows (measured 5.3 → 3.2 s warm at 220k docs
        # post-signature, pair set identical — exceptAll 0 both ways).
        small = (
            banded.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") <= max_bucket)
            .select("band", "bucket")
        )
        grouped = (
            banded.join(small, on=["band", "bucket"], how="left_semi")
            .groupBy("band", "bucket")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        return (
            grouped.select(
                F.explode(
                    F.filter(
                        F.flatten(F.expr(
                            "transform(ids, x -> transform(ids, y -> struct(x, y)))"
                        )),
                        lambda s: s["x"] < s["y"],
                    )
                ).alias("p")
            )
            .select(F.col("p.x").alias("doc_a"), F.col("p.y").alias("doc_b"))
            .distinct()
        )
    # Uncapped: the self-join streams arbitrarily large buckets; both
    # sides scan the one checkpointed banded relation and share one
    # Exchange.
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame,
    min_jaccard: float = 0.8,
    candidates: DataFrame | None = None,
    stop_df_frac: float | None = 0.01,
    stop_min_df: int = 8,
    broadcast_limit: int = 2_000_000,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity per document pair.

    With ``candidates`` (from LSH) — the 100 TB scale path — the
    intersection is computed ONLY over the candidate pair list: the
    shingle relation is semi-joined down to docs appearing in any
    candidate pair, folded to one shingle-array row per doc, and each
    (doc_a, doc_b) pair is scored with array_intersect over the two
    arrays. Work is O(candidate_pairs × avg_shingles), never the
    corpus-wide shingle self-join. Without ``candidates``, a self-join
    on shingle is used — bounded-input exact mode.

    ``materialize`` (default on) eagerly checkpoints the per-doc array
    relation so its stop-filter/semi-join lineage runs once instead of
    once per downstream consumer; pass False to keep the full lineage
    lazy (plan inspection, tests).

    Memory boundary of the array fold: one row per candidate doc holds
    that doc's whole (stop-filtered) distinct-shingle set, so per-row
    memory scales with document size — fine for corpora with bounded
    documents (LLM-pipeline inputs are length-capped upstream), and the
    stop filter removes the corpus-hot mass first; for corpora with
    multi-GB single documents, split such documents before dedup (the
    same requirement the mapInPandas annotators already impose).

    In BOTH modes, because the shingle DF distribution is corpus-skewed,
    one hot shingle (license header, boilerplate line) would create an
    O(n²) bucket in the no-candidates self-join and a fat probe side in
    the candidates join, so STOP-SHINGLES are dropped unconditionally:
    any shingle whose corpus-wide document frequency exceeds
    ``max(stop_df_frac * n_docs, stop_min_df)`` is removed from the whole
    computation (sizes AND intersections — jaccard is over the filtered
    shingle universe, the stop-word analog). In candidates mode a doc
    whose shingles are ALL stop-filtered still gets a size row (sz 0)
    and a candidate pair of two such docs scores J(∅,∅) := 1 — exact
    boilerplate duplicates surface as dups instead of silently
    vanishing from the verify stage. (Without ``candidates`` the pair
    universe is shingle-driven, so all-stop docs cannot appear there.) The stop set is
    high-frequency by construction, hence bounded — at most
    avg_shingles_per_doc / stop_df_frac distinct shingles can exceed the
    frequency bar, independent of corpus size — so it is broadcast,
    SIZE-GUARDED: the set is materialized once (localCheckpoint), probed,
    and only hinted when at most ``broadcast_limit`` rows (degenerate
    inputs fall back to a shuffled anti-join instead of OOMing).
    Pass ``stop_df_frac=None`` to disable (exact jaccard on all shingles).

    ``candidates`` may carry duplicate or unordered pairs (distinct +
    doc_a < doc_b is enforced here — duplicate pairs would silently
    inflate the intersection counts).
    """
    stop = None
    if stop_df_frac is not None:
        # Corpus-wide DF (computed BEFORE any candidate restriction so
        # the stop set reflects real hotness, not the candidate sample).
        n_docs = sh.agg(F.countDistinct("doc_id").alias("n_docs"))
        # Document frequency = count(*) per shingle: the relation is a
        # shingle SET per document (the operator's input contract — the
        # ``inter``/``sz`` counts below are only Jaccard at all when
        # (doc_id, shingle) rows are distinct, which shingles()
        # guarantees via array_distinct). countDistinct on an
        # already-distinct relation pays a per-(shingle, doc_id) dedup
        # hash pass for nothing — measured 2.2x slower at 40M rows
        # (guide §2.3: aggregate before you shuffle; partial count per
        # shingle shrinks the exchange that distinct-agg cannot).
        stop = _size_guarded_broadcast(
            sh.groupBy("shingle")
            .agg(F.count("*").cast("long").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(
                F.col("df")
                > F.greatest(F.col("n_docs") * F.lit(stop_df_frac), F.lit(float(stop_min_df)))
            )
            .select("shingle"),
            broadcast_limit,
        )
    if candidates is None and stop is not None:
        # No-candidates mode: every shingle row feeds the self-join, so
        # the stop filter applies to the whole relation here. In
        # candidates mode the anti-join is applied AFTER the candidate
        # semi-join below instead — the two row filters commute (they
        # test independent columns), and most-selective-first means the
        # stop probe runs on the candidate-restricted rows only, not the
        # whole corpus (guide §2.2: drop rows before per-row work).
        sh = sh.join(stop, on="shingle", how="left_anti")
    if candidates is not None:
        # normalize pair orientation and dedupe: reversed or repeated
        # candidate rows would double-count intersections below
        candidates = (
            candidates.select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
            .distinct()
        )
        # Scale path: shrink the shingle relation to candidate docs
        # FIRST (semi-join below the expensive joins — Catalyst will not
        # push a semi-join below an aggregation, so doing it here is the
        # only place it restricts the scan), then compute intersections
        # per candidate pair.
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .union(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        if materialize:
            cand_docs = cand_docs.localCheckpoint()
        # Fold the restricted relation to ONE array row per candidate
        # doc, materialized once, then compute each pair's intersection
        # with array_intersect. The previous shape expanded candidates
        # by doc_a's shingles and shuffle-joined the expansion against
        # the shingle rows on (doc_b, shingle) — tens of millions of
        # narrow rows through two exchanges; this one shuffles
        # |cand docs| array rows + |pairs| rows instead (guide §2.3:
        # shuffle keys/metadata once, not per-element rows; measured
        # 17% warm / 6x cold on the 220k-doc QC corpus, output
        # bit-identical by exceptAll in both directions). Set input
        # (distinct (doc_id, shingle) rows, the operator's contract)
        # makes array_intersect's distinct-match semantics equal the
        # old per-row match count.
        restricted = sh.join(cand_docs, on="doc_id", how="left_semi")
        if stop is not None:
            restricted = restricted.join(stop, on="shingle", how="left_anti")
        arrs = (
            restricted
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("shs"))
        )
        if materialize:
            arrs = arrs.localCheckpoint()
        # A doc whose shingles were ALL stop-filtered has no array row;
        # the left joins below give it NULL → sz 0, inter 0, so a
        # candidate pair of two such docs scores J(∅,∅) := 1 — exact
        # boilerplate duplicates surface as dups instead of silently
        # vanishing from the verify stage.
        a_side = arrs.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa"))
        b_side = arrs.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb"))
        return (
            candidates.join(a_side, on="doc_a", how="left")
            .join(b_side, on="doc_b", how="left")
            .select(
                "doc_a",
                "doc_b",
                F.coalesce(F.size(F.array_intersect("sa", "sb")), F.lit(0))
                .cast("long")
                .alias("inter"),
                F.coalesce(F.size("sa"), F.lit(0)).cast("long").alias("sz_a"),
                F.coalesce(F.size("sb"), F.lit(0)).cast("long").alias("sz_b"),
            )
            .withColumn(
                "jaccard",
                F.when(
                    F.col("sz_a") + F.col("sz_b") - F.col("inter") == 0, F.lit(1.0)
                ).otherwise(
                    F.round(
                        F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                        6,
                    )
                ),
            )
            .filter(F.col("jaccard") >= min_jaccard)
            .select("doc_a", "doc_b", "inter", "jaccard")
        )
    else:
        sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
        pairs = (
            sh.alias("a")
            .join(sh.alias("b"), on="shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("inter"))
        )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), on="doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), on="doc_b")
        .withColumn(
            "jaccard",
            F.when(
                F.col("sz_a") + F.col("sz_b") - F.col("inter") == 0, F.lit(1.0)
            ).otherwise(
                F.round(
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                    6,
                )
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )
    return out


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, each bit votes
    +1/-1, sign of the vote sum forms the fingerprint. All JVM-side:
    explode tokens → per-bit conditional sums → bit reassembly."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.withColumn("h", F.xxhash64("tok"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else bit * F.lit(-(1 << 63)).cast("long")
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.alias("simhash"))


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    method: str = "lsh",
    planes: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and round(cosine, 6) >= threshold.

    - ``method="lsh"`` (the 100 TB path): SRP sign-sketch per vector,
      candidate pairs from a self-join keyed on (table, bucket) — the
      shuffle moves only bucket collisions, never the O(N^2) cross
      product — then exact cosine verify on the candidates (the standard
      approximate-filter → exact-verify two-phase near-dup pipeline, same
      shape as minhash_lsh + jaccard_pairs above).
    - ``method="exact"``: all-pairs self-join; correct for bounded
      inputs and the verification twin for recall tests.
    """
    from .similarity import cosine, srp_sketch

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if method == "exact":
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        sk = srp_sketch(
            emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            "v", planes, tables,
        ).select("id", "v", F.posexplode("srp_buckets").alias("tbl", "bucket"))
        cand = (
            sk.alias("x")
            .join(sk.alias("y"), on=["tbl", "bucket"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"), F.col("x.v").alias("va"),
                F.col("y.id").alias("id_b"), F.col("y.v").alias("vb"),
            )
            .distinct()
        )
        pairs = cand
    scored = pairs.select(
        "id_a", "id_b",
        F.round(cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")), 6).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """Benchmark decontamination — the standard n-gram-overlap rule for
    pretraining corpora (13-gram membership against evaluation sets):
    per document, how many of its distinct word n-gram shingles also
    appear anywhere in the benchmark corpus, plus the contaminated
    fraction. Scale shape: the benchmark side is evaluation-set-sized →
    its distinct shingle set BROADCASTS, size-guarded (materialized +
    probed; over ``broadcast_limit`` rows the semi-join degrades to a
    shuffled/AQE join instead of OOMing executors on a pathologically
    large "benchmark"); the corpus side does one semi-join (no shuffle
    of corpus shingles against the benchmark in the broadcast case) and
    two partial-agg counts keyed by doc — the corpus is never
    self-joined and never leaves its partitioning except for the
    per-doc count aggregation."""
    doc_sh = shingles(docs, id_col, text_col, n)
    bench_sh = (
        shingles(benchmark, id_col, bench_text_col, n)
        .select("shingle")
        .distinct()
    )
    totals = doc_sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    bench_sh = _size_guarded_broadcast(bench_sh, broadcast_limit)
    hits = (
        doc_sh.join(bench_sh, on="shingle", how="left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    # base the report on the FULL input universe: a token-less doc
    # (empty/whitespace text) yields no shingle rows, and a report that
    # silently omits it breaks per-document contracts downstream (an
    # inner join back to the corpus would drop the doc). Such docs
    # report (0, 0, 0.0).
    universe = docs.select(F.col(id_col).alias("doc_id"))
    return (
        universe.join(totals, on="doc_id", how="left")
        .join(hits, on="doc_id", how="left")
        .fillna(0, subset=["n_shingles", "n_contaminated"])
        .withColumn(
            "contamination",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def dedup_clusters(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Near-duplicate CLUSTERING — the stage that turns any pair list
    (minhash-LSH+jaccard, simhash, embedding near-dup) into a keep-list:
    connected components over the pair graph, canonical representative
    = min doc id per component. Returns (doc_id, keep_id, cluster_size)
    for every document in at least one pair, a self-pair included (it is
    its own cluster of size 1); untouched docs are absent (identity
    fall-through — `keep = coalesce(keep_id, doc_id)` on the consumer
    side, the same contract as the xref cluster map). Ids keep the
    input's type. Transitive closure is the CORRECT semantics for
    near-dup keep-lists at corpus scale: A~B and B~C must not both
    survive with B deleted.

    Scale shape: the same size switch as identifier xref
    (``kg.xref.DRIVER_EDGE_LIMIT``). A pair list at or below the limit —
    every corpus_qc pass — is fetched once and labelled by a driver
    union-find, sizes counted on the driver, and returned as one Arrow
    ``LocalRelation`` (``session.local_frame``);
    ``operators.dedup.dedup_clusters.rounds`` then reads 0. A larger
    list runs the large-star/small-star rounds (O(log n) on any
    topology; a chain of 10^6 near-dup pairs converges), then one
    unordered count window over the component label for cluster_size."""
    from pyspark.sql.window import Window

    from ..kg import xref

    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    rows = xref.small_edge_list(edges)
    if rows is not None:
        labels = xref.min_label_components(rows)
        sizes = Counter(labels.values())
        # the id type the star path's symmetric union would widen to
        id_type = edges.select("a").union(edges.select("b")).schema[0].dataType
        schema = StructType([
            StructField("doc_id", id_type),
            StructField("keep_id", id_type),
            StructField("cluster_size", LongType(), False),
        ])
        return local_frame(
            pairs.sparkSession, [(d, k, sizes[k]) for d, k in labels.items()], schema
        )
    comp = xref.connected_components(edges)
    # cluster_size via an unordered count window over the component key:
    # ONE exchange of the label rows instead of the groupBy + join shape
    # (two exchanges over the same rows + a join probe) — the window is
    # partitioned by the same key the aggregation would group on, so the
    # second shuffle bought nothing (guide §2.4; measured 3x on the
    # QC-shaped label set, output identical by exceptAll both ways).
    # One giant component still sorts all its rows in a single task
    # (ADVICE r06); that skew exists only above DRIVER_EDGE_LIMIT, since
    # smaller pair lists never reach this window.
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("keep_id"),
        F.count("*").over(Window.partitionBy("component"))
        .cast("long").alias("cluster_size"),
    )


def simhash_near_dup(
    sims: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 64,
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints — the pairing
    stage that completes the simhash path (minhash has LSH banding →
    jaccard verify; SRP has bucket join → cosine verify): band the
    fingerprint into ``bands`` equal bit slices and self-join per
    (band, slice) — by pigeonhole, any pair within hamming distance
    < ``bands`` shares at least one identical slice, so recall is
    EXACT for ``max_hamming`` < ``bands`` — then verify
    popcount(xor) <= max_hamming. The shuffle key is the band slice:
    near-dups collide, unrelated fingerprints spread; never all-pairs.
    All JVM-side (shift/mask/xor/bit_count column expressions)."""
    width = bits // bands
    mask = (1 << width) - 1
    banded = sims.select(
        F.col(id_col).alias("doc_id"),
        F.col(sim_col).alias("sh"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col(sim_col), i * width)
                .bitwiseAND(F.lit(mask))
                for i in range(bands)
            ])
        ).alias("band", "slice"),
    )
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "slice"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("a.sh").alias("sh_a"),
            F.col("b.doc_id").alias("doc_b"), F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.select(
        "doc_a", "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
