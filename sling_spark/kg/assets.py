"""KB assets for the annotator (the auxin/commons analog).

SLING annotators receive read-only assets — commons store, phrase table,
IDF dictionary — via workflow ``auxin`` inputs, memory-mapped once per
worker (python/task/workflow.py:667-689; sling/nlp/silver/silver.py
equivalent at python/nlp/silver.py:120-138). Our analog: every asset is
built AS a DataFrame **derived from the KB tables** (items/aliases — at
real scale these come from the wikidata importer; the derivations are
identical) and written to a Parquet ``AssetStore``. Only the store's
PATH is broadcast; every Python worker lazily reads the Parquet
columnarly (pyarrow) and builds its lookup structures once per process —
the exact analog of SLING memory-mapping its repository files per worker
(sling/file/repository.h:30-60). The driver never materializes the
tables, so the asset size is bounded by executor memory, not
``sc.broadcast`` / driver limits.

Asset derivations (fixture literals are NOT consulted — parity with the
seed-literal dicts is pytest-enforced):

- phrase table ← alias selection → fp grouping (phrase_table.py)
- IDF ← per-document distinct fingerprints (documents.idf_table)
- links ← item statements: subject→object weight 8, plus developer→
  project (P3 reverse) weight 4 — the wikipedia-link-merger input shape
  (reference sling/nlp/wiki/links.cc:162-205)
- popularity ← Σ alias counts per entity (the alias/anchor-count
  semantics of /w/item/popularity, doc/guide/wikiflow.md:308-313)
- facts ← relations.facts_df (Facts::Extract closure, facts.h:30-90)
- gender ← P21 statements (anaphora.cc:178-190)
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import kb
from .documents import idf_table
from .mentions import KbAssets
from .phrase_table import build_phrase_table, select_aliases

ALIAS_SCHEMA = "entity string, alias string, fp long, count int, form int, sources int"
ITEMS_DDL = (
    "id string, name string, types array<string>, statements "
    "array<struct<pid string, object string, qualifiers map<string,string>>>"
)


def seed_dataframes(spark: SparkSession) -> dict[str, DataFrame]:
    """The seed KB as DataFrames (items, aliases, same_as, links,
    popularity, fragments), each an Arrow ``LocalRelation``
    (``session.local_frame``): every scan of it runs in the JVM, the way
    SLING's workers read the frozen global store as it is. Over pickled
    Python lists each scan started Python-worker tasks; in a traced
    300-file kgbench pass that was 12.9 of the asset-write and
    reconcile/merge layers' 23.7 CPU-s, against 0.9 of 10.0 now."""
    items = local_frame(spark, kb.entities(), ITEMS_DDL)
    aliases = local_frame(spark, kb.alias_rows(), ALIAS_SCHEMA)
    same_as = local_frame(
        spark,
        kb.same_as_edges(),
        "id_a string, id_b string, priority_a int, priority_b int, redirect boolean",
    )
    links = local_frame(spark, kb.links_rows(), "src string, dst string, count int")
    popularity = local_frame(spark, kb.popularity_rows(), "id string, count int")
    fragments = local_frame(
        spark, kb.source_item_fragments(), ITEMS_DDL + ", source_priority int"
    )
    return {
        "items": items,
        "aliases": aliases,
        "same_as": same_as,
        "links": links,
        "popularity": popularity,
        "fragments": fragments,
    }


# ---------------------------------------------------------------------------
# asset DataFrames (KB-derived, distributed builds)
# ---------------------------------------------------------------------------


def links_from_items(items: DataFrame) -> DataFrame:
    """Outbound link graph derived from item statements (resolver
    context input, resolver.cc:31-55): subject→ITEM-object weight 8 per
    statement, plus a reverse developer→project edge (P3) weight 4.
    Row multiplicity is preserved (the resolver sums contributions).
    Literal objects (dates/numbers) are excluded — the reference's
    target.IsRef() test: literal keys can never match a phrase-table
    candidate, they only bloat the links table and the per-mention
    context updates (lock-step with kb.links_rows)."""
    from ..sources.kb import ITEM_REF_RE

    st = items.select(F.col("id"), F.explode("statements").alias("st")).select(
        "id", F.col("st.pid").alias("pid"), F.col("st.object").alias("object")
    ).filter(F.col("object").rlike(ITEM_REF_RE))
    fwd = st.select(
        F.col("id").alias("src"), F.col("object").alias("dst"), F.lit(8).alias("count")
    )
    rev = st.filter(F.col("pid") == "P3").select(
        F.col("object").alias("src"), F.col("id").alias("dst"), F.lit(4).alias("count")
    )
    return fwd.unionByName(rev)


def popularity_from_aliases(aliases: DataFrame) -> DataFrame:
    """Popularity = Σ alias counts per entity (wikiflow.md:308-313)."""
    return aliases.groupBy(F.col("entity").alias("id")).agg(
        F.sum("count").cast("int").alias("count")
    )


def gender_from_items(items: DataFrame) -> DataFrame:
    """entity → grammatical gender code from P21 statements
    (anaphora.cc:178-190; 1 masculine, 2 feminine, 0 unknown)."""
    return (
        items.select("id", F.explode("statements").alias("st"))
        .filter(F.col("st.pid") == "P21")
        .select(
            "id",
            F.when(F.col("st.object") == kb.MALE, F.lit(1))
            .when(F.col("st.object") == kb.FEMALE, F.lit(2))
            .otherwise(F.lit(0))
            .alias("gender"),
        )
        .groupBy("id")
        .agg(F.max("gender").alias("gender"))  # deterministic on dup P21
    )


def asset_dataframes(
    spark: SparkSession, seed: dict[str, DataFrame], min_alias_count: int = 2
) -> dict[str, DataFrame]:
    """Every corpus-independent annotator asset as a DataFrame plan.
    ``min_alias_count`` is the anchor threshold for corpus-derived
    aliases (trusted NAME/ALIAS sources always pass selection)."""
    from .relations import facts_df

    selected = select_aliases(seed["aliases"], anchor_threshold=min_alias_count)
    return {
        "phrase_table": build_phrase_table(selected),
        "links": links_from_items(seed["items"]),
        "popularity": popularity_from_aliases(seed["aliases"]),
        "facts": facts_df(seed["items"]),
        "gender": gender_from_items(seed["items"]),
    }


# ---------------------------------------------------------------------------
# the asset store: Parquet-backed, worker-side lazy loading
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class AssetStore:
    """Tiny picklable handle broadcast instead of the asset tables: the
    Parquet directory each worker loads lazily (and caches per process).
    ``path`` must be worker-visible (shared FS / object store on a real
    cluster; pyarrow reads s3://, hdfs:// and local paths alike).

    ``token`` is a per-build uuid minted by :func:`build_asset_store`:
    the worker cache is keyed on (path, token), so rebuilding assets at
    the SAME path (mode('overwrite'), e.g. a second pipeline run in one
    application or a reused worker process with a user-fixed
    ``--asset-store`` dir) invalidates every worker's cached copy
    instead of silently serving the stale first build."""

    path: str
    token: str = ""


# keyed by PATH, holding (token, assets): a rebuild at the same path
# REPLACES the stale entry instead of accumulating beside it — a
# long-lived worker process serving N pipeline runs must hold at most
# one (GB-scale at the 100×-KB size) copy per store path, not N.
_STORE_CACHE: dict[str, tuple[str, KbAssets]] = {}


def load_assets(store: AssetStore) -> KbAssets:
    """Worker-side: read the asset Parquet columnarly and build the
    lookup structures — once per (process, store path, build token)."""
    cached = _STORE_CACHE.get(store.path)
    if cached is not None and cached[0] == store.token:
        return cached[1]
    import pyarrow.parquet as pq

    def read(name):
        return pq.read_table(os.path.join(store.path, name))

    pt_tab = read("phrase_table")
    phrase_table: dict[int, list[tuple]] = {}
    for fp, entries in zip(
        pt_tab["fp"].to_pylist(), pt_tab["entries"].to_pylist()
    ):
        es = [(e["entity"], e["count"], e["form"], e["reliable"]) for e in entries]
        es.sort(key=lambda t: (-t[1], t[0]))
        phrase_table[fp] = es  # lookup order: count desc, entity asc

    idf_tab = read("idf")
    idf = dict(zip(idf_tab["fp"].to_pylist(), idf_tab["idf"].to_pylist()))

    links_tab = read("links")
    links: dict[str, list[tuple[str, int]]] = {}
    for src, dst, cnt in zip(
        links_tab["src"].to_pylist(),
        links_tab["dst"].to_pylist(),
        links_tab["count"].to_pylist(),
    ):
        links.setdefault(src, []).append((dst, cnt))
    for v in links.values():
        v.sort()  # deterministic context-update order

    pop_tab = read("popularity")
    popularity = dict(zip(pop_tab["id"].to_pylist(), pop_tab["count"].to_pylist()))

    facts_tab = read("facts")
    statements: dict[str, set] = {}
    for subj, pid, obj in zip(
        facts_tab["subj"].to_pylist(),
        facts_tab["pid"].to_pylist(),
        facts_tab["obj"].to_pylist(),
    ):
        statements.setdefault(subj, set()).add((pid, obj))

    g_tab = read("gender")
    gender = dict(zip(g_tab["id"].to_pylist(), g_tab["gender"].to_pylist()))

    assets = KbAssets(
        phrase_table=phrase_table,
        idf=idf,
        popularity=popularity,
        links=links,
        statements=statements,
        gender=gender,
    )
    _STORE_CACHE[store.path] = (store.token, assets)
    return assets


# ---------------------------------------------------------------------------
# build entry points
# ---------------------------------------------------------------------------


def store_location(
    spark: SparkSession,
    asset_store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """Where a build writes its asset store: ``asset_store_dir`` if
    given, else ``<checkpoint_dir>/assets`` (worker-visible by the
    checkpoint's own contract), else — on a ``local`` master only — a
    fresh driver-local temp dir removed at interpreter exit. On a
    cluster a driver-local dir is invisible to executors, so that case
    is an error."""
    if asset_store_dir:
        return asset_store_dir
    if checkpoint_dir:
        return checkpoint_dir.rstrip("/") + "/assets"
    master = spark.sparkContext.master
    if master != "local" and not master.startswith("local["):
        raise ValueError(
            f"master {master!r} cannot read a driver-local asset store: "
            "pass asset_store_dir or checkpoint_dir (a worker-visible path)"
        )
    path = tempfile.mkdtemp(prefix="sling_assets_")
    atexit.register(shutil.rmtree, path, True)
    return path


def asset_store_future(
    spark: SparkSession,
    seed: dict[str, DataFrame],
    store_dir: str,
    min_alias_count: int = 2,
):
    """Launch the five corpus-INDEPENDENT asset writes (phrase table,
    links, popularity, facts, gender) on background job-submitter
    threads, so their Spark jobs interleave into free task slots while
    the corpus/documents/stats stages run — the reference's workflow
    scheduler runs independent task branches in parallel the same way
    (python/task/workflow.py worker pools; Spark job submission is
    thread-safe). Only the IDF table depends on the corpus;
    :func:`build_asset_store` writes it after the stats pass and joins
    these writes. Pass the returned handle as ``store_future``.

    The writes read the seed KB, an Arrow ``LocalRelation``, so their
    scans start no Python worker: in a traced 300-file kgbench pass on
    4 cores the 13 write jobs take 1.7 s wall and 5.8 CPU-s, 0.4 s of it
    Python (4.1 s, 15.0 and 8.3 s over the pickled-list seed KB)."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = asset_dataframes(spark, seed, min_alias_count=min_alias_count)
    pool = ThreadPoolExecutor(
        max_workers=len(dfs), thread_name_prefix="asset-store"
    )

    def write(item):
        name, df = item
        df.write.mode("overwrite").parquet(os.path.join(store_dir, name))
        return name

    writes = [pool.submit(write, it) for it in dfs.items()]
    pool.shutdown(wait=False)
    return {"dir": store_dir, "dfs": dfs, "writes": writes}


def build_asset_store(
    spark: SparkSession,
    documents: DataFrame,
    store_dir: str,
    seed: dict[str, DataFrame] | None = None,
    min_alias_count: int = 2,
    store_future=None,
):
    """Write every asset DataFrame to ``store_dir`` as Parquet and
    broadcast only the :class:`AssetStore` handle — NO driver-side
    collect anywhere, so the phrase table / fact table can exceed driver
    memory and ``spark.driver.maxResultSize`` entirely. Workers load the
    Parquet lazily (pyarrow) and cache per process, the SLING repository
    memory-map analog. Returns (broadcast-of-AssetStore,
    phrase_table_df).

    ``store_future`` (from :func:`asset_store_future`) means the five
    corpus-independent writes were launched earlier and have been
    overlapping the corpus stages; without one they start here, beside
    the IDF write."""
    if store_future is None:
        store_future = asset_store_future(
            spark, seed or seed_dataframes(spark), store_dir, min_alias_count
        )
    elif store_future["dir"] != store_dir:
        # a mismatched future means its background writes target a
        # different directory and would never be joined — their errors
        # would vanish into a dead executor. Fail loudly (caller bug).
        raise ValueError(
            f"store_future targets {store_future['dir']!r}, "
            f"build_asset_store got store_dir={store_dir!r}"
        )
    idf_table(documents).write.mode("overwrite").parquet(
        os.path.join(store_dir, "idf")
    )
    for f in store_future["writes"]:
        f.result()  # join + propagate any background write error
    # unique build token: rebuilding at the same path must invalidate
    # worker-side _STORE_CACHE entries from earlier builds (ADVICE r02)
    token = uuid.uuid4().hex
    try:  # best-effort provenance marker alongside the Parquet
        with open(os.path.join(store_dir, "_build_token"), "w") as fh:
            fh.write(token)
    except OSError:
        pass  # non-local FS: the token in the handle is authoritative
    store = AssetStore(path=store_dir, token=token)
    return spark.sparkContext.broadcast(store), store_future["dfs"]["phrase_table"]
