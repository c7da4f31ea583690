"""Physical exchange operators (SURVEY.md §2.3 mapping).

| reference (sling/)             | here          |
|--------------------------------|---------------|
| task/sharder.cc:25-46          | shard         |
| task/rekey.cc:75               | rekey         |
| task/filter.cc:29-68 (discard) | discard       |
| nlp/silver/corpus-split.cc:60  | corpus_split  |
| identity / null sink           | trivial       |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shard(df: DataFrame, key: str, n: int) -> DataFrame:
    """Hash-route rows to n shards (sharder contract: hash(key) % n)."""
    return df.repartition(n, F.col(key))


def rekey(df: DataFrame, new_key, key_col: str = "key") -> DataFrame:
    """Rewrite the message key (rekey task)."""
    return df.withColumn(key_col, new_key)


def discard(df: DataFrame, blacklist: DataFrame, on: str) -> DataFrame:
    """Drop rows whose key appears in the blacklist — broadcast
    LEFT ANTI join (the discard task loads its blacklist in Start();
    broadcast is the same placement)."""
    return df.join(F.broadcast(blacklist), on=on, how="left_anti")


def keep_only(df: DataFrame, whitelist: DataFrame, on: str) -> DataFrame:
    """Semi-join filter (document-item-filter analog,
    nlp/silver/filters.cc:57)."""
    return df.join(F.broadcast(whitelist), on=on, how="left_semi")


def corpus_split(df: DataFrame, key: str, ratio: int = 10,
                 split_col: str = "split") -> DataFrame:
    """Deterministic train/eval routing by key fingerprint modulo
    (corpus-split semantics): split = 'eval' for hash(key) % ratio == 0
    else 'train'."""
    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(ratio))
    return df.withColumn(
        split_col, F.when(bucket == 0, F.lit("eval")).otherwise(F.lit("train"))
    )

