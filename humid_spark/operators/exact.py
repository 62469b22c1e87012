"""Exact-duplicate counting — the trie-insert phase (A1/A2/A3).

Reference: readData populates Trie{word -> count} one row at a time
(src/humid.cc:70-103).  Here the whole phase is one hash aggregate with
map-side partial aggregation for free:

    groupBy(key).agg(count(*), min(doc_order))

`first_ts`/`first_url` carry the reference's "first read in input order"
semantics (needed for the representative emit, src/humid.cc:224-231).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_keys(keyed_pages: DataFrame) -> DataFrame:
    """keyed_pages: output of with_key_columns (url, warc_ts, ..., key, usable).

    Returns one row per distinct usable key:
      (key, count, first_ts, first_url)
    """
    first = F.min(F.struct(F.col("warc_ts"), F.col("url"))).alias("first_doc")
    return (
        keyed_pages.filter(F.col("usable"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("count"), first)
        .select(
            "key",
            "count",
            F.col("first_doc.warc_ts").alias("first_ts"),
            F.col("first_doc.url").alias("first_url"),
        )
    )
