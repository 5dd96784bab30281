"""REST-server parity workloads — the two queries the reference's
extracted Haskell server exposes (haskellServer/src/Lib.hs:28-33,
Extracted.hs:3035-3074): artist filter by id, album⋈artist FK join.
Artist/album stand-ins derive from nation/supplier; the JSON boundary
(generate_json) is `sources.io.to_json_records`, unit-tested separately.

Both routes read their tables through `catalog.resident` (fiat2's index
introduction): once `nation` and `supplier` are resident, neither route
runs a Spark job. The album route looks each album's artist up in a
literal map instead of joining.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fiat2_spark.catalog import resident
from fiat2_spark.workloads.util import registry

QUERIES, ORACLES, q = registry()


def artist_less_than(spark, sf_dir, n: int):
    """The :n-parameterized body behind GET /get_artist_less_than/:n —
    shared by the registered parity query (n=10) and the HTTP shim
    (`fiat2_spark.serving`). Requires `nation` to hold at most
    `catalog.RESIDENT_ROWS` rows (ValueError naming it otherwise); once
    resident, the result drains without a Spark job."""
    nat = resident(spark, sf_dir, "nation")
    return nat.filter(F.col("n_nationkey") < n).select(
        F.col("n_nationkey").cast("long").alias("artist_id"),
        F.col("n_name").alias("name"),
    )


def album_and_artist(spark, sf_dir, n: int):
    """The :n-parameterized body behind GET /get_album_and_artist/:n: the
    resident `supplier` rows whose nation key is in a literal id → name
    map of `artist_less_than(n)`'s rows, named from it. Requires `nation`
    and `supplier` to hold at most `catalog.RESIDENT_ROWS` rows each
    (ValueError naming it otherwise, before any Spark job) and `nation`
    to have unique keys (Spark's duplicate-map-key error otherwise); once
    both are resident, the result drains without a Spark job."""
    s = resident(spark, sf_dir, "supplier")
    artists = artist_less_than(spark, sf_dir, n).collect()
    lut = F.create_map(*[F.lit(v) for row in artists for v in row]).cast("map<bigint,string>")
    return s.filter(F.map_contains_key(lut, F.col("s_nationkey"))).select(
        F.col("s_suppkey").alias("album_id"),
        F.col("s_name").alias("title"),
        F.element_at(lut, F.col("s_nationkey")).alias("artist"),
    )


@q(
    "server_artist_filter",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS artist_id, n_name AS name
    FROM nation WHERE n_nationkey < 10
    """,
)
def server_artist_filter(spark, sf_dir):
    """GET /get_artist_less_than/:n (Lib.hs:28-30): filter artists by
    id < n — exported_get_artist (Extracted.hs:3035-3048)."""
    return artist_less_than(spark, sf_dir, 10)


@q(
    "server_album_join",
    """
    SELECT s_suppkey AS album_id, s_name AS title, n_name AS artist
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_nationkey < 10
    """,
)
def server_album_join(spark, sf_dir):
    """GET /get_album_and_artist/:n: albums⋈artists on artist_id
    (exported_get_album_and_artist, Extracted.hs:3050-3074)."""
    return album_and_artist(spark, sf_dir, 10)
