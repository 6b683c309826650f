"""Distributed fixture builders — native-expression twins of crawlspark.pagegen.

Every column here is computed with JVM-side expressions (``pmod(xxhash64(...))``
etc.) that agree bit-for-bit with the pure-Python generator, because pagegen
uses Python floor-mod on the signed XXH64 (== Spark's pmod).  That lets us
synthesize a 10^8-row frontier with ``spark.range`` at bench scale with no
Python in the loop, while the 100-hotel oracle fixtures are byte-identical.

Parity is asserted in tests/unit/test_fixtures_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark import pagegen as pg

def _hosts_arr():
    return F.array(*[F.lit(h) for h in pg.HOSTS])

FRONTIER_COLS = [
    "url",
    "url_h",
    "host",
    "kind",
    "hotel_id",
    "listing_rank",
    "page_offset",
    "depth",
    "priority",
    "wave_discovered",
    "state",
]


def _hid(rank):
    return F.concat(F.lit("h"), (rank + 100000).cast("string"))


def review_count_col(hid):
    return (F.lit(5) + F.pmod(F.xxhash64(hid), F.lit(96))).cast("int")


def n_review_pages_col(hid):
    return F.ceil(review_count_col(hid) / F.lit(float(pg.REVIEW_STEP))).cast("int")


def is_private_col(hid):
    return F.pmod(F.xxhash64(F.concat(F.lit("priv:"), hid)), F.lit(9)) == 0


def path_prefix_col(hid):
    return F.when(is_private_col(hid), F.lit("/private")).otherwise(F.lit(""))


def overview_url_col(host, hid):
    return F.concat(
        F.lit("https://"), host, path_prefix_col(hid), F.lit("/Hotel_Review-d"), hid, F.lit(".html")
    )


def review_url_col(host, hid, offset):
    return F.concat(
        F.lit("https://"),
        host,
        path_prefix_col(hid),
        F.lit("/Hotel_Review-d"),
        hid,
        F.lit("-or"),
        offset.cast("string"),
        F.lit(".html"),
    )


def seed_hotels_df(spark: SparkSession, n_hotels: int) -> DataFrame:
    """Seed dimension: (listing_rank, hotel_id, host, review_count,
    n_review_pages, private, doc_id, host_local_pos).  Small, broadcastable."""
    rank = F.col("listing_rank")
    df = (
        spark.range(n_hotels)
        .select(F.col("id").cast("int").alias("listing_rank"))
        .withColumn("hotel_id", _hid(rank))
        .withColumn(
            "host",
            F.when(rank % 2 == 0, F.lit(pg.HOT_HOST)).otherwise(
                F.element_at(
                    _hosts_arr(),
                    (F.lit(2) + F.pmod(F.floor(rank / 2), F.lit(pg.N_HOSTS - 1))).cast("int"),
                )
            ),
        )
        .withColumn("review_count", review_count_col(F.col("hotel_id")))
        .withColumn("n_review_pages", n_review_pages_col(F.col("hotel_id")))
        .withColumn("private", is_private_col(F.col("hotel_id")))
        .withColumn("doc_id", F.format_string("hotel_%05d", rank))
    )
    w = Window.partitionBy("host").orderBy("listing_rank")
    return df.withColumn("host_local_pos", (F.row_number().over(w) - 1).cast("int"))


def constant_df(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A short list of rows with a DDL schema, as a JVM plan:
    ``range(1)`` + ``inline(array(struct(lit(v).cast(type), ...)))``.
    ``createDataFrame(list)`` would be a Python RDD whose every scan starts
    Python worker tasks.  The array is cast to the schema's struct type, so
    every column is nullable, exactly as ``createDataFrame(rows, ddl)``."""
    schema = T.StructType.fromDDL(ddl)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, schema.fields)])
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(T.ArrayType(schema, False)))
    )


def robots_rules_df(spark: SparkSession) -> DataFrame:
    rows = [
        (
            h,
            pg.DISALLOW_PREFIXES if h in pg.ROBOTS_HOSTS else [],
            pg.CRAWL_DELAY_MS if h == pg.CRAWL_DELAY_HOST else None,
        )
        for h in pg.HOSTS
    ]
    return constant_df(
        spark, rows, "host string, disallow_prefix array<string>, crawl_delay_ms int"
    )


def politeness_budget_df(spark: SparkSession) -> DataFrame:
    # FIXTURES.md §4: 2.0 rps default, 0.5 on the hot host, burst 4.
    rows = [(h, 0.5 if h == pg.HOT_HOST else 2.0, 4) for h in pg.HOSTS]
    return constant_df(spark, rows, "host string, max_rps double, burst int")


def initial_frontier_df(spark: SparkSession, n_hotels: int) -> DataFrame:
    """Wave-0 frontier: every host's listing pages (oa offsets), pending."""
    seeds = seed_hotels_df(spark, n_hotels)
    per_host = seeds.groupBy("host").agg(F.count("*").alias("n_hotels_host"))
    pages = per_host.withColumn(
        "n_pages",
        F.greatest(
            F.lit(1), F.ceil(F.col("n_hotels_host") / F.lit(float(pg.LISTING_PAGE_SIZE)))
        ).cast("int"),
    )
    fr = (
        pages.select(
            "host", F.explode(F.sequence(F.lit(0), F.col("n_pages") - 1)).alias("k")
        )
        .withColumn("page_offset", (F.col("k") * pg.LISTING_PAGE_SIZE).cast("int"))
        .withColumn(
            "url",
            F.concat(
                F.lit("https://"),
                F.col("host"),
                F.lit("/Hotels-g1-oa"),
                F.col("page_offset").cast("string"),
                F.lit(".html"),
            ),
        )
        .withColumn("url_h", F.xxhash64("url"))
        .withColumn("kind", F.lit("listing"))
        .withColumn("hotel_id", F.lit(None).cast("string"))
        .withColumn("listing_rank", F.lit(-1))
        .withColumn("depth", F.lit(0))
        .withColumn("priority", F.lit(0))
        .withColumn("wave_discovered", F.lit(0))
        .withColumn("state", F.lit("pending"))
    )
    return fr.select(*FRONTIER_COLS)


def documents_interleaved_df(spark: SparkSession, n_hotels: int) -> DataFrame:
    """Golden interleaved documents table in the driver-mandated shape
    (BASELINE.json:15) — built natively; equals pagegen.doc_spans per row."""
    from crawlspark.fetch import spans_for_doc_col

    seeds = seed_hotels_df(spark, n_hotels)
    return seeds.select(
        F.col("doc_id"), spans_for_doc_col(F.col("doc_id")).alias("spans")
    )
