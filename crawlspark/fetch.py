"""Fetch layer (SURVEY.md §2 A3/J2).

The reference is a sequential ``requests.get`` loop (BASELINE.json:6); there
is no network in this sandbox, so fetching is a *deterministic synthetic page
generator keyed on the URL's attributes* — the same generator the frozen
oracle uses (crawlspark.pagegen).  ``simulate_native`` is the only fetch
path: page contents (span payloads, discovered URLs) are pure functions of
``pmod(xxhash64(...))``, so the whole fetch is expressed as native Spark
expressions inside whole-stage codegen, with zero Python in the loop.  A
real HTTP client would replace it on a cluster, after the engine's salted
repartition (K1) and before ``partition_id`` is captured.

``simulate_native`` returns the fetched batch with a ``spans`` column (the
page's share of the document's interleaved spans); ``discoveries`` builds the
frontier rows that fetching the batch discovers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark import pagegen as pg
from crawlspark.fixtures import (
    FRONTIER_COLS,
    n_review_pages_col,
    overview_url_col,
    review_url_col,
)

def _kinds_arr():
    return F.array(*[F.lit(k) for k in pg.KINDS])


def _vocab_arr():
    return F.array(*[F.lit(w) for w in pg.VOCAB])

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),  # int32 mandated, BASELINE.json:15
        ]
    )
)


def _h(*cols) -> Column:
    return F.xxhash64(F.concat(*cols))


def _span_kind(doc: Column, j: Column) -> Column:
    return F.when(j == 0, F.lit("title")).otherwise(
        F.element_at(_kinds_arr(), (F.pmod(_h(doc, F.lit(":"), j.cast("string")), F.lit(4)) + 1).cast("int"))
    )


def _span_text(doc: Column, j: Column) -> Column:
    js = j.cast("string")
    nw = F.lit(3) + F.pmod(_h(doc, F.lit(":"), js, F.lit(":n")), F.lit(6))
    words = F.transform(
        F.sequence(F.lit(0), (nw - 1).cast("int")),
        lambda w: F.element_at(
            _vocab_arr(),
            (
                F.pmod(
                    _h(doc, F.lit(":"), js, F.lit(":"), w.cast("string")),
                    F.lit(len(pg.VOCAB)),
                )
                + 1
            ).cast("int"),
        ),
    )
    return F.array_join(words, " ")


def _span_media(doc: Column, j: Column) -> Column:
    return F.format_string(
        "img://%016x", _h(doc, F.lit(":"), j.cast("string"), F.lit(":m"))
    )


def spans_for_doc_col(doc: Column) -> Column:
    """All spans of a document as array<struct<kind,text,media_ref,offset>>
    — the native twin of pagegen.doc_spans (FIXTURES.md §1 exact spec)."""
    n = (F.lit(4) + F.pmod(F.xxhash64(doc), F.lit(13))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda j: F.struct(
            _span_kind(doc, j).alias("kind"),
            F.when(_span_kind(doc, j) == "media", F.lit(None).cast("string"))
            .otherwise(_span_text(doc, j))
            .alias("text"),
            F.when(_span_kind(doc, j) == "media", _span_media(doc, j))
            .otherwise(F.lit(None).cast("string"))
            .alias("media_ref"),
            j.cast("int").alias("offset"),
        ),
    )


def page_spans_col(doc: Column, page_index: Column, n_pages: Column) -> Column:
    """The subset of a document's spans carried by one page (round-robin by
    offset — native twin of pagegen.page_spans)."""
    return F.filter(
        spans_for_doc_col(doc), lambda s: F.pmod(s["offset"], n_pages) == page_index
    )


# ---------------------------------------------------------------------------
# native simulator
# ---------------------------------------------------------------------------


def simulate_native(batch: DataFrame) -> DataFrame:
    """Attach the fetched page's span payload to each scheduled row.

    listing pages carry no document spans; overview = page 0; review page at
    or-offset 10k = page k+1 of (n_review_pages+1) total pages."""
    hid = F.col("hotel_id")
    doc = F.format_string("hotel_%05d", F.col("listing_rank"))
    m = (n_review_pages_col(hid) + 1).cast("int")
    page_index = (
        F.when(F.col("kind") == "overview", F.lit(0))
        .otherwise((F.col("page_offset") / pg.REVIEW_STEP).cast("int") + 1)
    )
    spans = F.when(F.col("kind") == "listing", F.lit(None).cast(SPAN_TYPE)).otherwise(
        page_spans_col(doc, page_index, m)
    )
    return batch.withColumn("doc_id", F.when(F.col("kind") == "listing", F.lit(None)).otherwise(doc)).withColumn(
        "spans", spans
    )


def discoveries(batch: DataFrame, seeds: DataFrame, next_wave: int) -> DataFrame:
    """Frontier rows discovered by fetching `batch` (the reference's
    hotelID -> overview -> review-page fanout, BASELINE.json:6).

    * listing page (host, oa) discovers the overview URLs of the hotels on
      that page — including a deliberate overlap row (the previous page's
      last hotel) so dedup is exercised.  Implemented as a broadcast range
      join against the small seed dimension.
    * overview page discovers the hotel's review pages or{10k} via a native
      explode(sequence(...)) fanout — a UDTF-equivalent with no Python.
    * review pages discover nothing.
    """
    # listing -> overviews
    listings = batch.filter(F.col("kind") == "listing").select(
        F.col("host").alias("l_host"), F.col("page_offset").alias("oa")
    )
    s = seeds.select("listing_rank", "hotel_id", "host", "host_local_pos", "n_review_pages")
    ov = (
        listings.join(
            F.broadcast(s),
            (s["host"] == listings["l_host"])
            & (
                ((s["host_local_pos"] >= listings["oa"]) & (s["host_local_pos"] < listings["oa"] + pg.LISTING_PAGE_SIZE))
                | ((listings["oa"] > 0) & (s["host_local_pos"] == listings["oa"] - 1))
            ),
        )
        .select(
            overview_url_col(F.col("host"), F.col("hotel_id")).alias("url"),
            F.col("host"),
            F.lit("overview").alias("kind"),
            F.col("hotel_id"),
            F.col("listing_rank"),
            F.lit(0).alias("page_offset"),
            F.lit(1).alias("depth"),
            F.lit(1).alias("priority"),
        )
    )
    # overview -> review pages
    ovs = batch.filter(F.col("kind") == "overview")
    rv = (
        ovs.select("host", "hotel_id", "listing_rank", n_review_pages_col(F.col("hotel_id")).alias("p"))
        .select(
            "host",
            "hotel_id",
            "listing_rank",
            F.explode(F.sequence(F.lit(0), F.col("p") - 1)).alias("k"),
        )
        .select(
            review_url_col(F.col("host"), F.col("hotel_id"), F.col("k") * pg.REVIEW_STEP).alias("url"),
            F.col("host"),
            F.lit("review_page").alias("kind"),
            F.col("hotel_id"),
            F.col("listing_rank"),
            (F.col("k") * pg.REVIEW_STEP).cast("int").alias("page_offset"),
            F.lit(2).alias("depth"),
            F.lit(2).alias("priority"),
        )
    )
    disc = ov.unionByName(rv)
    return (
        disc.withColumn("url_h", F.xxhash64("url"))
        .withColumn("wave_discovered", F.lit(next_wave))
        .withColumn("state", F.lit("pending"))
        .select(*FRONTIER_COLS)
    )
