"""Crawl metrics (SURVEY.md §2 F1/F5, K3): per-host/per-wave fetch counts,
per-partition lineage, totals.  All hash aggregates with automatic partial
(map-side) combine."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wave_stats(crawl_log: DataFrame) -> DataFrame:
    return crawl_log.groupBy("host", "wave").agg(
        F.count("*").alias("n_fetched"),
        F.countDistinct("url_h").alias("n_distinct"),
        F.min("fetched_at").alias("first_fetch"),
        F.max("fetched_at").alias("last_fetch"),
    )


def partition_lineage(crawl_log: DataFrame) -> DataFrame:
    """K3: per-partition fetch counts (BASELINE.json:6 lineage metrics)."""
    return crawl_log.groupBy("wave", "partition_id").agg(
        F.count("*").alias("n_fetched"), F.countDistinct("host").alias("n_hosts")
    )


def totals(crawl_log: DataFrame) -> DataFrame:
    return crawl_log.agg(
        F.count("*").alias("n_fetched"),
        F.countDistinct("url_h").alias("n_urls"),
        F.countDistinct("host").alias("n_hosts"),
    )


def trap_stats(log: DataFrame, ratio_threshold: float = 2.5) -> DataFrame:
    """Spider-trap host detection (the crawler-trap heuristic of Cho &
    Garcia-Molina's crawl ordering work and IRLbot's URL-explosion signal,
    SIGMOD'09): a host whose crawled URL space is a large multiple of its
    distinct-content space is MANUFACTURING URLs — calendars, session ids,
    faceted filters — and should be throttled or cut from the frontier.

    Input: a fetch log ``(host, url, content_key)`` (content_key = any
    content hash, e.g. md5(text)).  Output per host: fetch/URL/content
    counts, ``url_per_content`` (round 6), and the ``is_trap`` flag.

    Scale: ONE hash aggregation keyed by host.  The two count-distincts
    plan as Spark's standard Expand two-round shape — each round map-side
    combined, so the shuffle carries at most 2 rows per (host, url) /
    (host, content) per partition, never the raw log.  Ratio + flag are
    map-only over one row per host."""
    return (
        log.groupBy("host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("content_key").alias("n_content"),
        )
        .withColumn(
            "url_per_content",
            F.round(F.col("n_urls") / F.col("n_content"), 6),
        )
        .withColumn(
            "is_trap", F.col("url_per_content") >= F.lit(ratio_threshold)
        )
    )


def pipeline_health(
    docs: DataFrame | None = None,
    sigs: DataFrame | None = None,
    simhashes: DataFrame | None = None,
    text_col: str = "text",
    n: int = 3,
    max_df: int = 20,
    lsh_bands: int = 16,
    lsh_max_bucket: int = 1000,
    simhash_bands: int = 4,
    simhash_max_bucket: int = 1000,
    extra: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """ONE diagnostics frame for the no-silent-caps contract (VERDICT r4
    'Next #7'): every capped candidate generator's observability twin,
    labeled, in a single call —
    (check, n_rows, rows_dropped, buckets_dropped, max_bucket_n).

    Pass whichever inputs the pipeline actually ran: ``docs`` adds the
    jaccard stop-shingle row (same df/n/max_df as jaccard_pairs), ``sigs``
    (minhash_signatures output) the LSH bucket-cap row, ``simhashes``
    (simhash output) the simhash bucket-cap row.  ``extra`` splices in any
    same-schema rows — e.g. an engine's admission_stats() — so one frame
    carries the whole run's cap signal.  decontaminate needs no row: its
    bloom strategy's false positives are killed by the exact join, so
    neither strategy can silently drop hits.

    Each source row is the already-tested cap-stats twin
    (dedup.bucket_cap_stats — explicit 1-row aggregations, NOT
    ``observe()``, which returns an empty metrics row under this family's
    explode-of-nested-HOF plans on Spark 4.1); the union is lazy, so the
    caller prices one job for the whole health check."""
    from crawlspark import dedup

    parts: list[DataFrame] = []

    def _label(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"),
            "n_rows",
            "rows_dropped",
            "buckets_dropped",
            "max_bucket_n",
        )

    if docs is not None:
        parts.append(
            _label(
                "jaccard_stop_shingle",
                dedup.jaccard_stop_shingle_stats(docs, text_col, n, max_df),
            )
        )
    if sigs is not None:
        parts.append(
            _label(
                "lsh_bucket_cap",
                dedup.lsh_bucket_cap_stats(
                    sigs, bands=lsh_bands, max_bucket=lsh_max_bucket
                ),
            )
        )
    if simhashes is not None:
        parts.append(
            _label(
                "simhash_bucket_cap",
                dedup.simhash_bucket_cap_stats(
                    simhashes, bands=simhash_bands, max_bucket=simhash_max_bucket
                ),
            )
        )
    for name, df in (extra or {}).items():
        parts.append(_label(name, df))
    if not parts:
        raise ValueError("pipeline_health needs at least one input")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
