"""The Arrow/Python batch contract: every mapInPandas site goes through
``session.map_batches``, and every public function that reaches a
mapInPandas, applyInPandas or cogroup site returns 0 rows with its
declared schema on a 0-row input."""

from __future__ import annotations

import ast
import pathlib
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from crawlspark import dedup, multimodal, seen, simsearch, textproc

PKG = pathlib.Path(__file__).resolve().parents[2] / "crawlspark"


def test_map_in_pandas_only_in_runner_and_bloom_blob():
    """Batch->frame Arrow work goes through the runner; the bloom prefilter
    keeps its own mapInPandas because it ORs a whole partition into one
    blob, which a per-batch contract cannot express."""
    sites = []
    for path in sorted(PKG.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.FunctionDef):
                sites += [
                    (path.stem, fn.name)
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
                ]
    assert sorted(sites) == [("dedup", "_bloom_bits_of_keys"), ("session", "map_batches")]


def _inputs(spark, sf_dir, cut):
    """The case inputs, each passed through ``cut`` (which keeps a frame
    whole or filters it to 0 rows)."""
    d = cut(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return SimpleNamespace(
        spark=spark,
        cut=cut,
        d=d,
        e=cut(spark.read.parquet(f"{sf_dir}/embeddings.parquet")),
        urls=d.select(F.col("text").alias("url"), F.xxhash64("doc_id").alias("url_h")),
        bloom=seen.empty_state(spark, 4),
    )


# name -> output of one public function over the inputs ``t``
CASES = {
    "topk_bruteforce_arrow": lambda t: simsearch.topk_bruteforce_arrow(t.e),
    "hyperplane_buckets": lambda t: simsearch.hyperplane_buckets(t.e),
    "topk_lsh": lambda t: simsearch.topk_lsh(t.e),
    "train_ivf_centroids": lambda t: simsearch.train_ivf_centroids(t.e),
    "ivf_topk": lambda t: simsearch.ivf_topk(t.e),
    "ivf_assign_arrow": lambda t: simsearch.ivf_assign_arrow(
        t.e,
        t.spark.createDataFrame([(0, [1.0] * simsearch.DIM)], "cid long, cv array<double>"),
    ),
    "embedding_neardup": lambda t: dedup.embedding_neardup(t.e),
    "semdedup": lambda t: dedup.semdedup(t.e),
    "embedding_decontaminate": lambda t: dedup.embedding_decontaminate(t.e, t.e),
    "decontaminate_bloom": lambda t: dedup.decontaminate(
        t.d, t.d, strategy="bloom", bloom_m=1 << 12
    ),
    "fingerprint_overlap_arrow": lambda t: dedup.fingerprint_overlap_pairs(
        t.d, hash_fn="xxh", variant="arrow"
    ),
    "fingerprints_arrow": lambda t: textproc.fingerprints(
        t.d, hash_fn="xxh", variant="arrow"
    ),
    "cdc_chunks_arrow": lambda t: textproc.cdc_chunks(t.d, hash_fn="xxh", variant="arrow"),
    "extract_features": lambda t: multimodal.extract_features(multimodal.with_payload(t.d)),
    "sample_frames": lambda t: multimodal.sample_frames(multimodal.with_payload(t.d)),
    "seen_filter_new": lambda t: seen.filter_new(t.urls, t.bloom, 4)[0],
    "seen_merge_states": lambda t: seen.merge_states(t.cut(t.bloom), t.cut(t.bloom)),
    "seen_cuckoo_apply": lambda t: seen.cuckoo_apply(
        t.urls, seen.cuckoo_empty_state(t.spark, 4, 64), 4, "insert"
    )[0],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_zero_row_input_gives_zero_rows_with_declared_schema(spark, sf_dir, name):
    full = CASES[name](_inputs(spark, sf_dir, lambda df: df))
    # a nondeterministic filter keeps the scan, so the Python side runs over
    # real (empty) partitions rather than a pruned empty relation
    empty = CASES[name](_inputs(spark, sf_dir, lambda df: df.filter(F.rand(0) < 0)))
    assert empty.schema == full.schema
    assert empty.count() == 0
