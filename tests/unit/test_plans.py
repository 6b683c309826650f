"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely on must
actually appear in the executed plan — pushed filters, pruned scans,
broadcast joins, partial aggregation, whole-stage codegen, and no
single-partition global window in the scalable sequence assignment.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from crawlspark import queries, robots

SF = "/root/testdata/sf0.001"
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    p = plan_of(queries.q02_scan_filter(spark, SF))
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_quantity)" in p or "GreaterThan(l_quantity" in p
    # projection pruned to the 4 selected columns at the scan
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "l_extendedprice" not in rs[0]


def test_broadcast_join_for_dimensions(spark):
    p = plan_of(queries.q11_broadcast_join(spark, SF))
    assert "BroadcastHashJoin" in p
    fr = spark.createDataFrame(
        [("https://h.com/x", "h.com")], "url string, host string"
    )
    rules = spark.createDataFrame(
        [("h.com", ["/private"], None)],
        "host string, disallow_prefix array<string>, crawl_delay_ms int",
    )
    assert "BroadcastHashJoin" in plan_of(robots.annotate(fr, rules))


def test_partial_aggregation_and_codegen(spark):
    df = queries.q14_groupby_agg(spark, SF)
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2  # partial (map-side) + final
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_global_seq_has_no_single_partition_window(spark):
    df = spark.range(1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 13).alias("o_orderdate")
    )
    from crawlspark import sched

    out = sched.assign_global_seq(df, order_cols=["o_orderdate", "o_orderkey"], seq_col="seq")
    # correctness: a permutation-free dense sequence
    rows = out.orderBy("seq").toPandas()
    assert list(rows["seq"]) == list(range(1, 1001))
    # scalability: the big window is partitioned by the deterministic range
    # bucket (hash exchange on _pid), never a global single-partition
    # sort-window; the plan must carry NO SinglePartition exchange for the
    # data (the offsets cumsum over <= parts rows is the bounded exception)
    p = plan_of(out)
    assert "hashpartitioning(_pid" in p
    # the ranking window itself is keyed by _pid (not empty partitionBy)
    assert "windowpartition" not in p.lower() or "_pid" in p


def test_left_anti_dedup_plan_is_join_not_subquery_loop(spark):
    p = plan_of(queries.q09_left_anti_dedup(spark, SF))
    assert "LeftAnti" in p


def test_topk_is_rank_filter_not_global_sort(spark):
    p = plan_of(queries.q18_topk_per_group(spark, SF))
    assert "GlobalLimit" not in p  # no sort+limit; window rank filter instead
    assert "RunningWindowFunction" in p or "Window" in p


def test_embedding_neardup_plan_is_blocked_not_cartesian(spark):
    """q40 must generate candidates via the blocked-matmul grid (explode +
    equi joins) — an all-pairs CartesianProduct/BroadcastNestedLoopJoin over
    the embedding table is a 100-TB scale-killer."""
    from crawlspark import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(dedup.embedding_neardup(emb, threshold=0.35))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_lsh_plan_has_no_cartesian_and_no_literal_planes(spark):
    """q41's bucket computation must be the Arrow matmul stage (planes live
    in the Python closure), never thousands of embedded plane literals."""
    from crawlspark import simsearch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = simsearch.topk_lsh(emb, k=5)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    # the old implementation inlined ~3072 float literals into the plan
    assert p.count("0.") < 500, "plane components leaked into the plan as literals"


def test_global_seq_pin_modes_agree(spark):
    """pin='local' (one pinned execution) and pin='none' (literal bounds,
    zero state) must produce the identical dense sequence."""
    from crawlspark import sched

    df = spark.range(5000).select(
        (F.col("id") * 37 % 1000).alias("a"), F.col("id").alias("b")
    )
    x = sched.assign_global_seq(df, order_cols=["a", "b"], seq_col="seq").orderBy("seq").toPandas()
    y = sched.assign_global_seq(df, order_cols=["a", "b"], seq_col="seq", pin="local").orderBy("seq").toPandas()
    assert list(x["seq"]) == list(range(1, 5001))
    assert (x[["a", "b", "seq"]].values == y[["a", "b", "seq"]].values).all()


def test_jaccard_pairs_single_pass_plan(spark):
    """jaccard_pairs must scan the input once and use no joins: set sizes
    ride the doc_id window into the doclists (regression guard for the old
    two-consumer shape, which scanned twice and re-joined sizes twice)."""
    from crawlspark import pipeline_queries as pq

    import re

    p = plan_of(pq.QUERIES["q31_jaccard_shingles"](spark, SF))
    # formatted output prints each node in the tree AND a detail section;
    # count the detail headers to count actual scan nodes
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "Join" not in p


def test_link_chain_is_map_only(spark):
    """q64 (extract -> resolve -> canonicalize) must be a pure map pipeline:
    zero exchanges — at 100 TB this stage costs no shuffle at all."""
    import re

    from crawlspark import pipeline_queries as pq

    p = plan_of(pq.QUERIES["q64_link_extraction"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0


def test_sequence_packing_single_exchange(spark):
    """q55 packing is one hash exchange (the per-stream window) and nothing
    else — no global sort, no second shuffle."""
    import re

    from crawlspark import pipeline_queries as pq

    p = plan_of(pq.QUERIES["q55_sequence_packing"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "rangepartitioning" not in p.lower()


def test_no_query_plans_a_cartesian_product(spark):
    """Registry-wide scale sweep: NO query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin may appear only in the documented
    small-side-broadcast idioms (1-row scalar aggregates, small-by-contract
    ANN query sides, the 16-row IVF codebook)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    bnlj_allowed = {
        "q29_scalar_subquery",   # 1-row aggregate crossJoin(broadcast)
        "q34_ann_cosine",        # query side small by contract
        "q46_tfidf",             # 1-row N crossJoin(broadcast)
        "q57_ann_ivf",           # 16-row codebook + 8-row query side
        "q67_mixture_rebalance", # 1-row total crossJoin(broadcast)
        "q70_unigram_logprob",   # 1-row corpus-total crossJoin(broadcast)
        "q71_host_pagerank",     # 1-row node-count crossJoin(broadcast)
        "q72_revisit_priority",  # 1-row now-ts crossJoin(broadcast)
        "q80_bm25",              # 1-row n_docs/avgdl crossJoin(broadcast)
        "q86_nb_quality",        # 1-row scalars/priors crossJoin(broadcast)
        "q91_funnel",            # 1-row stage-1 base crossJoin(broadcast)
    }
    offenders, bnlj_new = [], []
    for k, fn in sorted(m.queries().items()):
        p = plan_of(fn(spark, SF))
        if "CartesianProduct" in p:
            offenders.append(k)
        if "BroadcastNestedLoopJoin" in p and k not in bnlj_allowed:
            bnlj_new.append(k)
    assert not offenders, f"cartesian products: {offenders}"
    assert not bnlj_new, f"unexpected nested-loop joins: {bnlj_new}"


def test_jaccard_hot_shingle_cut_precedes_collect(spark):
    """The max_df stop-shingle Filter must sit UPSTREAM of the collect_set
    aggregation (lower node number in formatted explain = closer to the
    leaf), so a viral shingle's doc list is never materialized in an
    aggregation buffer; and the single-pass shape must survive: 1 scan,
    3 exchanges, 0 joins."""
    import re

    from crawlspark import pipeline_queries as pq

    p = plan_of(pq.QUERIES["q31_jaccard_shingles"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 3
    assert "Join" not in p
    agg_ids = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) ObjectHashAggregate", p, re.M)
    ]
    assert agg_ids, "collect_set aggregate missing from plan"
    # the MAX_DF filter specifically (condition on the df_sh window count —
    # any other Filter, e.g. the lead()-isNotNull one, must not satisfy
    # this check: the pre-fix plan also had leaf-ward filters) must sit
    # strictly leaf-ward of every collect_set aggregate
    maxdf_ids = []
    for block in p.split("\n\n"):
        head = re.match(r"\((\d+)\) Filter", block.lstrip())
        if head and re.search(r"Condition : \(df_sh#\d+L? <= \d+\)", block):
            maxdf_ids.append(int(head.group(1)))
    assert maxdf_ids, "max_df stop-shingle Filter missing from plan"
    assert all(f < min(agg_ids) for f in maxdf_ids), (
        f"max_df filter {maxdf_ids} does not precede collect_set {agg_ids}"
    )


def test_delta_frontier_merge_is_broadcast_anti_join(spark, tmp_path):
    """The merge-on-read pending view must apply its equality deletes as a
    BROADCAST anti join (map-only over the live set) — never a sort-merge
    that shuffles the whole base — and aggregate only the (small) changes."""
    from crawlspark.engine import CrawlEngine, EngineConfig

    eng = CrawlEngine(spark, EngineConfig(n_hotels=50, take_k=10), str(tmp_path / "s"))
    eng.bootstrap()
    assert eng.step() and eng.step()
    plan = (
        eng._read_pending(eng.store.latest_wave())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_is_broadcast_hash_join(spark):
    """q68's scale contract: the benchmark shingle set broadcasts (map-side
    hash join over the training shingles) — the corpus must never be
    shuffled by shingle for an eval-sized scrub side."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from crawlspark import dedup

    bench = docs.filter(F.col("doc_id") % 50 == 7)
    train = docs.filter(F.col("doc_id") % 50 != 7)
    p = plan_of(dedup.decontaminate(train, bench))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bm25_single_scan_via_runtime_exchange_reuse(spark):
    """q80's contract: the corpus is scanned/exploded ONCE.  The per-doc
    aggregate is referenced by both the 1-row scalar branch and the scoring
    branch with identical column sets, so AQE's exchange-reuse must collapse
    them — the FINAL adaptive plan carries a ReusedExchange and the whole
    query runs the heavy (explode + groupBy doc_id) subtree a single time.

    Runs at sf0.01, NOT the sf0.001 the rest of this file uses: other test
    modules persist() the sf0.001 documents frame (module fixtures), and
    the session CacheManager substitutes that InMemoryRelation into any
    later plan over the same path — legitimate, but AQE then declines to
    reuse exchanges over InMemoryTableScan children, which would fail this
    assertion for reasons unrelated to q80's own plan.  No fixture ever
    caches sf0.01."""
    from crawlspark import pipeline_queries as pq

    df = pq.QUERIES["q80_bm25"](spark, "/root/testdata/sf0.01")
    df.collect()  # finalize the adaptive plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "ReusedExchange" in p, "per-doc exchange not reused (double scan)"
