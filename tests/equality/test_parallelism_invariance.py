"""Crawl order must be identical at any parallelism (SURVEY.md §5.3.2):
the canonical order is a pure sort key, never execution order.  The second
parallelism level runs in a subprocess because one process holds one local
SparkContext."""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_HOTELS = 40
# the fresh-process legs import the crawlspark of this checkout
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNIPPET = r"""
import sys, json, tempfile, shutil
sys.path.insert(0, %r)
from crawlspark.session import get_spark
from crawlspark.engine import CrawlEngine, EngineConfig
spark = get_spark(parallelism=int(sys.argv[1]), shuffle_partitions=int(sys.argv[1]))
d = tempfile.mkdtemp()
try:
    eng = CrawlEngine(spark, EngineConfig(n_hotels=%d), d)
    eng.run()
    log = eng.crawl_log()
    order = [r["url"] for r in log.orderBy("crawl_seq").select("url").collect()]
    print("ORDER_JSON:" + json.dumps(order))
finally:
    shutil.rmtree(d, ignore_errors=True)
""" % (REPO_ROOT, N_HOTELS)


PRIO_SNIPPET = r"""
import sys, json, tempfile, shutil
sys.path.insert(0, %r)
from pyspark.sql import functions as F
from crawlspark.session import get_spark
from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark import fixtures
spark = get_spark(parallelism=int(sys.argv[1]), shuffle_partitions=int(sys.argv[1]))
d = tempfile.mkdtemp()
try:
    prio = (
        fixtures.initial_frontier_df(spark, %d).select("host").distinct()
        .withColumn(
            "host_priority",
            (F.pmod(F.xxhash64("host"), F.lit(5)) - F.lit(2)).cast("double"),
        )
    )
    eng = CrawlEngine(
        spark, EngineConfig(n_hotels=%d, priority_table=prio, wave_k=120), d
    )
    eng.run()
    log = eng.crawl_log()
    order = [r["url"] for r in log.orderBy("crawl_seq").select("url").collect()]
    print("ORDER_JSON:" + json.dumps(order))
finally:
    shutil.rmtree(d, ignore_errors=True)
""" % (REPO_ROOT, N_HOTELS, N_HOTELS)


def _order_at(cores: int, snippet: str = SNIPPET) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", snippet, str(cores)],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("ORDER_JSON:")][0]
    return json.loads(line[len("ORDER_JSON:"):])


def test_crawl_order_invariant_across_parallelism():
    o8 = _order_at(8)
    o32 = _order_at(32)
    assert o8 == o32
    assert len(o8) > 0


def test_adaptive_priority_order_invariant_across_parallelism():
    """The adaptive (priority_table + wave_k) schedule is as pure a sort key
    as the static one: identical crawl order at 8 and 32 cores."""
    o8 = _order_at(8, PRIO_SNIPPET)
    o32 = _order_at(32, PRIO_SNIPPET)
    assert o8 == o32
    assert len(o8) > 0
