"""spark-submit entry point (BASELINE.json:14 "ships as a spark-submit
--py-files package").

    spark-submit --py-files crawlspark.zip -m crawlspark.submit_job ... or
    spark-submit --py-files crawlspark.zip submit_job.py \
        --state-dir /data/crawl-state --n-hotels 100000 --waves 10 \
        --seen-mode bloom --take-k 2000

On a real cluster the master/executor topology comes from spark-submit
(--num-executors N vs 4N for the scaling criterion); this module only
declares the job, never the cluster.  Seven flags (``build_parser``); the
fetch stage is always the native-expression simulator (``fetch``).
"""

from __future__ import annotations

import argparse
import json


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser("crawlspark")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--n-hotels", type=int, default=100)
    ap.add_argument("--waves", type=int, default=50)
    ap.add_argument("--seen-mode", choices=["exact", "bloom"], default="bloom")
    ap.add_argument("--bloom-partitions", type=int, default=64)
    ap.add_argument("--take-k", type=int, default=None)
    ap.add_argument("--salt-partitions", type=int, default=64)
    return ap


def main(argv=None) -> dict:
    from pyspark.sql import SparkSession

    from crawlspark.engine import CrawlEngine, EngineConfig

    args = build_parser().parse_args(argv)
    # spark-submit provides the session (master/executors from the CLI);
    # getOrCreate picks it up — no master hardcoded here
    spark = SparkSession.builder.appName("crawlspark-job").getOrCreate()
    cfg = EngineConfig(
        n_hotels=args.n_hotels,
        seen_mode=args.seen_mode,
        bloom_partitions=args.bloom_partitions,
        take_k=args.take_k,
        salt_partitions=args.salt_partitions,
    )
    eng = CrawlEngine(spark, cfg, args.state_dir)
    n = eng.run(max_waves=args.waves)
    stats = {r["host"]: r["n_fetched"] for r in eng.wave_stats().collect()}
    out = {"waves_run": n, "fetches_by_host": stats}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
