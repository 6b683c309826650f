"""Per-layer metrics of a traced run, and the map from each layer to the
end-to-end metrics it should move.

Layers carry the names of the crawlspark modules whose public calls the
spans wrap.  Each value is per traced operation (one frontier pass, one
crawl wave, one near-dup pass), except engine.bootstrap.wall_s and
jvm.gc_s, which are per run.  A layer the workload never calls reports 0.

Lazy layers have no span of their own: sched.rank_topk_salted,
polite.schedule, fetch.simulate_native and fetch.discoveries inside
CrawlEngine.step() run inside the state write (or the seen.filter_new
input count) that first materializes them, and are reported there.
"""

from __future__ import annotations

STATE_TABLES = [
    "frontier",
    "seen_bloom",
    "host_counts",
    "retired",
    "crawl_log",
    "spans",
    "frontier_add",
]

# layer -> (metrics, end-to-end metrics it should move · workload,
#           workloads on which it should not move anything)
LAYER_MAP = {
    "urlkit": {
        "calls": ["with_canonical", "hash64", "host"],
        "metrics": ["urlkit.wall_s", "urlkit.cpu_s", "urlkit.rows"],
        "moves": {"frontier": ["items_per_s", "cpu_s_per_kitem"]},
        "no_change": ["crawl", "neardup"],
    },
    "robots": {
        "calls": ["allowed"],
        "metrics": ["robots.cpu_s", "robots.rows_blocked"],
        "moves": {"frontier": ["items_per_s"]},
        "no_change": ["neardup"],
    },
    "polite": {
        "calls": ["attach_budget", "schedule"],
        "metrics": ["polite.wall_s", "polite.cpu_s"],
        "moves": {"frontier": ["items_per_s"]},
        "no_change": ["neardup"],
    },
    "sched": {
        "calls": ["dedup_rank_topk_fused", "assign_global_seq"],
        "metrics": [
            "sched.topk.cpu_s",
            "sched.topk.shuffle_mb",
            "sched.topk.spill_mb",
            "sched.topk.kept_ratio",
            "sched.seq.cpu_s",
            "sched.seq.jobs",
        ],
        "moves": {"frontier": ["items_per_s"], "crawl": ["wave_s_p50"]},
        "no_change": ["neardup"],
    },
    "engine": {
        "calls": ["bootstrap", "step", "maybe_rebase"],
        "metrics": [
            "engine.bootstrap.wall_s",
            "engine.step.wall_s",
            "engine.step.jobs",
            "engine.step.tasks",
            "engine.rebase.wall_s",
        ],
        "moves": {"crawl": ["wave_s_p50", "wave_s_p90", "items_per_s"]},
        "no_change": ["frontier", "neardup"],
    },
    "state": {
        "calls": ["StateStore.write_snapshot", "StateStore.write_delta"],
        "metrics": [
            f"state.{t}.{m}" for t in STATE_TABLES for m in ("write_s", "cpu_s", "rows")
        ]
        + ["state.bytes_written", "state.files_written"],
        "moves": {"crawl": ["wave_s_p50"]},
        "no_change": ["frontier", "neardup"],
    },
    "seen": {
        "calls": ["filter_new"],
        "metrics": ["seen.filter_new.wall_s", "seen.filter_new.cpu_s", "seen.new_ratio"],
        "moves": {"crawl": ["wave_s_p50"]},
        "no_change": ["frontier", "neardup"],
    },
    "dedup": {
        "calls": [
            "shingle_hashes",
            "jaccard_pairs",
            "jaccard_stop_shingle_stats",
            "connected_components",
        ],
        "metrics": [
            "dedup.shingle.cpu_s",
            "dedup.shingle.rows",
            "dedup.shingle.shuffle_mb",
            "dedup.pairs.cpu_s",
            "dedup.pairs.shuffle_mb",
            "dedup.pairs.spill_mb",
            "dedup.pairs.candidates",
            "dedup.pairs.kept_ratio",
            "dedup.stop.rows_dropped",
            "dedup.cc.cpu_s",
            "dedup.cc.jobs",
        ],
        "moves": {"neardup": ["items_per_s", "cpu_s_per_kitem"]},
        "no_change": ["frontier", "crawl"],
    },
    "process": {
        "calls": [],
        "metrics": ["jvm.gc_s", "spark.jobs", "spark.tasks", "unattributed.cpu_s"],
        "moves": {w: ["setup_s", "peak_rss_mb"] for w in ("frontier", "crawl", "neardup")},
        "no_change": [],
    },
    "trace": {
        "calls": [],
        "metrics": ["trace.overhead_frac"],
        "moves": {},
        "no_change": [],
    },
}

PER_LAYER = [m for layer in LAYER_MAP.values() for m in layer["metrics"]]


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    if name == "state.bytes_written":
        return "bytes"
    return "count"


def better(name: str) -> str:
    return "higher" if name.endswith("kept_ratio") or name == "seen.new_ratio" else "lower"


_MB = float(1 << 20)


def per_layer(tracer, n_traced_ops: int, gc_s: float, overhead: float) -> dict:
    """Every PER_LAYER metric from the tracer's spans."""
    n = max(1, n_traced_ops)
    spans = tracer.spans

    def total(names, key):
        names = {names} if isinstance(names, str) else set(names)
        return sum(s.get(key, 0) for s in spans if s["name"] in names)

    def wall(names):
        names = {names} if isinstance(names, str) else set(names)
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    def ratio(a, b):
        return a / b if b else 0.0

    ops = tracer.named("op")
    top = [s for s in spans if s.get("parent") in {o["id"] for o in ops}]
    m = {
        "urlkit.wall_s": wall("urlkit") / n,
        "urlkit.cpu_s": total("urlkit", "cpu_s") / n,
        "urlkit.rows": total("urlkit", "rows_out") / n,
        "robots.cpu_s": total("robots", "cpu_s") / n,
        "robots.rows_blocked": (total("robots", "rows_in") - total("robots", "rows_out")) / n,
        "polite.wall_s": wall(["polite.attach_budget", "polite.schedule"]) / n,
        "polite.cpu_s": total(["polite.attach_budget", "polite.schedule"], "cpu_s") / n,
        "sched.topk.cpu_s": total("sched.topk", "cpu_s") / n,
        "sched.topk.shuffle_mb": total("sched.topk", "shuffle_write_bytes") / _MB / n,
        "sched.topk.spill_mb": total("sched.topk", "spill_disk_bytes") / _MB / n,
        "sched.topk.kept_ratio": ratio(total("sched.topk", "rows_out"), total("sched.topk", "rows_in")),
        "sched.seq.cpu_s": total("sched.seq", "cpu_s") / n,
        "sched.seq.jobs": total("sched.seq", "jobs") / n,
        "engine.bootstrap.wall_s": wall("engine.bootstrap"),
        "engine.step.wall_s": wall("engine.step") / n,
        "engine.step.jobs": sum(tracer.inclusive(s, "jobs") for s in tracer.named("engine.step")) / n,
        "engine.step.tasks": sum(tracer.inclusive(s, "tasks") for s in tracer.named("engine.step")) / n,
        "engine.rebase.wall_s": wall("engine.rebase") / n,
        "seen.filter_new.wall_s": wall("seen.filter_new") / n,
        "seen.filter_new.cpu_s": total("seen.filter_new", "cpu_s") / n,
        "seen.new_ratio": ratio(total("seen.filter_new", "rows_new"), total("seen.filter_new", "rows_in")),
        "dedup.shingle.cpu_s": total("dedup.shingle", "cpu_s") / n,
        "dedup.shingle.rows": total("dedup.shingle", "rows") / n,
        "dedup.shingle.shuffle_mb": total("dedup.shingle", "shuffle_write_bytes") / _MB / n,
        "dedup.pairs.cpu_s": total("dedup.pairs", "cpu_s") / n,
        "dedup.pairs.shuffle_mb": total("dedup.pairs", "shuffle_write_bytes") / _MB / n,
        "dedup.pairs.spill_mb": total("dedup.pairs", "spill_disk_bytes") / _MB / n,
        "dedup.pairs.candidates": total("dedup.stop", "candidates") / n,
        "dedup.pairs.kept_ratio": ratio(total("dedup.pairs", "rows"), total("dedup.stop", "candidates")),
        "dedup.stop.rows_dropped": total("dedup.stop", "rows_dropped") / n,
        "dedup.cc.cpu_s": total("dedup.cc", "cpu_s") / n,
        "dedup.cc.jobs": total("dedup.cc", "jobs") / n,
        "jvm.gc_s": gc_s,
        "spark.jobs": sum(tracer.inclusive(o, "jobs") for o in ops) / n,
        "spark.tasks": sum(tracer.inclusive(o, "tasks") for o in ops) / n,
        "unattributed.cpu_s": (total("op", "cpu_s") - sum(s["cpu_s"] for s in top)) / n,
        "trace.overhead_frac": overhead,
    }
    writes = [s for s in spans if s["name"].startswith("state.") and s.get("parent") is not None]
    in_ops = {s["id"] for s in spans if _under(spans, s, "op")}
    writes = [s for s in writes if s["id"] in in_ops]
    for t in STATE_TABLES:
        mine = [s for s in writes if s.get("table") == t]
        m[f"state.{t}.write_s"] = sum(s["end"] - s["start"] for s in mine) / n
        m[f"state.{t}.cpu_s"] = sum(s["cpu_s"] for s in mine) / n
        m[f"state.{t}.rows"] = sum(s["output_records"] for s in mine) / n
    m["state.bytes_written"] = sum(s.get("bytes", 0) for s in writes) / n
    m["state.files_written"] = sum(s.get("files", 0) for s in writes) / n
    missing = set(PER_LAYER) ^ set(m)
    if missing:
        raise AssertionError(f"per-layer metric set mismatch: {sorted(missing)}")
    return m


def _under(spans, s, name) -> bool:
    while s.get("parent") is not None:
        s = spans[s["parent"]]
        if s["name"] == name:
            return True
    return False
