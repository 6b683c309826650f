"""One measured process of a benchmark run (started by run.py).

The process is fresh: it starts Spark, runs the workload's warm-up and
reports the set-up time from its own launch.  It then runs the timed body
(a closed loop: each operation starts when the previous one ends, until
``--seconds`` have passed and at least MIN_OPS operations ran; a crawl runs
until drained), checks the outputs outside the timed body, and writes its
result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, trace  # noqa: E402

# fewest timed operations in a run, however long --seconds is: the JIT is
# still settling, so a run must always time the same first operations
MIN_OPS = 2


def _session(nproc: int, work: str):
    from crawlspark.session import get_spark

    spark = get_spark(
        parallelism=nproc,
        app_name="perfbench",
        extra_conf={
            # a fixed 2 GB heap: fits the inputs with room to spare, and
            # a heap that does not resize keeps peak RSS steady
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--launched-at", type=float, required=True)
    ap.add_argument("--launch-steal", required=True, help="trace.cpu_steal() at launch, as stolen,wanted")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    a = ap.parse_args()
    logging.getLogger("py4j").setLevel(logging.CRITICAL)

    from perfbench import workloads

    nproc = len(os.sched_getaffinity(0))
    spark = _session(nproc, a.work)
    tracer = trace.Tracer(spark, f"{a.workload}-{a.seed}", enabled=bool(a.trace))
    wl = workloads.make(a.workload, spark, a.seed, a.scale, tracer, a.work)
    wl.warmup()
    launch = tuple(int(x) for x in a.launch_steal.split(","))
    setup_raw = time.time() - a.launched_at
    setup_steal = trace.steal_frac(launch, trace.cpu_steal())
    res = {
        "setup_s": setup_raw * (1.0 - setup_steal),
        "setup_s_raw": setup_raw,
        "setup_steal_frac": setup_steal,
    }
    me = os.getpid()
    gc0, cpu0, steal0 = trace.jvm_gc_s(spark), trace.tree_cpu_s(me), trace.cpu_steal()
    lat, raw, traced_lat, errors = [], [], [], []
    items = traced_items = attempted = 0
    t0 = time.time()
    # Traced runs alternate untraced and traced operations, so the gap
    # between the two is the tracing overhead; a crawl's waves differ
    # from one another, so there every wave is traced.
    while True:
        if not wl.until_drained and attempted >= MIN_OPS and time.time() - t0 >= a.seconds:
            if not a.trace or (lat and traced_lat):
                break
        traced = bool(a.trace) and (wl.until_drained or attempted % 2 == 1)
        attempted += 1
        st, s = trace.cpu_steal(), time.time()
        try:
            if traced:
                with tracer.span("op"):
                    token = wl.op_traced()
            else:
                token = wl.op()
        except Exception:  # an operation that raises is a failed attempt
            errors.append(traceback.format_exc(limit=3))
            continue
        dt = time.time() - s
        net = dt * (1.0 - trace.steal_frac(st, trace.cpu_steal()))
        n = wl.items(token)
        if n == 0:  # nothing left to do (a drained crawl): not an operation
            attempted -= 1
            break
        if traced:
            traced_lat.append(net)
            traced_items += n
        else:
            lat.append(net)
            raw.append(dt)
            items += n
    body_s = sum(lat)
    cpu_s = trace.tree_cpu_s(me) - cpu0
    gc_s = trace.jvm_gc_s(spark) - gc0
    body_steal = trace.steal_frac(steal0, trace.cpu_steal())
    peak_rss = trace.tree_rss_mb(me, peak=True)

    try:
        errors += wl.check()
    except Exception:
        errors.append(traceback.format_exc(limit=3))
    res.update(
        attempted=attempted,
        failed=min(attempted, len(errors)) if errors else 0,
        errors=errors,
        n_ops=len(lat),
        n_items=items,
        op_s=lat,
        op_s_raw=raw,
        body_steal_frac=body_steal,
        items_per_s=items / body_s if body_s else 0.0,
        cpu_s_per_kitem=1000.0 * cpu_s / (items + traced_items) if items + traced_items else 0.0,
        peak_rss_mb=peak_rss,
        wave_s_p50=statistics.median(lat) if lat else 0.0,
        wave_s_p90=_percentile(lat, 0.9) if lat else 0.0,
        java=spark._jvm.java.lang.System.getProperty("java.version"),
    )
    if a.trace:
        if lat:
            overhead = res["items_per_s"] * sum(traced_lat) / traced_items - 1.0
        else:  # every operation traced: count the tracer's own time
            overhead = tracer.own_s / (sum(traced_lat) - tracer.own_s)
        res["layers"] = layers.per_layer(tracer, len(traced_lat), gc_s, overhead)
        if a.spans:
            tracer.dump(a.spans)
    wl.close()
    _write(a.out, res)
    spark.stop()
    return 0


def _write(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.exit(main())
