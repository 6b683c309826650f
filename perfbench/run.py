"""crawlspark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {frontier,crawl,neardup} --seed N \
        --seconds S --trace {0,1} [--scale X]

Run from the repository root.  Load shape: a closed loop on local[nproc]
from one driver process; one workload at a time, each operation starting
when the previous one ends.  Each run starts one fresh worker process
(worker.py), which times its own set-up (launch to warmed session), then
measures for at least --seconds and checks its outputs.

Times are net of CPU steal: on a shared virtual machine the hypervisor can
take a varying share of the CPUs away, so each timed interval is scaled by
the share of wanted CPU time that was not stolen (trace.steal_frac).  The
run record keeps the raw times and the steal shares next to them.

stdout carries only the record.  The second-to-last line is the full run
record (run conditions, sample counts, errors); the last line is the
result: {"correct", "attempted", "failed", "metrics"}, where metrics are the
end-to-end metrics with --trace 0 and the per-layer metrics with --trace 1.
A traced run also writes its spans to perfbench/out/.  The exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, trace  # noqa: E402

WORKLOADS = ("frontier", "crawl", "neardup")
RUN_LIMIT_S = 170.0

E2E_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_s_per_kitem": "s",
    "peak_rss_mb": "MB",
    "wave_s_p50": "s",
    "wave_s_p90": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke runs use ~0.05)")
    return ap.parse_args(argv)


def _versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    try:
        out["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        out["commit"] = None
    return out


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process the child started (its JVM and Python workers
    share its process group) and wait until they are gone."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    deadline = time.time() + 15
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)
    if _group_alive(proc.pid):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while _group_alive(proc.pid):
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            f = raw[raw.rfind(")") + 2 :].split()
            if int(f[2]) == pgid and f[0] != "Z":
                return True
    return False


def _child(a, work: str, tag: str, deadline: float, spans: str | None) -> dict:
    out = os.path.join(work, f"{tag}.json")
    log = os.path.join(work, f"{tag}.log")
    env = dict(os.environ)
    # Python workers forked by the JVM must import crawlspark too
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = work
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", a.workload,
        "--seed", str(a.seed),
        "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--scale", str(a.scale),
        "--work", work,
        "--out", out,
        "--launched-at", repr(time.time()),
        "--launch-steal", "%d,%d" % trace.cpu_steal(),
    ]
    if spans:
        cmd += ["--spans", spans]
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"{tag} {why}; log tail:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    a = _args(argv)
    start = time.time()
    for need in ("crawlspark/engine.py", "tests/oracle_ref.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    deadline = start + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    spans = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl") if a.trace else None

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "scale": a.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": os.getloadavg(),
        **_versions(),
    }
    try:
        res = _child(a, work, "main", deadline, spans)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(
        loadavg_after=os.getloadavg(),
        java=res.pop("java"),
        failed_frac=res["failed"] / max(1, res["attempted"]),
        **{k: v for k, v in res.items() if k != "layers"},
        wall_s=time.time() - start,
    )
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in res["layers"].items()}
        record["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
    ok = res["failed"] == 0 and not res["errors"]
    for e in res["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(record, sort_keys=True))
    print(
        json.dumps(
            {"correct": ok, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
