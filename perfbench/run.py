"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 6 --trace 0

Workloads: ``medallion`` (pipeline refresh + dashboard page),
``curation`` (near-dup / clustering / vector pass), ``cdc`` (small
upserts drained by a change-feed stream into a gold rollup). See
``predictions.json`` for why each was chosen and which layer metric
should move which end-to-end metric.

This process generates the seed's inputs (cached under
``.perfbench/inputs``), gives the timed process fresh scratch
directories inside the checkout (warehouse, Spark local dirs, temp,
event log), starts it, deletes the scratch directories when it ends,
and prints two lines: a summary with every metric, its unit and
sample count, the run's stamp and, for a traced run, its tracing
overhead; then the result object, last.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ecommerce_lakehouse_platform_spark"
WORKLOADS = ("medallion", "curation", "cdc")
TIMEOUT_S = 165  # the whole run must end within 180 s


def _stop_run(marker: str) -> None:
    """Stop every process of the run and wait until none is left. The
    run's processes (the timed process, its JVM, and the PySpark daemon
    and workers, which leave the process group) carry ``marker`` in
    their environment."""
    needle = marker.encode() + b"\0"
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5
        while time.time() < deadline:
            left = []
            for name in os.listdir("/proc"):
                try:
                    with open(f"/proc/{name}/environ", "rb") as f:
                        if needle in f.read():
                            left.append(int(name))
                except (OSError, ValueError):
                    continue  # not a process, or gone
            if not left:
                return
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    in_dir = os.path.join(base, "inputs", f"seed-{a.seed}")
    props = gen.generate(in_dir, a.seed)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    scratch = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "eventlog")}
    for d in scratch.values():
        os.makedirs(d)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={scratch['tmp']} -XX:-UsePerfData"]
    if a.trace:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{scratch['eventlog']}"]
    marker = f"PERFBENCH_RUN={run_dir}"
    env = dict(os.environ, PERFBENCH_RUN=run_dir,
               PYTHONPATH=os.pathsep.join(
                   p for p in (root, os.environ.get("PYTHONPATH")) if p),
               SPARK_LOCAL_DIRS=scratch["local"], TMPDIR=scratch["tmp"],
               PYSPARK_SUBMIT_ARGS=shlex.join(conf + ["pyspark-shell"]))
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--in-dir", in_dir, "--run-dir", run_dir,
           "--eventlog-dir", scratch["eventlog"], "--out", out,
           "--spawned-at", repr(time.time())]
    # a SIGTERM still stops the timed process and removes the scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = None
    try:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr)
        try:
            proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: timed process exceeded its time limit", file=sys.stderr)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _stop_run(marker)
        if proc.returncode == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
            if a.trace:
                traces = os.path.join(base, "traces")
                os.makedirs(traces, exist_ok=True)
                shutil.move(result.pop("trace_file"),
                            os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: timed process failed (exit {proc.returncode})",
              file=sys.stderr)
        return 1
    return report(a, base, props, result)


def report(a, base: str, props: dict, result: dict) -> int:
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in {**result["end_to_end"],
                                         **result["detail"]}.items()},
        "stamp": {**result["stamp"], "inputs": props},
    }
    # the untraced figures of the same workload and seed, kept with a
    # hash of the code that made them so that the tracing overhead
    # never compares two different programs
    last = os.path.join(base, "last", f"{a.workload}-seed{a.seed}.json")
    code = _code_hash(os.getcwd())
    if a.trace:
        summary["top_writes"] = result.get("top_writes", [])
        untraced = {}
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
        summary["tracing_overhead"] = (
            {k: result["end_to_end"][k][0] - v for k, v in untraced["metrics"].items()}
            if untraced.get("code") == code else
            "unavailable: no untraced run of this workload and seed with this code")
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in result["per_layer"].items()}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({"code": code, "metrics": {
                k: v for k, (v, _u, _n) in result["end_to_end"].items()}}, f)
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u, _n) in result["end_to_end"].items()}
    print(json.dumps(summary))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def _code_hash(root: str) -> str:
    """Hash of the program package and the benchmark sources."""
    h = hashlib.sha256()
    for top in (os.path.join(root, PACKAGE), HERE):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def _unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"),
                         ("ratio", "ratio"), ("write_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
