"""Repo benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``pipelines`` (Prod2Vec train, the LLM
curation DAG and one streaming wave per pass) and ``catalog``.  Run from
the repository root.  Inputs are generated from the seed with pyarrow
before any JVM starts; the workload then runs in a fresh child process
(fresh JVM) on local[<cpus>] with the environment pinned here.  Every
file lives under ``.perfbench_tmp/`` in the checkout and is removed at
exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics (setup_s, cold_s, warm_s),
with ``--trace 1`` every per-layer metric (peak_rss_mb among them).  The line
before it records the seed, the pinned environment and the pass times.
Exits non-zero without a result line when the program or its run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170.0
WORKLOAD_NAMES = ["pipelines", "catalog"]


def host_env(tmp: str) -> dict[str, str]:
    """The pinned environment: all cores, a driver heap sized to the
    host, scratch space and Python workers' import path in the run dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) / (1 << 20)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{max(2, min(8, int(total_gb / 2)))}g",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(tmp, "tmp"),
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def spawn(args: list[str], env: dict, log, deadline: float) -> dict:
    """Run worker.py in a fresh process; returns its JSON result."""
    out = os.path.join(env["TMPDIR"], "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--out", out, "--t0", repr(time.time())]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=log, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    reap(proc)
    if rc is None:
        raise RuntimeError("workload run timed out")
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def become_subreaper() -> None:
    """Orphaned descendants (the JVM, Python UDF workers) re-parent to
    this process, so reap() can wait for every one of them.  Where prctl
    refuses, reap() still signals the whole process group."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap(proc: subprocess.Popen) -> None:
    """Stop whatever is left of the worker's process group and wait
    until every process in it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        until = time.monotonic() + 5
        while time.monotonic() < until:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def input_sizes(inputs: dict) -> dict:
    """The integer facts about the generated inputs (row and doc counts)."""
    out = {}
    for k, v in inputs.items():
        if isinstance(v, dict):
            out.update({f"{k}.{kk}": vv for kk, vv in input_sizes(v).items()})
        elif isinstance(v, int):
            out[k] = v
        elif k == "waves":
            out["waves"] = len(v)
    return out


def echo_log(path: str) -> None:
    """Copy the worker log's lines that are not Spark's own logging to stderr."""
    if os.path.exists(path):
        with open(path) as f:
            lines = [l for l in f if not l.startswith(("WARN", "INFO", "Setting default log level"))]
        sys.stderr.write("".join(lines)[-6000:])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "prod2vec_spark")):
        print(f"perfbench: no prod2vec_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    become_subreaper()
    from inputs import make_inputs
    from metrics import END_TO_END, per_layer_specs

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    env = host_env(tmp)
    for d in ("spark-local", "tmp", "inputs", "work"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    log_path = os.path.join(tmp, "worker.log")
    try:
        inputs = make_inputs(a.workload, os.path.join(tmp, "inputs"), a.seed)
        inputs_json = os.path.join(tmp, "inputs.json")
        with open(inputs_json, "w") as f:
            json.dump(inputs, f)
        common = ["--workload", a.workload, "--inputs", inputs_json, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace)]
        with open(log_path, "a") as log:
            res = spawn(common + ["--work", os.path.join(tmp, "work")], env, log, deadline)
        if res["failed"]:
            echo_log(log_path)
    except Exception as e:
        print(f"perfbench: {a.workload} run failed: {e}", file=sys.stderr)
        echo_log(log_path)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    if a.trace:
        metrics = {name: {"value": res["per_layer"][name], "unit": unit}
                   for name, unit in per_layer_specs()}
    else:
        values = {"setup_s": res["setup_s"], "cold_s": res["cold_s"], "warm_s": res["warm_s"]}
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in END_TO_END}
    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "pass_s": res["pass_s"], "warm_samples": res["warm_samples"],
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        "inputs": input_sizes(inputs),
    }
    print(json.dumps({"perfbench": info}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
