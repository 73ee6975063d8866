"""One workload run in a fresh process and a fresh JVM.  Started by
run.py; writes its result as JSON to ``--out``.

setup_s runs from ``--t0`` (the parent's clock just before it started
this process) to a ready session: JVM launch, ``get_spark`` and one
trivial job.  Then the loop: a cold pass, then MIN_WARM warm passes,
then more only while the timed passes add up to less than ``--seconds``.
Checks run between passes, outside the timed region.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

# A pipelines pass takes 15-20 s warm and twice that cold on 4 cores, so
# a run of about 70 s holds one warm pass.  With run_seconds shorter than
# any cold pass, every run of every workload makes exactly 1 + MIN_WARM
# passes, so warm_s is always taken over the same passes.
MIN_WARM = 1

def read_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_loop(workload, seconds: float, log=print):
    """Closed loop over passes.  Returns (pass times, attempted, failed,
    last output).  A pass that raises or fails its check counts as
    failed operations; a failed pass keeps its time so the loop ends."""
    times: list[float] = []
    attempted = failed = 0
    out = None
    i = 0
    while i < workload.max_passes:
        workload.before_pass(i)
        t0 = time.perf_counter()
        try:
            out = workload.run_pass(i)
        except Exception:
            log(f"pass {i} raised:\n{traceback.format_exc()}")
            out = None
        times.append(time.perf_counter() - t0)
        attempted += workload.ops_per_pass
        if out is None:
            failed += workload.ops_per_pass
        else:
            try:
                failed += workload.check(i, out)
            except Exception as e:
                log(f"pass {i} check failed: {type(e).__name__}: {e}")
                failed += workload.ops_per_pass
        i += 1
        if i > MIN_WARM and sum(times) >= seconds:
            break
    if out is not None:
        try:
            failed += workload.finish(out)
        except Exception as e:
            log(f"final check failed: {type(e).__name__}: {e}")
            failed += workload.ops_per_pass
    return times, attempted, failed, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="JSON file from inputs.make_inputs")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    from prod2vec_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(a.work, "eventlog")
    if a.trace:
        from tracing import event_log_conf

        os.makedirs(log_dir, exist_ok=True)
        conf.update(event_log_conf(log_dir))
    spark = get_spark(f"perfbench-{a.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    result = {"setup_s": time.time() - a.t0}

    from metrics import per_layer_values
    from tracing import NullTracer, ProgressRecorder, Tracer
    from workloads import WORKLOADS

    with open(a.inputs) as f:
        inputs = json.load(f)
    tracer = Tracer(spark) if a.trace else NullTracer()
    recorder = ProgressRecorder()
    if a.trace:
        spark.streams.addListener(recorder.listener())
    workload = WORKLOADS[a.workload](spark, inputs, a.seed, tracer, os.path.join(a.work, "passes"))
    log = lambda msg: print(msg, file=sys.stderr, flush=True)  # noqa: E731
    times, attempted, failed, _ = run_loop(workload, a.seconds, log=log)
    pid = spark.sparkContext._gateway.proc.pid
    result.update(
        cold_s=times[0],
        warm_s=statistics.median(times[1:]),
        warm_samples=len(times) - 1,
        pass_s=times,
        peak_rss_mb=read_peak_rss_mb(pid),
        attempted=attempted,
        failed=failed,
    )
    if a.trace:
        recorder.settle()
        stop_spark(spark)  # also flushes the event log
        lines = []
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                lines += f.readlines()
        result["per_layer"] = per_layer_values(
            tracer, lines, recorder.rows, getattr(workload, "stage_ms", {}), times, result["peak_rss_mb"]
        )
    else:
        stop_spark(spark)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
