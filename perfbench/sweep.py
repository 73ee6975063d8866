"""Repeat the benchmark over seeds and summarise it the way BENCHMARK.json
is judged: per workload and end-to-end metric, the median and the
quartile spread (Q3 - Q1) as a share of the median, against the bound.
It also makes one traced run on each of the first TRACED_SEEDS seeds and
prints the tracing overhead, traced minus untraced median cold_s and
warm_s.

    python3 perfbench/sweep.py --seeds 1-10

Runs are sequential, one fresh process each, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACED_SEEDS = 2


def seed_range(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["info"] = json.loads(lines[-2])["perfbench"]
    res["wall_s"] = wall
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s correct={res['correct']} "
          f"warm_passes={res['info']['warm_samples']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                     if trace == 0 or k.startswith("traced.")), flush=True)
    return res


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seeds = seed_range(a.seeds)
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        plain = [run_once(w, s, bench["run_seconds"], 0) for s in seeds]
        traced = [run_once(w, s, bench["run_seconds"], 1) for s in seeds[:TRACED_SEEDS]]
        ok &= all(r["correct"] for r in plain + traced)
        print(f"== {w}: {len(plain)} runs, mean wall {statistics.mean(r['wall_s'] for r in plain):.1f}s")
        for m in bench["end_to_end"]:
            med, sp = spread([r["metrics"][m["name"]]["value"] for r in plain])
            verdict = "ok" if sp <= m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "TOO WIDE")
            print(f"   {m['name']:<12} median {med:10.4f} {m['unit']:<3} spread {sp:6.3f} "
                  f"bound {m['bound']:.2f}  {verdict}")
        for name in ("cold_s", "warm_s"):
            base = statistics.median(r["metrics"][name]["value"] for r in plain)
            tr = statistics.median(r["metrics"][f"traced.{name}"]["value"] for r in traced)
            print(f"   tracing overhead {name}: {tr - base:+.3f} s ({(tr - base) / base:+.1%}), "
                  f"traced median {tr:.3f} vs {base:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
