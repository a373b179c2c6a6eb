#!/usr/bin/env python3
"""Steadiness runs: each workload, untraced, once per seed, in fresh
processes; reports for each end-to-end metric the median, quartiles,
min, max and the quartile spread as a share of the median, plus each
run's wall, calib.cpu_s and host.steal_frac.

    python3 e2ebench/steady.py --seeds 1-10 [--workloads gdx_io,relational]
        [--out e2ebench/record.json]

--out adds these runs as one more set to the benchmark's record, which
also holds each workload's description and the layer table. Every set
is kept; each workload's `agreement` compares its last two sets' medians
against the metrics' bounds.

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import spec


def run_once(workload: str, seed: int) -> dict:
    cmd = [sys.executable, str(spec.HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec.RUN_SECONDS), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    out = {"workload": workload, "seed": seed, "wall_s": wall, "exit": proc.returncode}
    lines = proc.stdout.strip().splitlines()
    out["result"] = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    diag = [ln for ln in proc.stderr.splitlines() if ln.startswith("e2ebench-diag ")]
    out["diag"] = json.loads(diag[-1].split(" ", 1)[1]) if diag else None
    if proc.returncode:
        out["stderr_tail"] = proc.stderr[-2000:]
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(spec.WORKLOADS))
    ap.add_argument("--out", type=Path, default=None)
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds:
            r = run_once(wl, seed)
            runs.append(r)
            m = r["result"]["metrics"] if r["result"] else {}
            print(wl, seed, f"wall={r['wall_s']:.1f}",
                  {k: round(v["value"], 3) for k, v in m.items()},
                  f"drift={r['diag']['drift']:.3f}" if r["diag"] else r.get("stderr_tail"),
                  flush=True)
        ok = [r for r in runs if r["result"]]
        metrics = {
            m["name"]: summarize([r["result"]["metrics"][m["name"]]["value"] for r in ok])
            for m in spec.END_TO_END
        } if len(ok) >= 2 else {}
        report[wl] = {
            "runs": [{"seed": r["seed"], "wall_s": r["wall_s"], "exit": r["exit"],
                      "correct": r["result"]["correct"] if r["result"] else None,
                      "metrics": {k: v["value"] for k, v in r["result"]["metrics"].items()}
                      if r["result"] else None,
                      "calib.cpu_s": r["diag"]["calib.cpu_s"] if r["diag"] else None,
                      "host.steal_frac": r["diag"]["host.steal_frac"] if r["diag"] else None,
                      "drift": r["diag"]["drift"] if r["diag"] else None,
                      "walls": r["diag"]["walls"] if r["diag"] else None}
                     for r in runs],
            "metrics": metrics,
            "mean_wall_s": statistics.mean(r["wall_s"] for r in runs),
        }
        for name, s in metrics.items():
            print(f"  {wl} {name}: median={s['median']:.4f} spread={s['spread']:.4f}", flush=True)
    if args.out:
        # every set is kept; a workload's agreement compares the last two
        # sets run with its current configuration
        old = json.loads(args.out.read_text())["workloads"] if args.out.exists() else {}
        workloads = {}
        for wl in spec.WORKLOADS:
            config = {"warmup_passes": spec.WORKLOADS[wl]["warmup"],
                      "measured_passes": spec.MEASURED_PASSES,
                      "sizes": spec.DETAILS[wl]["sizes"]}
            sets = old.get(wl, {}).get("sets", [])
            if wl in report:
                sets = sets + [{"started": started, **config, **report[wl]}]
            current = [s for s in sets if all(s[k] == v for k, v in config.items())]
            if sets:
                workloads[wl] = {"why": spec.WORKLOADS[wl]["why"], **spec.DETAILS[wl],
                                 "agreement": agreement(current[-2:]), "sets": sets}
        record = {
            "loop": spec.LOOP,
            "run_seconds": spec.RUN_SECONDS,
            "workloads": workloads,
            "layers": [{"layer": layer, "metrics": m, "moves": moves}
                       for layer, m, moves in spec.LAYERS],
        }
        args.out.write_text(json.dumps(record, indent=1) + "\n")


def agreement(sets: list[dict]) -> dict:
    """How far the second set's median of each end-to-end metric is from
    the first's, against the metric's bound."""
    if len(sets) < 2 or not all(s["metrics"] for s in sets):
        return {}
    out = {}
    for m in spec.END_TO_END:
        first, second = (s["metrics"][m["name"]]["median"] for s in sets)
        shift = second / first - 1 if first else 0.0
        worse = shift if m["better"] == "lower" else -shift
        out[m["name"]] = {"shift": shift, "bound": m["bound"], "within": worse <= m["bound"]}
    return out


if __name__ == "__main__":
    main()
