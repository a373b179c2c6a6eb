#!/usr/bin/env python3
"""Small-size self-test of the benchmark (sf0.001 and a small GDX model).

    python3 e2ebench/selftest.py

Run from the repository root. Checks that:
- each workload, untraced and traced, exits 0, is correct and prints
  exactly the metric names and units BENCHMARK.json lists;
- a corrupted stored digest drops ops_ok_frac below 1;
- without an importable engine, or with an engine knob set, the
  benchmark exits non-zero and prints no result.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

import spec

RUN = [sys.executable, "e2ebench/run.py", "--seed", "7", "--seconds", "1", "--small"]


def _run(args: list[str], cwd: Path = spec.ROOT, env: dict | None = None):
    proc = subprocess.run(RUN + args, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc, result


def _check(cond: bool, what: str, proc=None) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        if proc is not None:
            print(proc.stderr[-3000:], file=sys.stderr)
        sys.exit(1)


def main() -> None:
    bench = json.loads((spec.ROOT / "BENCHMARK.json").read_text())
    _check(bench == spec.benchmark_json(), "BENCHMARK.json matches spec.py")
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for wl in bench["workloads"]:
        for trace in (0, 1):
            proc, res = _run(["--workload", wl["name"], "--trace", str(trace)])
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            _check(proc.returncode == 0 and res is not None and res["correct"]
                   and res["failed"] == 0 and got == want[trace],
                   f"{wl['name']} trace={trace}: exit 0, correct, exact metric names", proc)

    scratch = spec.ROOT / ".bench_tmp" / f"selftest-{uuid.uuid4().hex[:8]}"
    scratch.mkdir(parents=True)
    try:
        digests = json.loads(spec.DIGESTS.read_text())
        wl = spec.WORKLOADS["relational"]
        digests[wl["small_data"]][wl["ops"][0]]["sha256"] = "0" * 64
        bad = scratch / "digests.json"
        bad.write_text(json.dumps(digests))
        proc, res = _run(["--workload", "relational", "--digests", str(bad)])
        _check(proc.returncode == 0 and res is not None
               and res["metrics"]["ops_ok_frac"]["value"] < 1 and not res["correct"],
               "a corrupted digest drops ops_ok_frac below 1", proc)

        bare = scratch / "bare"
        shutil.copytree(spec.HERE, bare / "e2ebench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(spec.ROOT / "BENCHMARK.json", bare)
        proc, res = _run(["--workload", "gdx_io"], cwd=bare)
        _check(proc.returncode != 0 and res is None,
               "without the engine: non-zero exit, no result", proc)

        env = dict(os.environ, GDXPS_IVF_TARGET_CELL="64")
        proc, res = _run(["--workload", "gdx_io"], env=env)
        _check(proc.returncode != 0 and res is None,
               "with an engine knob set: non-zero exit, no result", proc)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
