"""What the benchmark measures: workloads, metric names and bounds.

This module is the single source of ``BENCHMARK.json`` at the repository
root (``python3 e2ebench/spec.py`` rewrites it) and of the metric names
``run.py`` emits, so the two cannot drift apart.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DIGESTS = HERE / "digests.json"

RUN_SECONDS = 8
# Measured warm passes per run, on every workload. A fixed count, not
# "until --seconds is up", so every run measures the same stretch of the
# warm-up curve whatever the box's speed.
MEASURED_PASSES = 3

# Sizes are fixed per workload; the seed changes values only (gdx_io).
# `warmup` passes run after the cold pass and before the measured ones;
# each count is read off the per-operation walls recorded in record.json
# (README, "Pass counts").
WORKLOADS: dict[str, dict] = {
    "gdx_io": {
        "why": "GDX native and GAMS-layout encode and decode of a seeded model, "
               "then a gload scan: the pure-Python codec is about 40 % of warm_s, "
               "so a 2x codec change moves warm_s past its bound",
        "kind": "gdx",
        "records": 80_000,
        "small_records": 3_000,
        "warmup": 1,
    },
    "relational": {
        "why": "TPC-H shape q18 at sf0.01: scan, join, aggregate and shuffle "
               "work in each of its jobs, so AQE, join and shuffle changes show here",
        "kind": "registered",
        "ops": ["tpch_q18_shape"],
        "data": "sf0.01",
        "small_data": "sf0.001",
        "warmup": 9,
    },
    "iterative": {
        "why": "graph_components: an iterative driver loop of ~50 small jobs "
               "that mostly wait on the driver, so per-job overhead shows here "
               "and codec changes do not",
        "kind": "registered",
        "ops": ["graph_components"],
        "data": "sf0.001",
        "small_data": "sf0.001",
        "warmup": 7,
    },
}

@dataclass
class Op:
    """One operation of a workload."""

    name: str
    run: Callable[[], object]  # the timed region
    check: Callable[[object], bool]  # untimed: is run()'s output right?


def data_dir(name: str) -> str:
    return str(HERE / "data" / name)


# op -> engine module whose per-layer metrics it feeds
OP_MODULE = {
    "tpch_q18_shape": "tpch_shapes",
    "graph_components": "graphs",
}
SPARK_MODULES = ("tpch_shapes", "graphs")
SPARK_METRICS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "driver_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "gc_s": "s",
}

# What each workload is, beyond BENCHMARK.json's one-line why.
DETAILS = {
    "gdx_io": {
        "sizes": "p(i,j,t) dim-3 parameter of 80,000 records (0.5 % each EPS, "
                 "NA, +INF, -INF) in 4 chunks; v(i,t) dim-2 variable, 4,000 records, "
                 "all five fields; s(i) dim-1 set, 200 elements with text",
        "operations": "native encode, native decode, GAMS-layout encode, "
                      "GAMS-layout decode, GdxEngine.gload + format(\"gdx\") "
                      "scan aggregated by k1",
        "seed_changes": "values and which records hold special values",
        "checked_against": "the generator's model (bit-for-bit values, EPS flags, "
                           "set text) and its exact per-k1 sums",
    },
    "relational": {
        "sizes": "sf0.01 lineitem (60,000 rows), orders, customer",
        "operations": "tpch_q18_shape",
        "seed_changes": "nothing: fixed tables, stored oracle digests",
        "checked_against": "stored DuckDB digests of the registered oracle SQL",
    },
    "iterative": {
        "sizes": "sf0.001 lineitem (6,000 rows)",
        "operations": "graph_components",
        "seed_changes": "nothing: fixed tables, stored oracle digests",
        "checked_against": "stored DuckDB digests of the registered oracle SQL",
    },
}
LOOP = "closed loop, one client, one operation at a time, local[k] with k = usable cores"

# layer -> (its metrics, the end-to-end metric it should move, where)
LAYERS = [
    ("registry, session", "registry.load_s, session.start_s, session.warmup_s",
     "setup_s on every workload"),
    ("gdx_codec", "gdx_codec.encode_s, decode_s, encode_rps, decode_rps, bytes_per_record",
     "gdx_io warm_s and cold_s; no change on relational or iterative"),
    ("gdx_gams", "gdx_gams.encode_s, decode_s, decode_rps", "gdx_io warm_s"),
    ("gdx_datasource", "gdx_datasource.scan_s, scan_mbps, tasks", "gdx_io warm_s"),
    ("api", "api.gload_s", "gdx_io warm_s"),
    ("tpch_shapes", "tpch_shapes.<cold|warm>.<metric>",
     "warm executor_cpu_s, shuffle_mb, spill_mb: relational warm_s; "
     "no change on iterative"),
    ("graphs", "graphs.<cold|warm>.<metric>",
     "warm jobs, driver_s: iterative warm_s; cold build_s: iterative cold_s; "
     "no change on relational"),
    ("each operation", "op.<query>.warm_s", "its workload's warm_s"),
    ("run diagnostics", "mem.peak_rss_mb, calib.cpu_s, host.steal_frac, "
     "trace.overhead_frac", "none: they show memory moves and box load"),
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cold_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "warm_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "ops_ok_frac", "unit": "frac", "better": "higher", "bound": 0.01},
]
WARM_BOUND = next(m["bound"] for m in END_TO_END if m["name"] == "warm_s")


def _per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every traced metric, in output order."""
    out = [
        ("registry.load_s", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("gdx_codec.encode_s", "s", "lower"),
        ("gdx_codec.decode_s", "s", "lower"),
        ("gdx_codec.encode_rps", "1/s", "higher"),
        ("gdx_codec.decode_rps", "1/s", "higher"),
        ("gdx_codec.bytes_per_record", "B", "lower"),
        ("gdx_gams.encode_s", "s", "lower"),
        ("gdx_gams.decode_s", "s", "lower"),
        ("gdx_gams.decode_rps", "1/s", "higher"),
        ("gdx_datasource.scan_s", "s", "lower"),
        ("gdx_datasource.scan_mbps", "MB/s", "higher"),
        ("gdx_datasource.tasks", "count", "lower"),
        ("api.gload_s", "s", "lower"),
    ]
    for mod in SPARK_MODULES:
        for phase in ("cold", "warm"):
            for metric, unit in SPARK_METRICS.items():
                out.append((f"{mod}.{phase}.{metric}", unit, "lower"))
    for op in OP_MODULE:
        out.append((f"op.{op}.warm_s", "s", "lower"))
    out += [
        ("mem.peak_rss_mb", "MB", "lower"),
        ("calib.cpu_s", "s", "lower"),
        ("host.steal_frac", "frac", "lower"),
        ("trace.overhead_frac", "frac", "lower"),
    ]
    return out


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    return {
        "command": ["python3", "e2ebench/run.py"],
        "paths": ["e2ebench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": END_TO_END,
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }


if __name__ == "__main__":
    (ROOT / "BENCHMARK.json").write_text(json.dumps(benchmark_json(), indent=2) + "\n")
