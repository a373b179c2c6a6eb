#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 e2ebench/run.py --workload gdx_io --seed 1 --seconds 20 --trace 0

Run from the repository root. One client runs one operation at a time
(a closed loop) on the engine's own ``session.get_spark`` at
``local[k]``, k = the cores this process may use. A run is: set-up, one
cold pass over the workload's operations, a fixed number of warm-up
passes, then the measured passes. Every output is checked after its
timer stops. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``). Names and units are in spec.py.

Warm time is the sum over operations of each one's median wall over the
measured passes, so a burst in one pass does not move it. The warm-up
and measured pass counts are fixed (spec.py), not "until ``--seconds``
is up", so a slow box measures longer instead of measuring a different
part of the warm-up curve; ``--seconds`` is accepted and ignored. A run
whose measured passes still trend downwards (the per-operation medians
of the first half of them exceed those of the last half by more than
warm_s's bound; with three passes, the first pass against the last)
reports a failed warm-up self-check on stderr and in its diagnostics
line; it does not mark the outputs incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

import spec

KNOB_PREFIXES = ("GDXPS_", "SPARK_GRAFT_")
ALLOWED_KNOBS = {"SPARK_GRAFT_CPUS"}
SMALL_WARMUP, SMALL_MEASURED = 1, 2


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _refuse_engine_knobs() -> None:
    set_knobs = sorted(
        k for k in os.environ
        if k.startswith(KNOB_PREFIXES) and k not in ALLOWED_KNOBS
    )
    if set_knobs:
        sys.exit(f"e2ebench: refusing to run with engine knobs set: {', '.join(set_knobs)}")


def _fresh_dirs() -> Path:
    """A per-run temp tree for TMPDIR, SPARK_LOCAL_DIRS and java.io.tmpdir,
    so no persisted index, fixture or memo survives into a cold pass."""
    run_dir = Path.cwd() / ".bench_tmp" / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "local").mkdir()
    tmp = str(run_dir / "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # for every JVM the run starts (launcher and driver); PerfDisableSharedMem
    # keeps their perf counters out of /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem")))
    tempfile.tempdir = None
    return run_dir


def _stop_spark() -> None:
    """Stop the active context and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _calib_cpu_s(spark) -> float:
    """A fixed JVM probe: median of three codegen aggregates."""
    from pyspark.sql import functions as F

    df = spark.range(500_000).groupBy((F.col("id") % 101).alias("g")).agg(
        F.sum("id"), F.avg("id"), F.count("*"))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _sum_medians(execs: list[dict], ops: list[str], passes) -> float:
    return sum(
        _median([e["wall"] for e in execs if e["op"] == op and e["pass"] in passes])
        for op in ops
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-test sizes: sf0.001 data, a small GDX model, "
                         f"{SMALL_WARMUP} warm-up and {SMALL_MEASURED} measured passes")
    ap.add_argument("--digests", type=Path, default=None,
                    help="stored digests to check against (default: e2ebench/digests.json)")
    args = ap.parse_args(argv)
    _refuse_engine_knobs()
    # a terminated run still stops its JVM and removes its temp tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = spec.WORKLOADS[args.workload]
    steal0 = _cpu_ticks()
    run_dir = _fresh_dirs()
    try:
        return _run(args, wl, run_dir, steal0)
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass


def _run(args, wl, run_dir, steal0) -> int:
    sys.path.insert(0, str(spec.ROOT))
    try:
        from gdxpy_spark import registry
        from gdxpy_spark.session import get_spark
    except ImportError as exc:
        sys.exit(f"e2ebench: the engine is not importable: {exc}")
    from pyspark.sql import functions as F

    import gdx_io
    import registered
    from spans import Tracer, harvest

    t = time.perf_counter()
    queries = registry.all_queries()
    load_s = time.perf_counter() - t
    k = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(app="e2ebench", cpus=k)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(10_000).groupBy((F.col("id") % 7).alias("g")).agg(F.sum("id")).collect()
    warmup_s = time.perf_counter() - t
    setup_s = _since_process_start()
    sc = spark.sparkContext

    tracer = Tracer()
    facts: dict = {}
    if wl["kind"] == "gdx":
        records = wl["small_records"] if args.small else wl["records"]
        ops, facts = gdx_io.build(spark, tracer, str(run_dir / "tmp"), args.seed, records)
    else:
        data = wl["small_data"] if args.small else wl["data"]
        ops = registered.build(spark, tracer, queries, wl["ops"], data,
                               args.digests or spec.DIGESTS)
    if args.small:
        warmup, measured = SMALL_WARMUP, SMALL_MEASURED
    else:
        warmup, measured = wl["warmup"], spec.MEASURED_PASSES
    phases = ["cold"] + ["warmup"] * warmup + ["measured"] * measured

    execs: list[dict] = []
    m_idx = 0
    for p, phase in enumerate(phases):
        # measured passes alternate traced and untraced, starting traced
        traced = bool(args.trace) and (
            phase == "cold" or (phase == "measured" and m_idx % 2 == 0))
        m_idx += phase == "measured"
        for op in ops:
            since = len(tracer.spans)
            group = f"{p}:{op.name}"
            if traced:
                sc.setJobGroup(group, group)
                tracer.enabled = True
            t0w, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span("op", op.name):
                    out = op.run()
                raised = False
            except Exception:
                traceback.print_exc(file=sys.stderr)
                raised = True
            wall = time.perf_counter() - t0
            t1w = time.time()
            tracer.enabled = False
            rec = {"pass": p, "phase": phase, "op": op.name, "wall": wall, "traced": traced}
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["spark"] = harvest(sc, group, t0w, t1w)
                rec["self"] = tracer.self_times(since)
            try:
                rec["ok"] = not raised and bool(op.check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec["ok"] = False
            if not rec["ok"]:
                print(f"e2ebench: {op.name} failed its check in pass {p}", file=sys.stderr)
            spark.catalog.clearCache()
            execs.append(rec)

    calib = _calib_cpu_s(spark)
    steal1 = _cpu_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    names = [op.name for op in ops]
    meas = [p for p, ph in enumerate(phases) if ph == "measured"]
    clean = [p for p in meas if not any(e["traced"] for e in execs if e["pass"] == p)]
    half = len(meas) // 2
    first = _sum_medians(execs, names, meas[:half])
    second = _sum_medians(execs, names, meas[-half:])
    drift = first / second - 1 if second else 0.0
    attempted = len(execs)
    ok = sum(e["ok"] for e in execs)
    drift_ok = drift <= spec.WARM_BOUND
    if not drift_ok:
        print(f"e2ebench: self-check failed: warm-up drift {drift:.3f} exceeds warm_s's "
              f"bound {spec.WARM_BOUND}; the measured passes still trend", file=sys.stderr)
    diag = {
        "workload": args.workload, "seed": args.seed, "k": k,
        "passes": {"warmup": warmup, "measured": measured},
        "walls": {n: [round(e["wall"], 4) for e in execs if e["op"] == n] for n in names},
        "run_s": _since_process_start(),
        "drift": drift, "drift_ok": drift_ok, "calib.cpu_s": calib, "host.steal_frac": steal_frac,
    }
    print("\ne2ebench-diag " + json.dumps(diag), file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_s": (sum(e["wall"] for e in execs if e["phase"] == "cold"), "s"),
            "warm_s": (_sum_medians(execs, names, clean), "s"),
            "ops_ok_frac": (ok / attempted, "frac"),
        }
    else:
        metrics = _per_layer(execs, names, clean, facts, {
            "registry.load_s": load_s, "session.start_s": start_s,
            "session.warmup_s": warmup_s, "calib.cpu_s": calib,
            "host.steal_frac": steal_frac,
            "mem.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            + _jvm_peak_rss_mb(),
        })
        out_dir = Path.cwd() / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(json.dumps({
            "spans": tracer.spans,
            "executions": execs,
            "spark_conf": dict(sc.getConf().getAll()),
        }, default=str))
    print(json.dumps({
        "correct": ok == attempted, "attempted": attempted, "failed": attempted - ok,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def _per_layer(execs, names, clean, facts, fixed) -> dict:
    traced_meas = [e for e in execs if e["traced"] and e["phase"] == "measured"]
    units = {n: u for n, u, _ in spec.PER_LAYER}
    vals: dict[str, float] = {n: 0.0 for n in units}
    vals.update(fixed)

    def layer_s(span: str) -> float:
        return _median([e["self"][span] for e in traced_meas if span in e["self"]])

    if facts:
        rec = facts["records"]
        for layer in ("gdx_codec.encode", "gdx_codec.decode", "gdx_gams.encode",
                      "gdx_gams.decode", "gdx_datasource.scan", "api.gload"):
            vals[f"{layer}_s"] = layer_s(layer)
        vals["gdx_codec.encode_rps"] = rec / vals["gdx_codec.encode_s"]
        vals["gdx_codec.decode_rps"] = rec / vals["gdx_codec.decode_s"]
        vals["gdx_gams.decode_rps"] = rec / vals["gdx_gams.decode_s"]
        vals["gdx_codec.bytes_per_record"] = os.path.getsize(facts["enc"]) / rec
        vals["gdx_datasource.scan_mbps"] = (
            os.path.getsize(facts["path_a"]) / 1e6 / vals["gdx_datasource.scan_s"])
        vals["gdx_datasource.tasks"] = _median(
            [e["spark"]["tasks"] for e in traced_meas if e["op"] == "gload_scan"])
    for phase, pool in (("cold", [e for e in execs if e["phase"] == "cold"]),
                        ("warm", traced_meas)):
        for mod in spec.SPARK_MODULES:
            per_pass: dict[int, dict[str, float]] = {}
            for e in pool:
                if spec.OP_MODULE.get(e["op"]) != mod:
                    continue
                acc = per_pass.setdefault(e["pass"], {})
                for key, v in e["spark"].items():
                    acc[key] = acc.get(key, 0.0) + v
                acc["build_s"] = acc.get("build_s", 0.0) + e["self"].get("build", 0.0)
                acc["exec_s"] = acc.get("exec_s", 0.0) + e["self"].get("exec", 0.0)
            for metric in spec.SPARK_METRICS:
                vals[f"{mod}.{phase}.{metric}"] = _median(
                    [acc[metric] for acc in per_pass.values()])
    for op in names:
        if op in spec.OP_MODULE:
            vals[f"op.{op}.warm_s"] = _median(
                [e["wall"] for e in execs if e["op"] == op and e["pass"] in clean])
    # over every two adjacent measured passes, one traced and one not, so
    # the traced pass comes first as often as second and a wall still
    # falling biases neither side
    traced_passes = {e["pass"] for e in traced_meas}
    meas = sorted(traced_passes | set(clean))
    pass_wall = {p: sum(e["wall"] for e in execs if e["pass"] == p) for p in meas}
    ratios = []
    for pair in zip(meas, meas[1:]):
        traced, untraced = sorted(pair, key=lambda p: p not in traced_passes)
        ratios.append(pass_wall[traced] / pass_wall[untraced] - 1)
    vals["trace.overhead_frac"] = _median(ratios)
    return {n: (vals[n], units[n]) for n in units}


if __name__ == "__main__":
    sys.exit(main())
