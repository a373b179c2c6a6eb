#!/usr/bin/env python3
"""Regenerate e2ebench/digests.json: the DuckDB digest of each
registered query's oracle SQL on the benchmark's own data, for every
(data set, query) pair a workload or its self-test size runs.

    python3 e2ebench/make_digests.py

Runs read the stored digests instead of re-running the oracles, because
some oracles take minutes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb

import spec
from digest import digest


def main() -> None:
    sys.path.insert(0, str(spec.ROOT))
    from gdxpy_spark import registry

    oracles = registry.oracles()
    wanted: dict[str, set[str]] = {}
    for wl in spec.WORKLOADS.values():
        if wl["kind"] == "registered":
            for data in (wl["data"], wl["small_data"]):
                wanted.setdefault(data, set()).update(wl["ops"])
    out: dict[str, dict] = {}
    for data, names in sorted(wanted.items()):
        con = duckdb.connect()
        for f in sorted(Path(spec.data_dir(data)).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        out[data] = {}
        for name in sorted(names):
            rel = con.execute(oracles[name])
            cols = [d[0] for d in rel.description]
            out[data][name] = digest(cols, rel.fetchall())
            print(data, name, out[data][name]["rows"], "rows", file=sys.stderr)
    spec.DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
