"""The relational and iterative workloads: registered engine queries run
on the benchmark's own copy of the test tables, each output compared
with the stored DuckDB digest of the query's registered oracle SQL."""

from __future__ import annotations

import json

from digest import digest
from spec import Op, data_dir


def build(spark, tracer, queries, names: list[str], data: str,
          digests_path) -> list[Op]:
    stored = json.loads(digests_path.read_text())[data]
    sf_dir = data_dir(data)

    def make(name: str) -> Op:
        fn = queries[name].fn

        def run():
            with tracer.span("build", name):
                df = fn(spark, sf_dir)
            with tracer.span("exec", name):
                return df.columns, df.collect()

        return Op(name, run, lambda out: digest(*out) == stored[name])

    return [make(n) for n in names]
