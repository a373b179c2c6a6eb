"""The gdx_io workload: a seeded GDX model and the operations a modeller
runs on it (native and GAMS-layout encode and decode, and a wildcard
load through ``GdxEngine.gload`` aggregated by a ``format("gdx")``
scan), each checked against what the generator expects.

The seed changes values and which records hold special values; it never
changes sizes or the set of operations.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from array import array

from pyspark.sql import functions as F

from gdxpy_spark.api import GdxEngine
from gdxpy_spark.sources.gdx_codec import (
    DT_PAR,
    DT_SET,
    DT_VAR,
    GdxFile,
    GdxWriter,
    SymbolData,
    SymbolMeta,
)
from gdxpy_spark.sources.gdx_gams import GamsGdxFile, GamsGdxWriter
from spec import Op

N_J, N_T = 20, 20  # dim-3 parameter p(i, j, t) has n_i * N_J * N_T records
CHUNKS = 4  # chunks the parameter spans: the scan runs one task per chunk
SPECIAL_EACH = 0.005  # share of p's records holding each of EPS, NA, +INF, -INF


def _value_bytes(data: SymbolData) -> bytes:
    # bytes, not floats, so NaN compares equal to NaN
    return array("d", (x for vs in data.values for x in vs)).tobytes()


class Model:
    """A dim-3 parameter p with EPS, NA and ±INF records, a dim-2
    variable v with all five value fields, and a dim-1 set s with
    element text."""

    def __init__(self, seed: int, records: int):
        rng = random.Random(seed)
        n_i = max(2, records // (N_J * N_T))
        i_labels = [f"i{n:05d}" for n in range(n_i)]
        keys = [(i, f"j{j:02d}", f"t{t:02d}")
                for i in i_labels for j in range(N_J) for t in range(N_T)]
        n = len(keys)
        # multiples of 1/64 below 2**14: every sum the scan takes is exact
        vals = [rng.randrange(-(2**20), 2**20) / 64 for _ in range(n)]
        eps = [0] * n
        per_kind = max(1, int(n * SPECIAL_EACH))
        for k, idx in enumerate(rng.sample(range(n), 4 * per_kind)):
            kind = k // per_kind
            if kind == 0:
                vals[idx], eps[idx] = 0.0, 1  # EPS reads as 0.0 plus its flag
            else:
                vals[idx] = (math.nan, math.inf, -math.inf)[kind - 1]
        self.p = SymbolData(SymbolMeta("p", 3, DT_PAR, expl_text="flows"),
                            keys=keys, values=[(v,) for v in vals], eps_mask=eps)

        v_keys = [(i, f"t{t:02d}") for i in i_labels for t in range(N_T)]
        v_vals, v_eps = [], []
        for _ in v_keys:
            lvl = rng.randrange(0, 2**16) / 64
            mask = 2 if rng.random() < 0.01 else 0  # an EPS marginal
            v_vals.append((lvl, 0.0 if mask else rng.randrange(-4096, 4096) / 64,
                           0.0 if rng.random() < 0.5 else -math.inf,
                           math.inf if rng.random() < 0.5 else lvl + 1.0, 1.0))
            v_eps.append(mask)
        self.v = SymbolData(SymbolMeta("v", 2, DT_VAR, subtype=1, expl_text="levels"),
                            keys=v_keys, values=v_vals, eps_mask=v_eps)
        self.s = SymbolData(SymbolMeta("s", 1, DT_SET, expl_text="regions"),
                            keys=[(i,) for i in i_labels],
                            values=[(0.0,)] * n_i, eps_mask=[0] * n_i,
                            text=[f"region {i[1:]}" for i in i_labels])
        self.symbols = (self.p, self.v, self.s)
        self.records = sum(len(s.keys) for s in self.symbols)
        self._value_bytes = [_value_bytes(s) for s in self.symbols]
        sums: dict[str, list] = {}
        for k, (x,) in zip(keys, self.p.values):
            acc = sums.setdefault(k[0], [0, 0.0])
            acc[0] += 1
            if math.isfinite(x):
                acc[1] += x
        self.scan_expect = {k: (c, s) for k, (c, s) in sums.items()}

    def write(self, path: str, chunk_records: int) -> None:
        w = GdxWriter(path, producer="e2ebench", chunk_records=chunk_records)
        for sym in self.symbols:
            w.add_symbol(sym)
        w.close()

    def matches(self, decoded: list[SymbolData]) -> bool:
        """Decoded symbols equal the model: keys in file (mapped) order,
        values bit for bit, EPS flags and set text. Labels were first
        seen in sorted order, so mapped order is the model's order."""
        return len(decoded) == len(self.symbols) and all(
            d.keys == s.keys and d.eps_mask == s.eps_mask
            and _value_bytes(d) == vb and (s.meta.type != DT_SET or d.text == s.text)
            for d, s, vb in zip(decoded, self.symbols, self._value_bytes)
        )


def _decode_all(f, model: Model) -> list[SymbolData]:
    return [f.read_records(f.find(s.meta.name)) for s in model.symbols]


def build(spark, tracer, tmp: str, seed: int, records: int) -> tuple[list[Op], dict]:
    """Generate inputs under `tmp` and return the workload's operations
    plus facts the per-layer metrics need (record count, file paths)."""
    model = Model(seed, records)
    chunk = max(1, len(model.p.keys) // CHUNKS)
    path_a = os.path.join(tmp, "a.gdx")
    model.write(path_a, chunk)
    enc, gams = os.path.join(tmp, "enc.gdx"), os.path.join(tmp, "gams.gdx")
    eng = GdxEngine(spark)
    verified: dict[str, str] = {}

    def encoded_ok(path: str, reader) -> bool:
        """An encoder's file is right if it decodes to the model; the
        encoders are deterministic, so a file byte-identical to one
        already verified is right too."""
        with open(path, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        if verified.get(path) == digest:
            return True
        ok = model.matches(_decode_all(reader(path), model))
        if ok:
            verified[path] = digest
        return ok

    def codec_encode():
        with tracer.span("gdx_codec.encode", "codec_encode"):
            model.write(enc, chunk)

    def codec_decode():
        with tracer.span("gdx_codec.decode", "codec_decode"):
            return _decode_all(GdxFile(enc), model)

    def gams_encode():
        with tracer.span("gdx_gams.encode", "gams_encode"):
            w = GamsGdxWriter(gams)
            for s in model.symbols:
                w.add_symbol(s)
            w.close()

    def gams_decode():
        with tracer.span("gdx_gams.decode", "gams_decode"):
            return _decode_all(GamsGdxFile(gams), model)

    finite = ~F.isnan("value") & (F.abs("value") != math.inf)

    def gload_scan():
        with tracer.span("api.gload", "gload_scan"):
            p = eng.gload("p", path=path_a)["p"]
        with tracer.span("gdx_datasource.scan", "gload_scan"):
            return p.groupBy("k1").agg(
                F.count("*").alias("n"),
                F.sum(F.when(finite, F.col("value")).otherwise(0.0)).alias("s"),
            ).collect()

    ops = [
        Op("codec_encode", codec_encode, lambda _: encoded_ok(enc, GdxFile)),
        Op("codec_decode", codec_decode, model.matches),
        Op("gams_encode", gams_encode, lambda _: encoded_ok(gams, GamsGdxFile)),
        Op("gams_decode", gams_decode, model.matches),
        Op("gload_scan", gload_scan,
           lambda rows: {r["k1"]: (r["n"], r["s"]) for r in rows} == model.scan_expect),
    ]
    facts = {"records": model.records, "path_a": path_a, "enc": enc}
    return ops, facts
