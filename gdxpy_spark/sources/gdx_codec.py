"""Pure-Python GDX codec (SURVEY §7 M2, Appendix B): a clean-room
container (magic ``GDXPY7``) for the GAMS GDX *data model* as publicly
documented (the open-sourced GAMS-dev/gdx implementation, gclgms.h):

- a global UEL table (file-wide ordered label dictionary, 1-based codes),
- a symbol catalog (name ≤63 chars, dim 0..20, type set/parameter/
  variable/equation/alias, subtype, explanatory text ≤255, per-dimension
  domain names, record count),
- per-symbol record blocks. add_symbol sorts records by UEL-code tuple
  (GDX mapped order); add_symbol_streaming keeps CALLER order (the
  DataSource commit streams label-sorted runs), so readers must not
  assume mapped order across chunks,
- a set-text table and an acronym table,
- a trailer with section offsets plus intra-symbol chunk offsets every
  ``chunk_records`` records (stored in the header), so one large symbol
  splits across scan tasks, and per-chunk per-dimension min/max key
  labels (parquet row-group statistics) that gdx_datasource's
  pushFilters prunes chunks against,
- optional zlib compression per data block.

VERSION 3 stores each chunk COLUMNAR, so a whole chunk encodes and
decodes with numpy (``np.frombuffer`` straight off the mapped file)
instead of a Python loop per record. A chunk of n records is:

    per key dimension:  u8 width w (1|2|4), n w-byte little-endian UEL codes
    sets:               u8 width w, n w-byte set-text indices (0 = no text)
    other types:        n*n_values u8 value markers (VT_*, record-major),
                        then dense payloads in marker order: one int8 per
                        VT_INT8, <i4 per VT_INT32, <f8 per VT_DOUBLE and
                        one u8 SV_* id per VT_SPECIAL

Versions 1 and 2 (delta-encoded keys, then a marker and payload per
value, record after record) are READ-ONLY: the reader dispatches on the
header version; the writer always writes version 3.

No byte compatibility with GAMS-written files is claimed (the GAMS V7
layout is gdx_gams.py); round-trip property tests validate this one.
Both implement what a reader of jackjackk/gdxpy observes.

Special values (SURVEY §1.1): gdxpy maps +INF→inf, -INF→-inf,
NA/UNDEF→NaN, EPS→0.0 on read. EPS→0.0 is lossy; this codec keeps a
per-value EPS bitmask so write-back round-trips losslessly (SURVEY §1.2).
"""

from __future__ import annotations

import contextlib
import io
import math
import mmap
import os
import struct
import zlib
from dataclasses import dataclass, field
from itertools import chain, islice

import numpy as np

MAGIC = b"GDXPY7\x00"
# VERSION history: 1 = initial container; 2 = the chunk record stride is
# stored in the header (files are self-describing) and per-chunk
# per-dimension min/max key-label statistics follow each catalog entry;
# 3 = columnar chunks (module docstring). The catalog is the same in
# every version; only the record-block encoding differs.
VERSION = 3

# symbol types (codes follow the public GMS_DT_* numbering)
DT_SET, DT_PAR, DT_VAR, DT_EQU, DT_ALIAS = 0, 1, 2, 3, 4
TYPE_NAMES = {DT_SET: "set", DT_PAR: "parameter", DT_VAR: "variable",
              DT_EQU: "equation", DT_ALIAS: "alias"}
VALUE_FIELDS = ("level", "marginal", "lower", "upper", "scale")

# value-type markers (per-value compression of common cases)
VT_ZERO, VT_ONE, VT_INT8, VT_INT32, VT_DOUBLE, VT_SPECIAL = range(6)
# special sentinel ids (order mirrors GMS_SV_*: UNDEF NA PINF MINF EPS ACR)
SV_UNDEF, SV_NA, SV_PINF, SV_MINF, SV_EPS, SV_ACR = range(6)
# what each SV_* id reads as (gdxpy: NA/UNDEF/acronyms → NaN, EPS → 0.0)
_SV_VALUE = np.array([math.nan, math.nan, math.inf, -math.inf, 0.0, math.nan])

MAX_DIM = 20
CHUNK = 65536  # records per splittable chunk within a symbol data block


@dataclass
class SymbolMeta:
    name: str
    dim: int
    type: int  # DT_*
    subtype: int = 0
    expl_text: str = ""
    domains: tuple[str, ...] = ()
    nrecs: int = 0
    alias_of: str = ""  # for DT_ALIAS

    def __post_init__(self):
        if not (0 <= self.dim <= MAX_DIM):
            raise ValueError(f"dim {self.dim} outside [0, {MAX_DIM}]")
        if len(self.name) > 63:
            raise ValueError("symbol name > 63 chars")
        if len(self.expl_text) > 255:
            raise ValueError("explanatory text > 255 chars")
        if not self.domains:
            self.domains = ("*",) * self.dim
        elif len(self.domains) != self.dim:
            # both containers write exactly one domain string per dim and
            # read exactly dim back — a wrong arity would silently corrupt
            # the domain section, so reject it at construction
            raise ValueError(
                f"{self.name}: {len(self.domains)} domain names for dim {self.dim}"
            )

    @property
    def n_values(self) -> int:
        return 5 if self.type in (DT_VAR, DT_EQU) else 1

    @property
    def type_name(self) -> str:
        return TYPE_NAMES[self.type]


@dataclass
class SymbolData:
    """In-memory symbol: keys are label tuples; values are per-record
    float lists (len n_values); eps_mask marks which fields were EPS;
    text holds set-element text (sets only, '' if none)."""

    meta: SymbolMeta
    keys: list[tuple[str, ...]] = field(default_factory=list)
    values: list[tuple[float, ...]] = field(default_factory=list)
    eps_mask: list[int] = field(default_factory=list)
    text: list[str] = field(default_factory=list)


@dataclass
class Columns:
    """Records of one symbol (or one chunk) as numpy columns — what both
    container readers decode to. ``codes[d]`` holds dimension d's 1-based
    UEL codes, ``values`` is float64 after gdxpy's special-value mapping,
    ``eps`` the per-record EPS bitmask and, for sets, ``text`` indexes the
    reader's ``text_table`` (entry 0 is '')."""

    codes: np.ndarray  # (dim, n) int64
    values: np.ndarray  # (n, n_values) float64
    eps: np.ndarray  # (n,) int64
    text: np.ndarray | None = None  # (n,) int64, sets only

    def __len__(self) -> int:
        return len(self.eps)

    def rows(self, lo: int, hi: int) -> "Columns":
        return Columns(self.codes[:, lo:hi], self.values[lo:hi], self.eps[lo:hi],
                       None if self.text is None else self.text[lo:hi])

    @staticmethod
    def concat(parts: list["Columns"]) -> "Columns":
        text = None if parts[0].text is None else np.concatenate([p.text for p in parts])
        return Columns(np.concatenate([p.codes for p in parts], axis=1),
                       np.concatenate([p.values for p in parts]),
                       np.concatenate([p.eps for p in parts]), text)

    def check(self, n_uels: int, n_texts: int, err=ValueError) -> "Columns":
        """Reject codes outside the UEL table and text indices outside
        the text table: a corrupt index must fail, never wrap or clamp."""
        if self.codes.size and (self.codes.min() < 1 or self.codes.max() > n_uels):
            raise err(f"UEL code outside [1, {n_uels}]")
        if self.text is not None and len(self.text) and (
                self.text.min() < 0 or self.text.max() >= n_texts):
            raise err(f"set-text index outside [0, {n_texts})")
        return self


def symbol_data(meta: SymbolMeta, cols: Columns, uels: list[str],
                text_table: list[str]) -> SymbolData:
    """Build the per-record SymbolData lists from checked columns."""
    n = len(cols)
    labels = np.array(uels, dtype=object)
    keys = (list(zip(*(labels[c - 1].tolist() for c in cols.codes)))
            if meta.dim else [()] * n)
    if meta.type == DT_SET:
        text = np.array(text_table, dtype=object)[cols.text].tolist()
        return SymbolData(meta, keys, [(0.0,)] * n, [0] * n, text)
    return SymbolData(meta, keys, list(zip(*cols.values.T.tolist())),
                      cols.eps.tolist())


# --- primitive encoders -----------------------------------------------------

def _wv(b: io.BytesIO, n: int) -> None:  # unsigned varint
    while True:
        x = n & 0x7F
        n >>= 7
        b.write(bytes([x | (0x80 if n else 0)]))
        if not n:
            return


def _rv(b) -> int:
    shift = out = 0
    while True:
        x = b.read(1)[0]
        out |= (x & 0x7F) << shift
        if not (x & 0x80):
            return out
        shift += 7


def _ws(b: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    _wv(b, len(raw))
    b.write(raw)


def _rs(b) -> str:
    n = _rv(b)
    return b.read(n).decode("utf-8")


_VT_PAYLOAD = {VT_INT8: ("<b", 1), VT_INT32: ("<i", 4), VT_DOUBLE: ("<d", 8)}


def _read_value(b) -> tuple[float, bool]:
    """v1/v2 value → (value, is_eps); specials map per gdxpy: NA/UNDEF→NaN,
    ±INF→±inf, EPS→0.0 (+flag), acronyms→NaN."""
    vt = b.read(1)[0]
    if vt in (VT_ZERO, VT_ONE):
        return float(vt), False
    if vt in _VT_PAYLOAD:
        fmt, size = _VT_PAYLOAD[vt]
        return float(struct.unpack(fmt, b.read(size))[0]), False
    sv = b.read(1)[0]
    if sv == SV_ACR:
        _rv(b)  # acronym index — reads as NaN like gdxpy
    return (float(_SV_VALUE[sv]) if sv <= SV_ACR else math.nan), sv == SV_EPS


# --- columnar helpers shared with gdx_gams ----------------------------------

def intern_keys(keys, dim: int, codes: dict[str, int], labels: list[str],
                name: str, err=ValueError) -> np.ndarray:
    """(dim, n) int64 UEL codes of ``keys``. Labels not yet in ``codes``
    join it (and ``labels``) in first-appearance order, record by record
    and dimension by dimension — the GDX insertion order."""
    bad = set(map(len, keys)) - {dim}
    if bad:
        raise err(f"{name}: key arity {min(bad)} != dim {dim}")
    flat = list(chain.from_iterable(keys))
    for label in dict.fromkeys(flat):
        if label not in codes:
            if len(label) > 63:
                raise err(f"UEL label > 63 chars: {label!r}")
            labels.append(label)
            codes[label] = len(labels)
    out = np.fromiter(map(codes.__getitem__, flat), np.int64, len(flat))
    return out.reshape(len(keys), dim).T


def value_columns(values, eps_mask, n: int, nv: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, nv) float64 values and the (n,) EPS bitmask of a record list.
    Short rows pad with 0.0, extra fields are ignored, and an absent
    list reads as all zeros."""
    eps = np.array(eps_mask, np.int64) if eps_mask else np.zeros(n, np.int64)
    if not values or not n:
        return np.zeros((n, nv)), eps
    try:
        v = np.array(values, np.float64).reshape(n, -1)
    except ValueError:  # ragged rows
        v = np.array([tuple(r[:nv]) + (0.0,) * (nv - len(r[:nv])) for r in values])
    if v.shape[1] < nv:
        v = np.hstack([v, np.zeros((n, nv - v.shape[1]))])
    return v[:, :nv], eps


def eps_bits(eps: np.ndarray, nv: int) -> np.ndarray:
    """(n, nv) bool: field j of record i was EPS."""
    return (eps[:, None] >> np.arange(nv) & 1).astype(bool)


def uint_width(top: int) -> int:
    """Bytes (1, 2 or 4) of an unsigned column whose largest value is top."""
    return 1 if top < 1 << 8 else 2 if top < 1 << 16 else 4


def _uint_column(a: np.ndarray) -> bytes:
    w = uint_width(int(a.max()) if a.size else 0)
    return bytes([w]) + a.astype(f"<u{w}").tobytes()


def _encode_values(v: np.ndarray, eps: np.ndarray) -> bytes:
    flat = v.ravel()
    sv = np.select([eps_bits(eps, v.shape[1]).ravel(), np.isnan(flat),
                    flat == math.inf, flat == -math.inf],
                   [SV_EPS, SV_NA, SV_PINF, SV_MINF], -1)
    fin = sv < 0
    whole = fin & (flat == np.trunc(flat))
    mk = np.full(flat.shape, VT_DOUBLE, np.uint8)
    mk[whole & (flat >= -(2**31)) & (flat < 2**31)] = VT_INT32
    mk[whole & (flat >= -128) & (flat < 128)] = VT_INT8
    mk[fin & (flat == 1.0)] = VT_ONE
    mk[fin & (flat == 0.0)] = VT_ZERO
    mk[~fin] = VT_SPECIAL
    return b"".join([mk.tobytes(), flat[mk == VT_INT8].astype("<i1").tobytes(),
                     flat[mk == VT_INT32].astype("<i4").tobytes(),
                     flat[mk == VT_DOUBLE].astype("<f8").tobytes(),
                     sv[mk == VT_SPECIAL].astype(np.uint8).tobytes()])


def _chunk_stats(codes: np.ndarray, labels: list[str]) -> list[tuple[str, str]]:
    """Per-dimension (min, max) key LABEL of one chunk. Labels, not codes,
    are what predicates compare against on read, and the bounds hold
    whatever order the records are in — the pruning contract is "chunk
    MAY contain a matching key", parquet's row-group statistics."""
    if not codes.shape[0]:
        return []
    distinct, inv = np.unique(codes, return_inverse=True)
    labs = np.array([labels[c - 1] for c in distinct.tolist()], dtype=object)
    by_label = np.argsort(labs)
    rank = np.argsort(by_label)[inv].reshape(codes.shape)  # label rank per key field
    return [(labs[by_label[lo]], labs[by_label[hi]])
            for lo, hi in zip(rank.min(axis=1), rank.max(axis=1))]


# --- writer -----------------------------------------------------------------

class GdxWriter:
    """Usage: ``w = GdxWriter(path, compress=True); w.add_symbol(
    SymbolData(meta, keys, values, eps_mask, text)); w.close()``.
    add_symbol sorts records into mapped order here (callers may pass
    them unsorted); add_symbol_streaming takes them in file order."""

    def __init__(self, path: str, producer: str = "gdxpy_spark",
                 compress: bool = False, chunk_records: int = CHUNK):
        self.path = path
        self.producer = producer
        self.compress = compress
        if chunk_records < 1:
            raise ValueError("chunk_records must be >= 1")
        self.chunk_records = chunk_records  # records per splittable chunk
        self.uel: dict[str, int] = {}  # label → 1-based code
        self.uels: list[str] = []  # code i+1 → label
        self.set_text: dict[str, int] = {}  # text → index (0 = none)
        self.acronyms: list[str] = []
        self.symbols: list[SymbolData] = []  # in-memory symbols (add_symbol)
        # streamed symbols: (meta, spill_path, encoded_len, chunk_offsets,
        # chunk_stats); their record blocks live on disk, never in driver
        # memory
        self._streamed: list[tuple[SymbolMeta, str, int, list[int], list]] = []
        # file order of symbols across both add paths: ("mem"|"stream", idx)
        self._order: list[tuple[str, int]] = []

    def _text_idx(self, t: str) -> int:
        if t and t not in self.set_text:
            self.set_text[t] = len(self.set_text) + 1
        return self.set_text[t] if t else 0

    def _check_dup(self, name: str) -> None:
        existing = [s.meta.name for s in self.symbols] + [e[0].name for e in self._streamed]
        if any(n.lower() == name.lower() for n in existing):
            raise ValueError(f"duplicate symbol {name}")

    def add_symbol(self, data: SymbolData) -> None:
        self._check_dup(data.meta.name)
        data.meta.nrecs = len(data.keys)
        self._order.append(("mem", len(self.symbols)))
        self.symbols.append(data)

    def add_symbol_streaming(self, meta: SymbolMeta, records) -> SymbolMeta:
        """Encode a symbol incrementally from an iterator of
        ``(key_tuple, values_tuple, eps_mask, text)``, holding at most
        ``chunk_records`` records: each chunk is encoded (and interned)
        as it fills and written to a spill file (zlib-streamed when
        compress=True), which close() splices into the output
        byte-for-byte. Records land in the order they arrive — sorted
        input is what the DataSource commit's k-way run merge provides.
        This is the cluster-scale write path: a symbol bigger than driver
        memory costs the driver one chunk at a time."""
        import tempfile

        self._check_dup(meta.name)
        it = iter(records)
        batches = iter(lambda: list(islice(it, self.chunk_records)), [])
        with tempfile.NamedTemporaryFile(
            prefix="gdxpy_spark_block_", suffix=".spill", delete=False
        ) as tmp:
            enc_len, chunks, stats, n = self._write_block(
                meta, (self._columns(meta, *zip(*b), sort=False) for b in batches), tmp)
        meta.nrecs = n
        self._order.append(("stream", len(self._streamed)))
        self._streamed.append((meta, tmp.name, enc_len, chunks, stats))
        return meta

    def close(self) -> None:
        import shutil

        # in-memory blocks encode (and intern UELs/set text) here; streamed
        # blocks were encoded at add time. Entries: (meta, block_len,
        # chunk offsets, chunk stats, block bytes | spill path)
        entries: list[tuple[SymbolMeta, int, list[int], list, bytes | str]] = []
        for kind, idx in self._order:
            if kind == "mem":
                block, chunks, stats = self._encode_block(self.symbols[idx])
                entries.append((self.symbols[idx].meta, len(block), chunks, stats, block))
            else:
                meta, spill, enc_len, chunks, stats = self._streamed[idx]
                entries.append((meta, enc_len, chunks, stats, spill))

        with open(self.path, "wb") as out:
            out.write(MAGIC)
            out.write(struct.pack("<HB", VERSION, 1 if self.compress else 0))
            _ws(out, self.producer)
            _wv(out, self.chunk_records)  # self-describing chunk stride

            # sections: UEL table, set-text table, acronyms
            section_offs = []
            for table in (self.uels, self.set_text, self.acronyms):
                section_offs.append(out.tell())
                _wv(out, len(table))
                for s in table:
                    _ws(out, s)

            # section: symbol catalog — per-symbol metadata + block/chunk
            # lengths; absolute data-block offsets live in the trailer
            section_offs.append(out.tell())
            _wv(out, len(entries))
            for m, block_len, chunks, stats, _src in entries:
                _ws(out, m.name)
                out.write(bytes([m.dim, m.type]))
                _wv(out, m.subtype)
                _ws(out, m.expl_text)
                _ws(out, m.alias_of)
                for d in m.domains:
                    _ws(out, d)
                _wv(out, m.nrecs)
                _wv(out, block_len)
                _wv(out, len(chunks))
                for c in chunks:
                    _wv(out, c)
                # per-chunk per-dimension (min,max) key labels — one stats
                # entry per populated chunk (0 for empty symbols)
                _wv(out, len(stats))
                for chunk_stat in stats:
                    for lo, hi in chunk_stat:
                        _ws(out, lo)
                        _ws(out, hi)

            # section: data blocks (in-memory ones written, streamed ones
            # spliced from their spill files — constant driver memory)
            block_offs = []
            for *_, src in entries:
                block_offs.append(out.tell())
                if isinstance(src, bytes):
                    out.write(src)
                else:
                    with open(src, "rb") as spill:
                        shutil.copyfileobj(spill, out, 1 << 20)
                    os.unlink(src)

            # trailer: section offsets + per-symbol block offsets
            trailer_off = out.tell()
            out.write(struct.pack("<4Q", *section_offs))
            _wv(out, len(block_offs))
            out.write(struct.pack(f"<{len(block_offs)}Q", *block_offs))
            out.write(struct.pack("<Q", trailer_off))

    def _columns(self, meta: SymbolMeta, keys, values, eps_mask, text,
                 sort: bool) -> Columns:
        """Intern one record batch; with ``sort``, into mapped order.
        Set text interns in the order the records land in the file."""
        n, nv = len(keys), meta.n_values
        codes = intern_keys(keys, meta.dim, self.uel, self.uels, meta.name)
        order = np.lexsort(codes[::-1]) if sort and meta.dim else None
        if order is not None:
            codes = codes[:, order]
        if meta.type == DT_SET:
            texts = list(text) if text else [""] * n
            if order is not None:
                texts = [texts[i] for i in order]
            ti = np.array([self._text_idx(t) for t in texts], np.int64)
            return Columns(codes, np.zeros((n, 1)), np.zeros(n, np.int64), ti)
        vals, eps = value_columns(values, eps_mask, n, nv)
        if order is not None:
            vals, eps = vals[order], eps[order]
        return Columns(codes, vals, eps)

    def _encode_chunk(self, meta: SymbolMeta, cols: Columns) -> tuple[bytes, list]:
        parts = [_uint_column(c) for c in cols.codes]
        if meta.type == DT_SET:
            parts.append(_uint_column(cols.text))
        else:
            parts.append(_encode_values(cols.values, cols.eps))
        return b"".join(parts), _chunk_stats(cols.codes, self.uels)

    def _encode_block(self, sym: SymbolData) -> tuple[bytes, list[int], list]:
        cols = self._columns(sym.meta, sym.keys, sym.values, sym.eps_mask,
                             sym.text, sort=True)
        cr, sink = self.chunk_records, io.BytesIO()
        _, chunks, stats, _ = self._write_block(
            sym.meta, (cols.rows(lo, lo + cr) for lo in range(0, len(cols), cr)), sink)
        return sink.getvalue(), chunks, stats

    def _write_block(self, meta: SymbolMeta, parts, sink) -> tuple[int, list[int], list, int]:
        """Encode each chunk's columns into the empty ``sink`` (one zlib
        stream per block when compress=True). → (bytes written, raw chunk
        offsets, per-chunk stats, records)."""
        comp = zlib.compressobj(6) if self.compress else None
        raw_pos = n = 0  # raw_pos: offset in the raw (pre-compression) block
        chunks, stats = [0], []
        for cols in parts:
            raw, st = self._encode_chunk(meta, cols)
            if n:
                chunks.append(raw_pos)
            stats.append(st)
            raw_pos += len(raw)
            n += len(cols)
            sink.write(comp.compress(raw) if comp else raw)
        if comp:
            sink.write(comp.flush())
        return sink.tell(), chunks, stats, n


# --- reader -----------------------------------------------------------------

@contextlib.contextmanager
def corrupt_guard(path: str, where: str, err=ValueError, container: str = "GDXPY7"):
    """Re-raise low-level decode failures (index/struct/overflow/unicode/
    zlib) as ``err`` naming the file and section — corrupt bytes must
    fail loudly and typed, never leak a raw IndexError to the caller
    (found by the r6 byte-fuzz sweep in tests/test_gdx_codec.py)."""
    try:
        yield
    except (IndexError, struct.error, OverflowError, UnicodeDecodeError,
            zlib.error, MemoryError) as exc:
        raise err(f"{path}: corrupt {container} container ({where}): "
                  f"{type(exc).__name__}: {exc}") from exc


def map_file(path: str):
    """The file's bytes mapped read-only: pages load on demand, so reading
    a catalog or one chunk does not read the whole file. The file must not
    be truncated while the map is alive. An empty file (which mmap
    refuses) maps to b""."""
    with open(path, "rb") as f:
        if os.fstat(f.fileno()).st_size == 0:
            return b""
        return mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)


class _Cursor:
    """File-like reads over a buffer without copying it whole (io.BytesIO
    would copy the mapped file)."""

    def __init__(self, buf, pos: int = 0):
        self.buf, self.pos = buf, pos

    def read(self, n: int) -> bytes:
        self.pos += n
        return self.buf[self.pos - n : self.pos]

    def seek(self, pos: int) -> None:
        self.pos = pos


class GdxFile:
    """Random-access reader: catalog + UELs parsed eagerly (small), record
    blocks decoded on demand per symbol (and per chunk range — the unit a
    distributed scan parallelizes over)."""

    def __init__(self, path: str):
        self.path = path
        self._buf = buf = map_file(path)
        if buf[: len(MAGIC)] != MAGIC:
            # b"{" = byte 123, gdx_gams.GDX_HEADER_NR (importing gdx_gams
            # would be circular)
            hint = (" (this looks like a native GAMS-produced .gdx: use "
                    "gdxpy_spark.sources.gdx_gams.GamsGdxFile, which reads "
                    "the published GAMS byte layout)"
                    if buf[:1] == b"{" or b"GAMSGDX" in buf[:64] else "")
            raise ValueError(
                f"{path}: not a gdxpy_spark GDX container — expected magic "
                f"{MAGIC!r}, got {buf[:len(MAGIC)]!r}{hint}"
            )
        with corrupt_guard(path, "catalog"):
            self._parse_catalog(buf)

    def _parse_catalog(self, buf) -> None:
        off = len(MAGIC)
        self.version, flags = struct.unpack_from("<HB", buf, off)
        if self.version > VERSION:
            raise ValueError(f"{self.path}: unsupported container version {self.version}")
        self.compressed = bool(flags & 1)
        b = _Cursor(buf, off + 3)
        self.producer = _rs(b)
        # v2+ stores the chunk record stride; v1 files used the then-
        # compile-time CHUNK constant
        self.chunk_records = _rv(b) if self.version >= 2 else CHUNK
        if self.chunk_records < 1:
            raise ValueError(f"{self.path}: chunk stride {self.chunk_records}")

        # trailer
        t_off = struct.unpack_from("<Q", buf, len(buf) - 8)[0]
        b.seek(t_off)
        uel_off, text_off, acr_off, cat_off = struct.unpack("<4Q", b.read(32))
        n_blocks = _rv(b)
        self.block_offsets = list(struct.unpack(f"<{n_blocks}Q", b.read(8 * n_blocks)))

        b.seek(uel_off)
        self.uels = [_rs(b) for _ in range(_rv(b))]  # code i+1 → label
        b.seek(text_off)
        self.set_texts = [_rs(b) for _ in range(_rv(b))]
        self.text_table = [""] + self.set_texts  # Columns.text indexes this
        b.seek(acr_off)
        self.acronyms = [_rs(b) for _ in range(_rv(b))]

        b.seek(cat_off)
        n_sym = _rv(b)
        self.symbols: list[SymbolMeta] = []
        self._block_len: list[int] = []
        self._chunks: list[list[int]] = []
        self._chunk_stats: list[list[list[tuple[str, str]]] | None] = []
        for _ in range(n_sym):
            name = _rs(b)
            dim, typ = b.read(2)
            # entry: subtype, explanatory text, alias target, domains,
            # records, block length, chunk offsets, v2+ chunk stats
            subtype, expl, alias_of = _rv(b), _rs(b), _rs(b)
            domains = tuple(_rs(b) for _ in range(dim))
            nrecs, blen = _rv(b), _rv(b)
            self._chunks.append([_rv(b) for _ in range(_rv(b))])
            self._chunk_stats.append(
                [[(_rs(b), _rs(b)) for _ in range(dim)] for _ in range(_rv(b))]
                if self.version >= 2 else None)
            self.symbols.append(
                SymbolMeta(name=name, dim=dim, type=typ, subtype=subtype,
                           expl_text=expl, domains=domains, nrecs=nrecs,
                           alias_of=alias_of)
            )
            self._block_len.append(blen)

    def find(self, name: str) -> int:
        """Case-insensitive symbol lookup (gdxFindSymbol semantics);
        aliases resolve to their target."""
        for i, s in enumerate(self.symbols):
            if s.name.lower() == name.lower():
                if s.type == DT_ALIAS:
                    return self.find(s.alias_of)
                return i
        raise KeyError(f"symbol {name!r} not in {self.path}")

    def _block(self, idx: int):
        """(buffer, offset, length) of one data block: the mapped file
        itself when uncompressed (no copy), else the inflated bytes."""
        off, blen = self.block_offsets[idx], self._block_len[idx]
        if self.compressed:
            raw = zlib.decompress(self._buf[off : off + blen])
            return raw, 0, len(raw)
        if off + blen > len(self._buf):
            raise ValueError(f"{self.path}: data block {idx} past end of file")
        return self._buf, off, blen

    def n_chunks(self, idx: int) -> int:
        return len(self._chunks[idx])

    def chunk_stats(self, idx: int) -> list[list[tuple[str, str]]] | None:
        """Per-chunk per-dimension (min_label, max_label) key statistics,
        or None when the file predates VERSION 2 (or the symbol is empty).
        ``chunk_stats(idx)[c][d]`` bounds every k{d+1} label in chunk c —
        the contract a distributed scan prunes partitions against."""
        stats = self._chunk_stats[idx]
        return stats or None

    def read_records(self, idx: int, chunk: int | None = None) -> SymbolData:
        """Decode one symbol's records (or one chunk of them)."""
        cols = self.read_columns(idx, chunk)
        return symbol_data(self.symbols[self._target(idx)], cols, self.uels,
                           self.text_table)

    def _target(self, idx: int) -> int:
        m = self.symbols[idx]
        return self.find(m.alias_of) if m.type == DT_ALIAS else idx

    def read_columns(self, idx: int, chunk: int | None = None) -> Columns:
        """Decode one symbol's records (or one chunk of them) to columns."""
        with corrupt_guard(self.path, f"records[{idx}]"):
            cols = self._read_columns(self._target(idx), chunk)
            return cols.check(len(self.uels), len(self.text_table))

    def _read_columns(self, idx: int, chunk: int | None) -> Columns:
        m = self.symbols[idx]
        buf, base, blen = self._block(idx)
        chunks, cr = self._chunks[idx], self.chunk_records
        if len(chunks) != max(1, -(-m.nrecs // cr)):
            raise ValueError(f"{m.name}: {len(chunks)} chunks for {m.nrecs} records")
        parts = []
        for c in range(len(chunks)) if chunk is None else (chunk,):
            start = chunks[c]
            end = chunks[c + 1] if c + 1 < len(chunks) else blen
            if not 0 <= start <= end <= blen:
                raise ValueError(f"{m.name}: chunk {c} offsets out of range")
            n = max(0, min(cr, m.nrecs - c * cr))
            # an empty symbol's block holds no v3 chunk: the record loop
            # then decodes nothing
            decode = self._v3_chunk if self.version >= 3 and n else self._legacy_chunk
            parts.append(decode(m, buf, base + start, base + end, n))
        return Columns.concat(parts)

    @staticmethod
    def _v3_chunk(m: SymbolMeta, buf, pos: int, end: int, n: int) -> Columns:
        def take(nbytes: int) -> int:
            nonlocal pos
            if pos + nbytes > end:
                raise ValueError(f"{m.name}: truncated chunk")
            pos += nbytes
            return pos - nbytes

        def uints() -> np.ndarray:
            w = buf[take(1)]
            if w not in (1, 2, 4):
                raise ValueError(f"{m.name}: bad column width {w}")
            return np.frombuffer(buf, f"<u{w}", n, take(n * w)).astype(np.int64)

        codes = np.array([uints() for _ in range(m.dim)], np.int64).reshape(m.dim, n)
        if m.type == DT_SET:
            cols = Columns(codes, np.zeros((n, 1)), np.zeros(n, np.int64), uints())
        else:
            nv = m.n_values
            mk = np.frombuffer(buf, np.uint8, n * nv, take(n * nv))
            if mk.size and mk.max() > VT_SPECIAL:
                raise ValueError(f"{m.name}: bad value marker {mk.max()}")
            flat = (mk == VT_ONE).astype(np.float64)
            for vt, dt in ((VT_INT8, "<i1"), (VT_INT32, "<i4"), (VT_DOUBLE, "<f8")):
                sel = mk == vt
                k = int(np.count_nonzero(sel))
                flat[sel] = np.frombuffer(buf, dt, k, take(k * np.dtype(dt).itemsize))
            sel = mk == VT_SPECIAL
            k = int(np.count_nonzero(sel))
            sv = np.frombuffer(buf, np.uint8, k, take(k))
            if k and sv.max() > SV_ACR:
                raise ValueError(f"{m.name}: bad special-value id {sv.max()}")
            flat[sel] = _SV_VALUE[sv]
            is_eps = np.zeros(n * nv, bool)
            is_eps[sel] = sv == SV_EPS
            eps = (is_eps.reshape(n, nv).astype(np.int64) << np.arange(nv)).sum(axis=1)
            cols = Columns(codes, flat.reshape(n, nv), eps)
        if pos != end:
            raise ValueError(f"{m.name}: {end - pos} stray bytes after chunk")
        return cols

    @staticmethod
    def _legacy_chunk(m: SymbolMeta, buf, pos: int, end: int, n: int) -> Columns:
        """v1/v2 (read-only): delta-encoded keys and a marker + payload per
        value, one record after another."""
        b = io.BytesIO(buf[pos:end])
        codes, vals, eps, text = [], [], [], []
        prev: tuple[int, ...] = ()
        nv = m.n_values
        for _ in range(n):
            shared = b.read(1)[0]
            prev = prev[:shared] + tuple(_rv(b) for _ in range(m.dim - shared))
            codes.append(prev)
            if m.type == DT_SET:
                text.append(_rv(b))
                continue
            fields = [_read_value(b) for _ in range(nv)]
            vals.append([v for v, _ in fields])
            eps.append(sum(int(e) << j for j, (_, e) in enumerate(fields)))
        codes_a = np.array(codes, np.int64).reshape(n, m.dim).T
        if m.type == DT_SET:
            return Columns(codes_a, np.zeros((n, 1)), np.zeros(n, np.int64),
                           np.array(text, np.int64))
        return Columns(codes_a, np.array(vals, np.float64).reshape(n, nv),
                       np.array(eps, np.int64))
