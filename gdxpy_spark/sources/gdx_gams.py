"""Clean-room reader/writer for the GAMS GDX **version-7 byte layout**, so
`format("gdx")` opens GAMS-produced files as well as the GDXPY7
container of gdx_codec.py (sniffed by magic: gdx_datasource.open_gdx).

EXACT here (published verbatim in gclgms.h and the open-sourced
GAMS-dev/gdx implementation):

- header: one byte ``123`` then the ShortString ``"GAMSGDX"``; file
  version integer 7; compression flag integer
- section markers: ``MARK_BOI = 19510624`` (int) and the strings
  ``"_UEL_" "_SYMB_" "_SETT_" "_ACRO_" "_DOMS_" "_DATA_"``
- special-value sentinel doubles (GMS_SV_*): UNDEF=1.0e300, NA=2.0e300,
  PINF=3.0e300, MINF=4.0e300, EPS=5.0e300, ACR=10.0e300
- type codes GMS_DT_SET..GMS_DT_ALIAS = 0..4; dim ≤ 20; UEL label ≤ 63
  chars; explanatory text ≤ 255 chars; UEL codes 1-based, insertion-ordered
- record keys delta-encoded against the previous record (a leading byte
  gives the first changed dimension — exploiting the required sorted
  order), with per-dimension byte widths sized by a min/max header
- a type marker byte per value (the TgdxIntlValTyp ladder: undef/na/
  +inf/-inf/eps/zero/one/-one, else marker + raw 8-byte double)

STRUCTURAL (conformance against GAMS-produced files is UNVERIFIED — no
GAMS install, SURVEY §0; the hand-built golden fixture in
tests/test_gdx_gams.py checks the reader independently of the writer):
field order in symbol-table entries and the domain section; each section
between two copies of its marker; the major index (MARK_BOI + six int64
seek positions — symbols, UELs, set text, acronyms, next-write, domains
— back-patched on close); compression: with the flag set, everything
after it is [u32 raw_len | u32 comp_len | zlib page] frames over 16 KiB
logical pages, and major-index positions are LOGICAL offsets into the
inflated image (standard RFC 1950 payloads; GAMS page headers UNVERIFIED).

The layout is fixed, but no record is coded field by field in Python:
the writer sorts, classifies and scatters a symbol's records into one
byte buffer with numpy; the reader makes one Python pass to find where
each record starts, then gathers keys and values with numpy. Symbols are
model-sized by format contract, so there is no chunk index: one scan
partition per symbol.
"""

from __future__ import annotations

import io
import math
import struct
import zlib
from functools import partial

import numpy as np

from gdxpy_spark.sources.gdx_codec import (
    DT_ALIAS,
    DT_SET,
    MAX_DIM,
    Columns,
    SymbolData,
    SymbolMeta,
    corrupt_guard,
    eps_bits,
    intern_keys,
    map_file,
    symbol_data,
    uint_width,
    value_columns,
)

GDX_HEADER_NR = 123
GDX_HEADER_ID = b"GAMSGDX"
GDX_VERSION = 7

MARK_BOI = 19510624
MARK_UEL = "_UEL_"
MARK_SYMB = "_SYMB_"
MARK_SETT = "_SETT_"
MARK_ACRO = "_ACRO_"
MARK_DOMS = "_DOMS_"
MARK_DATA = "_DATA_"

# gclgms.h GMS_SV_* sentinels (exact published doubles)
SV_UNDEF = 1.0e300
SV_NA = 2.0e300
SV_PINF = 3.0e300
SV_MINF = 4.0e300
SV_EPS = 5.0e300
SV_ACR = 10.0e300

# per-value type-marker ladder (TgdxIntlValTyp order)
(VM_VALUND, VM_VALNA, VM_VALPIN, VM_VALMIN, VM_VALEPS, VM_ZERO, VM_ONE,
 VM_MONE, VM_NORMAL) = range(9)

# what each marker reads as (VM_NORMAL's double follows it in the file)
_VM_VALUE = np.array([math.nan, math.nan, math.inf, -math.inf, 0.0, 0.0,
                      1.0, -1.0, 0.0])

_END_OF_DATA = 255  # control byte terminating a symbol's record stream

# stream-page compression framing (compression flag = 1): 16 KiB logical
# pages, each stored as <u32 raw_len><u32 comp_len><zlib bytes>. The
# header through the compression flag stays plain so sniffing and flag
# dispatch never touch zlib.
_PAGE_RAW = 1 << 14
_HEADER_PLAIN_LEN = 1 + 1 + len(GDX_HEADER_ID) + 4 + 4  # nr|id|version|flag


def _deflate_pages(raw: bytes) -> bytes:
    out = io.BytesIO()
    for i in range(0, len(raw), _PAGE_RAW):
        page = raw[i : i + _PAGE_RAW]
        comp = zlib.compress(page, 6)
        out.write(struct.pack("<II", len(page), len(comp)))
        out.write(comp)
    return out.getvalue()


def _inflate_pages(buf: bytes, pos: int, path: str) -> bytes:
    out = bytearray()
    n = len(buf)
    while pos < n:
        if pos + 8 > n:
            raise GamsGdxError(f"{path}: truncated compression page header")
        raw_len, comp_len = struct.unpack_from("<II", buf, pos)
        pos += 8
        if pos + comp_len > n:
            raise GamsGdxError(f"{path}: truncated compression page body")
        try:
            page = zlib.decompress(buf[pos : pos + comp_len])
        except zlib.error as exc:
            raise GamsGdxError(f"{path}: bad zlib page: {exc}") from exc
        if len(page) != raw_len:
            raise GamsGdxError(
                f"{path}: page inflated to {len(page)} bytes, header said {raw_len}"
            )
        out += page
        pos += comp_len
    return bytes(out)


class GamsGdxError(ValueError):
    pass


# decode failures surface as GamsGdxError (r6 byte-fuzz contract)
_corrupt_guard = partial(corrupt_guard, err=GamsGdxError, container="GAMS-layout")


# --- Delphi-stream primitives (ShortString + little-endian ints) -----------

def _w_byte(b: io.BytesIO, v: int) -> None:
    b.write(bytes([v & 0xFF]))


def _w_str(b: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    if len(raw) > 255:
        raise GamsGdxError("ShortString > 255 bytes")
    b.write(bytes([len(raw)]))
    b.write(raw)


def _w_int(b: io.BytesIO, v: int) -> None:
    b.write(struct.pack("<i", v))


def _w_int64(b: io.BytesIO, v: int) -> None:
    b.write(struct.pack("<q", v))


class _Rd:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def string(self) -> str:
        n = self.byte()
        try:
            s = self.buf[self.pos : self.pos + n].decode("utf-8")
        except UnicodeDecodeError as exc:
            raise GamsGdxError(
                f"corrupt ShortString at offset {self.pos}: {exc}"
            ) from exc
        self.pos += n
        return s

    def int32(self) -> int:
        (v,) = struct.unpack_from("<i", self.buf, self.pos)
        self.pos += 4
        return v

    def int64(self) -> int:
        (v,) = struct.unpack_from("<q", self.buf, self.pos)
        self.pos += 8
        return v

    def expect_marker(self, mark: str, where: str) -> None:
        got = self.string()
        if got != mark:
            raise GamsGdxError(f"{where}: expected marker {mark!r}, got {got!r}")


def _markers(v: np.ndarray, eps: np.ndarray) -> np.ndarray:
    """(n, n_values) in-memory values (inf/nan/finite + eps flags) → the
    marker ladder. NaN maps to NA (the reader cannot distinguish NA vs
    UNDEF from a NaN — gdxpy collapses both to NaN on read, SURVEY §1.1)."""
    return np.select(
        [eps_bits(eps, v.shape[1]), np.isnan(v), v == math.inf, v == -math.inf,
         v == 0.0, v == 1.0, v == -1.0],
        [VM_VALEPS, VM_VALNA, VM_VALPIN, VM_VALMIN, VM_ZERO, VM_ONE, VM_MONE],
        VM_NORMAL,
    ).astype(np.uint8)


class GamsGdxWriter:
    """Write a V7-layout .gdx (plain or zlib page-stream). Same add_symbol/close API
    as gdx_codec.GdxWriter so fixtures and the DataSource writer can
    target either container."""

    def __init__(self, path: str, producer: str = "gdxpy_spark gams-layout",
                 compress: bool = False):
        self.path = path
        self.producer = producer
        self.compress = compress
        self.symbols: list[SymbolData] = []
        self.uels: list[str] = []
        self._uel_code: dict[str, int] = {}
        self.set_texts: list[str] = [""]
        self._text_idx: dict[str, int] = {"": 0}

    def _text(self, t: str) -> int:
        if t not in self._text_idx:
            self.set_texts.append(t)
            self._text_idx[t] = len(self.set_texts) - 1
        return self._text_idx[t]

    def add_symbol(self, data: SymbolData) -> None:
        if any(s.meta.name.lower() == data.meta.name.lower() for s in self.symbols):
            raise GamsGdxError(f"duplicate symbol {data.meta.name}")
        data.meta.nrecs = len(data.keys)
        self.symbols.append(data)

    def _encode_data(self, out: io.BytesIO, sym: SymbolData) -> int:
        """One `_DATA_`-bracketed block; returns its start offset. Records
        sort by coded key tuple (GDX contract); each is [first-changed
        dimension fc | key deltas of dims fc.. | per value: marker, plus
        a double after VM_NORMAL], scattered into one byte buffer."""
        pos = out.tell()
        _w_str(out, MARK_DATA)
        m = sym.meta
        n, dim = len(sym.keys), m.dim
        _w_byte(out, dim)
        _w_int(out, n)
        codes = intern_keys(sym.keys, dim, self._uel_code, self.uels, m.name,
                            GamsGdxError)
        order = np.lexsort(codes[::-1]) if dim else np.arange(n)
        codes = codes[:, order]
        # per dim: min and max code (empty symbols: degenerate 1..1 range)
        bounds = (np.stack([codes.min(axis=1), codes.max(axis=1)], axis=1) if n
                  else np.ones((dim, 2), np.int64))
        out.write(bounds.astype("<i4").tobytes())
        mins = bounds[:, 0]
        widths = [uint_width(hi - lo) for lo, hi in bounds.tolist()]
        cum = np.concatenate([[0], np.cumsum(widths, dtype=np.int64)])
        # fc = dim + 1: only the value changed (dim-0 scalars, repeated keys)
        fc = np.ones(n, np.int64)
        if dim and n > 1:
            diff = codes[:, 1:] != codes[:, :-1]
            fc[1:] = np.where(diff.any(axis=0), diff.argmax(axis=0) + 1, dim + 1)

        if m.type == DT_SET:
            texts = sym.text or [""] * n
            v = np.array([self._text(texts[i]) for i in order.tolist()],
                         np.float64).reshape(n, 1)
            mk = _markers(v, np.zeros(n, np.int64))
        else:
            v, eps = value_columns(sym.values, sym.eps_mask, n, m.n_values)
            v = v[order]
            mk = _markers(v, eps[order])
        normal = mk == VM_NORMAL
        keylen = cum[dim] - cum[fc - 1]
        reclen = 1 + keylen + mk.shape[1] + 8 * normal.sum(axis=1)
        start = np.cumsum(reclen) - reclen
        buf = np.zeros(int(reclen.sum()), np.uint8)
        buf[start] = fc
        for d in range(dim):
            has = fc - 1 <= d
            p = start[has] + 1 + cum[d] - cum[fc[has] - 1]
            delta = codes[d, has] - mins[d]
            for byte in range(widths[d]):
                buf[p + byte] = delta >> 8 * byte & 0xFF
        p = start + 1 + keylen
        for j in range(mk.shape[1]):
            buf[p] = mk[:, j]
            sel = normal[:, j]
            buf[(p[sel] + 1)[:, None] + np.arange(8)] = (
                v[sel, j].astype("<f8").view(np.uint8).reshape(-1, 8))
            p = p + 1 + 8 * sel
        out.write(buf.tobytes())
        _w_byte(out, _END_OF_DATA)
        _w_str(out, MARK_DATA)
        return pos

    def close(self) -> None:
        out = io.BytesIO()
        _w_byte(out, GDX_HEADER_NR)
        out.write(bytes([len(GDX_HEADER_ID)]) + GDX_HEADER_ID)
        _w_int(out, GDX_VERSION)
        _w_int(out, int(self.compress))  # stream-page zlib when set
        _w_str(out, "GDX clean-room (gdxpy_spark)")  # FileSystemID/audit
        _w_str(out, self.producer)

        # major index: MARK_BOI + six int64 seek positions, back-patched
        index_pos = out.tell()
        _w_int(out, MARK_BOI)
        for _ in range(6):
            _w_int64(out, 0)

        data_pos = [self._encode_data(out, s) for s in self.symbols]

        symb_pos = out.tell()
        _w_str(out, MARK_SYMB)
        _w_int(out, len(self.symbols))
        by_name = {s.meta.name.lower(): i + 1 for i, s in enumerate(self.symbols)}
        for s, dp in zip(self.symbols, data_pos):
            m = s.meta
            _w_str(out, m.name)
            _w_int64(out, dp)
            _w_int(out, m.dim)
            _w_byte(out, m.type)
            _w_int(out, m.subtype)
            _w_int(out, m.nrecs)
            _w_int(out, 0)  # error count
            _w_str(out, m.expl_text)
            _w_int(out, by_name.get(m.alias_of.lower(), 0) if m.type == DT_ALIAS else 0)
        _w_str(out, MARK_SYMB)

        table_pos = []  # UEL, set-text and (empty) acronym tables
        for mark, items in ((MARK_UEL, self.uels), (MARK_SETT, self.set_texts),
                            (MARK_ACRO, [])):
            table_pos.append(out.tell())
            _w_str(out, mark)
            _w_int(out, len(items))
            for item in items:
                _w_str(out, item)
            _w_str(out, mark)

        doms_pos = out.tell()
        _w_str(out, MARK_DOMS)
        for s in self.symbols:
            for d in s.meta.domains:
                _w_str(out, d)
        _w_str(out, MARK_DOMS)

        next_pos = out.tell()
        buf = bytearray(out.getvalue())
        struct.pack_into(
            "<qqqqqq", buf, index_pos + 4,
            symb_pos, *table_pos, next_pos, doms_pos,
        )
        blob = bytes(buf)
        if self.compress:
            # positions in the major index are logical offsets; only the
            # on-disk byte stream after the flag is page-deflated
            blob = blob[:_HEADER_PLAIN_LEN] + _deflate_pages(blob[_HEADER_PLAIN_LEN:])
        with open(self.path, "wb") as f:
            f.write(blob)


class GamsGdxFile:
    """Read a V7-layout .gdx. Exposes the same reader surface as
    gdx_codec.GdxFile (symbols / find / n_chunks / read_records) so the
    DataSource can serve either container behind format("gdx")."""

    def __init__(self, path: str):
        self.path = path
        buf = map_file(path)
        if not buf or buf[0] != GDX_HEADER_NR or buf[2:9] != GDX_HEADER_ID:
            raise GamsGdxError(f"{path}: not a GAMS-layout GDX file")
        with _corrupt_guard(path, "catalog"):
            self._parse(buf)

    def _parse(self, buf: bytes) -> None:
        path = self.path
        r = _Rd(buf)
        r.byte()
        if r.string() != GDX_HEADER_ID.decode():
            raise GamsGdxError(f"{path}: bad header id")
        self.version = r.int32()
        if self.version > GDX_VERSION:
            raise GamsGdxError(f"{path}: unsupported GDX version {self.version}")
        compr = r.int32()
        if compr not in (0, 1):
            raise GamsGdxError(f"{path}: bad compression flag {compr}")
        if compr:
            # reconstruct the logical (decompressed) image: plain header
            # prefix + inflated page stream. Major-index seek positions
            # are logical offsets, so parsing continues unchanged.
            r = _Rd(buf[: r.pos] + _inflate_pages(buf, r.pos, path))
            r.pos = _HEADER_PLAIN_LEN
        self.compressed = bool(compr)
        self.audit = r.string()
        self.producer = r.string()
        if r.int32() != MARK_BOI:
            raise GamsGdxError(f"{path}: major index marker missing")
        (symb_pos, uel_pos, sett_pos, acro_pos, _next_pos, doms_pos) = (
            r.int64() for _ in range(6)
        )
        self._r = r

        # UEL table (1-based codes, insertion order)
        r.pos = uel_pos
        r.expect_marker(MARK_UEL, "uel")
        self.uels = [r.string() for _ in range(r.int32())]

        r.pos = sett_pos
        r.expect_marker(MARK_SETT, "settext")
        self.set_texts = [r.string() for _ in range(r.int32())]
        self.text_table = self.set_texts  # Columns.text indexes this

        r.pos = symb_pos
        r.expect_marker(MARK_SYMB, "symbols")
        n = r.int32()
        self.symbols: list[SymbolMeta] = []
        self._data_pos: list[int] = []
        raw_alias: list[int] = []
        for _ in range(n):
            # entry: name, data position, dim, type, subtype, records,
            # error count, explanatory text, alias target (1-based)
            name, dp, dim, typ, subtype, nrecs, _errors, expl, alias_idx = (
                r.string(), r.int64(), r.int32(), r.byte(), r.int32(), r.int32(),
                r.int32(), r.string(), r.int32())
            if not (0 <= dim <= MAX_DIM):
                raise GamsGdxError(f"{name}: dim {dim} out of range")
            raw_alias.append(alias_idx)
            self.symbols.append(
                SymbolMeta(name=name, dim=dim, type=typ, subtype=subtype,
                           expl_text=expl, nrecs=nrecs)
            )
            self._data_pos.append(dp)

        r.pos = doms_pos
        r.expect_marker(MARK_DOMS, "domains")
        for m in self.symbols:
            m.domains = tuple(r.string() for _ in range(m.dim))
        for m, ai in zip(self.symbols, raw_alias):
            if m.type == DT_ALIAS and 1 <= ai <= len(self.symbols):
                m.alias_of = self.symbols[ai - 1].name

    # -- GdxFile-compatible surface -----------------------------------

    def find(self, name: str) -> int:
        low = name.lower()
        for i, s in enumerate(self.symbols):
            if s.name.lower() == low:
                return i
        raise KeyError(f"symbol {name!r} not in {self.path}")

    def n_chunks(self, idx: int) -> int:
        return 1  # GAMS layout has no chunk index; symbols are model-sized

    def chunk_stats(self, idx: int) -> None:
        return None  # no per-chunk key statistics in the GAMS layout

    def read_records(self, idx: int, chunk: int | None = None) -> SymbolData:
        m = self.symbols[idx]
        if m.type == DT_ALIAS:
            return self.read_records(self.find(m.alias_of))
        return symbol_data(m, self.read_columns(idx), self.uels, self.text_table)

    def read_columns(self, idx: int, chunk: int | None = None) -> Columns:
        with _corrupt_guard(self.path, f"records[{idx}]"):
            m = self.symbols[idx]
            if m.type == DT_ALIAS:
                return self.read_columns(self.find(m.alias_of))
            cols = self._read_columns(m, self._data_pos[idx])
            return cols.check(len(self.uels), len(self.set_texts), GamsGdxError)

    def _read_columns(self, m: SymbolMeta, data_pos: int) -> Columns:
        r = _Rd(self._r.buf)
        r.pos = data_pos
        r.expect_marker(MARK_DATA, m.name)
        dim = r.byte()
        n = r.int32()
        if dim != m.dim:
            raise GamsGdxError(f"{m.name}: data dim {dim} != catalog dim {m.dim}")
        if n < 0:
            raise GamsGdxError(f"{m.name}: record count {n}")
        bounds = [(r.int32(), r.int32()) for _ in range(dim)]
        mins = [lo for lo, _ in bounds]
        widths = [uint_width(hi - lo) for lo, hi in bounds]
        cum = np.concatenate([[0], np.cumsum(widths, dtype=np.int64)])
        tail = (cum[dim] - cum).tolist()  # key bytes of a record with fc = k + 1
        nv = m.n_values
        # the one Python pass: record lengths vary with fc and with the
        # VM_NORMAL payloads, so find where each record starts
        buf, pos, starts = r.buf, r.pos, []
        for _ in range(n):
            fc = buf[pos]
            if fc == _END_OF_DATA:
                raise GamsGdxError(f"{m.name}: truncated record stream")
            if not 0 < fc <= dim + 1:
                raise GamsGdxError(f"{m.name}: bad first-changed dimension {fc}")
            starts.append(pos)
            pos += 1 + tail[fc - 1]
            for _ in range(nv):
                pos += 9 if buf[pos] == VM_NORMAL else 1
        r.pos = pos
        if r.byte() != _END_OF_DATA:
            raise GamsGdxError(f"{m.name}: missing end-of-data byte")
        r.expect_marker(MARK_DATA, m.name)

        a = np.frombuffer(buf, np.uint8)
        s = np.array(starts, np.int64)
        fc = a[s].astype(np.int64)
        rec = np.arange(n)
        codes = np.zeros((dim, n), np.int64)
        for d in range(dim):
            has = fc - 1 <= d
            p = s[has] + 1 + cum[d] - cum[fc[has] - 1]
            delta = np.zeros(len(p), np.int64)
            for byte in range(widths[d]):
                delta |= a[p + byte].astype(np.int64) << 8 * byte
            col = np.zeros(n, np.int64)
            col[has] = mins[d] + delta
            # dims before fc repeat the last record that wrote them; none
            # yet → code 0, which the UEL range check rejects
            last = np.maximum.accumulate(np.where(has, rec, -1))
            codes[d] = np.where(last >= 0, col[last], 0)

        vpos = s + 1 + np.array(tail, np.int64)[fc - 1]
        vals = np.empty((n, nv))
        eps = np.zeros(n, np.int64)
        for j in range(nv):
            mk = a[vpos]
            if n and mk.max() > VM_NORMAL:
                raise GamsGdxError(f"bad value marker {mk.max()}")
            v, is_eps, sel = _VM_VALUE[mk], mk == VM_VALEPS, mk == VM_NORMAL
            raw = a[(vpos[sel] + 1)[:, None] + np.arange(8)].view("<f8").ravel()
            # sentinel doubles in VM_NORMAL payloads normalise too (a
            # conforming writer may emit them raw); others pass through
            v[sel] = np.select(
                [(raw == SV_UNDEF) | (raw == SV_NA), raw == SV_PINF,
                 raw == SV_MINF, raw == SV_EPS], [math.nan, math.inf, -math.inf, 0.0],
                raw)
            is_eps[sel] = raw == SV_EPS
            vals[:, j] = v
            eps |= is_eps.astype(np.int64) << j
            vpos = vpos + 1 + 8 * sel
        if m.type != DT_SET:
            return Columns(codes, vals, eps)
        t = vals[:, 0]  # a set record's value is its set-text index
        if not np.all((t >= 0) & (t < len(self.set_texts)) & (t == np.trunc(t))):
            raise GamsGdxError(f"{m.name}: set-text index outside the text table")
        return Columns(codes, np.zeros((n, 1)), np.zeros(n, np.int64), t.astype(np.int64))


def is_gams_layout(path: str) -> bool:
    with open(path, "rb") as f:
        head = f.read(9)
    return len(head) == 9 and head[0] == GDX_HEADER_NR and head[2:9] == GDX_HEADER_ID
