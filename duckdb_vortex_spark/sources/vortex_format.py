"""A real ``.vortex`` columnar container (SURVEY.md §7 Phase 2 rung (b)).

The reference ships DuckDB's Vortex extension: ``read_vortex`` /
``COPY TO (FORMAT VORTEX)`` over a footer-described, chunked, zone-map-
bearing columnar file with lightweight encodings (ALP floats, FastLanes
bit-packed ints, FSST strings — /root/reference/README.md:63-79,
vortex-extension/Cargo.lock:4258-4345). The real codec crates are
native Rust and not importable here, so this module implements the same
*family* of encodings from the published papers, in numpy, behind the
same reader/writer seam — a genuine non-parquet on-disk format whose
every byte this module defines:

File layout::

    "VTX1"                                      4-byte magic
    chunk 0 col buffers | chunk 1 col buffers…  encoded column data
    footer (JSON, utf-8)                        schema + chunk directory
    footer length (uint64 LE) | "VTX1"          trailer

The footer carries the Arrow schema (IPC-serialized, exact type
round-trip), and per chunk × column: byte offset/length, encoding id,
encoding parameters, and the zone map (min / max / null_count) used for
chunk pruning (§2A A7).

Encodings (chosen per chunk × column from the data):

- ``bitpack``  — frame-of-reference + bit-packing for all integer-backed
  types (ints, timestamps, dates, times): values are rebased against the
  chunk min in modular uint64 arithmetic and packed to the minimal bit
  width (FastLanes-family; Kuiper & Boncz, "FastLanes", VLDB 2023).
  Width 0 (constant chunk) stores nothing but the reference.
- ``alp``      — Adaptive Lossless floating-Point (Afroozeh et al.,
  SIGMOD 2023, simplified to one decimal exponent per chunk): doubles
  that are short decimals are stored as round(x·10^e) integers
  (bit-packed), with non-round-tripping values (incl. NaN/Inf) patched
  as positional exceptions. Falls back to ``flat`` when fewer than half
  the values round-trip.
- ``bool``     — bitmap (numpy packbits).
- ``str_dict`` — dictionary encoding for low-cardinality strings: codes
  bit-packed, dictionary stored as offsets + payload.
- ``str_fsst`` — FSST-style static symbol table (Boncz, Neumann &
  Leis, "FSST: Fast Random Access String Compression", VLDB 2020;
  simplified: one-pass sampled training, ≤254 multi-byte symbols, code
  0xFF escapes literals). Strings are stored as lengths (bit-packed) +
  symbol-coded payload; random access per chunk, vectorized re-split
  via Arrow offset buffers.
- ``str_flat`` / ``binary`` — offsets + raw payload.
- ``arrow``    — Arrow IPC fallback for types without a specialized
  path (decimals, struct/list/map): still chunked, still zone-mapped
  (null counts), still inside the cascade.

Every buffer then passes a **cascade** stage (§2A A10): zlib is kept
when it wins ≥ 5%; the footer records the stage so readers un-cascade
transparently.

Null handling: a validity bitmap precedes the payload when a chunk has
nulls; encoders see null slots filled with the chunk's reference value
so statistics and widths stay tight.

Object-store routing (§2A A3): paths with a URI scheme resolve through
``register_filesystem`` handlers (s3a/abfss/… in production delegate to
a cluster filesystem; tests pin the routing with a local shim). Local
paths use plain ``open``.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import struct
import zlib
from dataclasses import dataclass

MAGIC = b"VTX1"
VERSION = 1
_TRAILER = struct.Struct("<Q4s")  # footer_len, magic

# ---------------------------------------------------------------------------
# Filesystem routing (A3)


class LocalFS:
    """Default filesystem: plain local paths (and file:// URIs)."""

    def open(self, path: str, mode: str):
        if mode.startswith("w"):
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        return open(path, mode)

    def glob(self, pattern: str) -> list[str]:
        import glob as globmod

        return sorted(globmod.glob(pattern, recursive="**" in pattern))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def remove(self, path: str) -> None:
        os.remove(path)


_FILESYSTEMS: dict[str, object] = {}


def register_filesystem(scheme: str, fs: object) -> None:
    """Register a filesystem handler for a URI scheme (e.g. ``s3a``).

    Production deployments delegate to the cluster's Hadoop-compatible
    store; the handler protocol (open/glob/isdir/exists/remove) is the
    seam this module routes through for any non-local URI.
    """
    _FILESYSTEMS[scheme] = fs


_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")


def filesystem_for(path: str):
    m = _SCHEME_RE.match(path)
    if m is None or m.group(1) == "file":
        return LocalFS(), path[7:] if path.startswith("file://") else path
    scheme = m.group(1)
    fs = _FILESYSTEMS.get(scheme)
    if fs is None:
        raise NotImplementedError(
            f"no filesystem registered for scheme {scheme!r}; "
            "register one with vortex_format.register_filesystem "
            "(clusters delegate to the Hadoop-compatible store)"
        )
    return fs, path


# ---------------------------------------------------------------------------
# Bit-packing primitives (FastLanes-family)


def _bitpack(rel, width: int) -> bytes:
    """Pack uint64 values of ``width`` significant bits, LSB-first."""
    import numpy as np

    if width == 0 or rel.size == 0:
        return b""
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((rel[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _bitunpack(buf: bytes, width: int, n: int):
    import numpy as np

    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, np.uint8), bitorder="little", count=n * width)
    mat = bits.reshape(n, width).astype(np.uint64)
    return (mat << np.arange(width, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)


def _pack_ints(vals) -> tuple[dict, bytes]:
    """Frame-of-reference + bit-pack an int64 vector. Modular uint64
    rebasing is exact for any span ≤ 2^64, so no fallback is needed.

    Sorted (or near-sorted) chunks — the layout ``write_sorted``
    produces — additionally try DELTA coding (FastLanes has the same
    rung): successive differences usually need far fewer bits than the
    chunk span, e.g. a dense sorted key packs at ~1 bit/value instead
    of log2(span). The narrower of plain-FoR vs delta-FoR wins."""
    import numpy as np

    if vals.size == 0:
        return {"ref": 0, "width": 0}, b""
    v = vals.astype(np.int64)
    mn = int(v.min())
    mx = int(v.max())
    width = int(mx - mn).bit_length()
    if v.size > 1:
        deltas = np.diff(v.view(np.uint64)).view(np.int64)  # modular, exact
        dmn = int(deltas.min())
        dmx = int(deltas.max())
        dwidth = (dmx - dmn).bit_length()
        if dwidth < width:
            rel = (deltas.view(np.uint64) - np.uint64(dmn % (1 << 64))) & np.uint64(
                (1 << 64) - 1
            )
            return {
                "ref": dmn,
                "width": dwidth,
                "delta": True,
                "first": int(v[0]),
            }, _bitpack(rel, dwidth)
    rel = (v.view(np.uint64) - np.uint64(mn % (1 << 64))) & np.uint64((1 << 64) - 1)
    return {"ref": mn, "width": width}, _bitpack(rel, width)


def _unpack_ints(meta: dict, buf: bytes, n: int):
    import numpy as np

    if meta.get("delta"):
        deltas = (_bitunpack(buf, meta["width"], n - 1) + np.uint64(meta["ref"] % (1 << 64)))
        out = np.empty(n, dtype=np.uint64)
        out[0] = np.uint64(meta["first"] % (1 << 64))
        np.cumsum(deltas, out=out[1:])  # modular uint64 — exact inverse of diff
        out[1:] += out[0]
        return out.view(np.int64)
    rel = _bitunpack(buf, meta["width"], n)
    return (rel + np.uint64(meta["ref"] % (1 << 64))).view(np.int64)


# ---------------------------------------------------------------------------
# ALP floats (single-exponent + positional exceptions)

_F64_POW10 = [10.0**e for e in range(19)]


def _encode_alp(arr, f32: bool) -> tuple[dict, bytes] | None:
    import numpy as np

    a64 = np.asarray(arr, dtype=np.float64)  # no copy when already f64
    n = a64.size
    if n == 0:
        return {"e": 0, "ref": 0, "width": 0, "n_exc": 0, "f32": f32}, b""
    finite = np.isfinite(a64)
    # r15 perf: sampled REJECT pre-screen. Full-precision float chunks
    # (embeddings — the writer's heaviest input) round-trip at no
    # exponent, and the exact search below paid 15 full-array
    # round+divide passes to learn that before falling back to flat.
    # A deterministic sample bounds the achievable rate first:
    # acceptance needs best_n >= n/2, so if EVERY exponent round-trips
    # < 1/4 of the sample, the full search cannot plausibly reach 1/2
    # and flat wins without touching the full array. Any sample rate
    # >= 1/4 falls through to the UNCHANGED exact search — every
    # accepted chunk and its bytes are bit-identical to the pre-screen
    # encoder, and a wrong rejection only costs compression ratio
    # (flat is lossless), never correctness. np.rint is safe here
    # because the screen only ever rejects: it never picks e or
    # writes bytes.
    #
    # Sampling (r16, ADVICE r15): TWO CO-PRIME strides, k and k+1,
    # the second offset by k//2 — a single stride k samples one
    # residue class of any period p | k, so periodic data (e.g.
    # interleaved sensor channels) whose clean-decimal values align
    # with the stride could read <1/4 in the sample while >=1/2
    # overall, silently demoting an ALP-eligible chunk to flat. With
    # both strides, alignment would need p | gcd(k, k+1) = 1 — no
    # period p > 1 can hide from both. For non-adversarial data the
    # i.i.d. view still applies (Hoeffding on ~2048 points:
    # P[false reject] < 15·exp(-2·2048·0.25²) ≈ 1e-111).
    if n >= 4096:
        k = n // 1024
        s = np.concatenate([a64[::k], a64[k // 2 :: k + 1]])
        s_finite = np.isfinite(s)
        screen_best = 0.0
        for e in range(0, 15):
            ints = np.rint(s * _F64_POW10[e])
            with np.errstate(invalid="ignore"):
                ok = s_finite & (np.abs(ints) < 2**52) & ((ints / _F64_POW10[e]) == s)
            screen_best = max(screen_best, int(ok.sum()) / s.size)
            if screen_best >= 0.25:
                break
        if screen_best < 0.25:
            return None  # mostly-exception chunk: flat wins
    best_e, best_ok, best_ints, best_n = 0, None, None, -1
    for e in range(0, 15):
        ints = np.round(a64 * _F64_POW10[e])
        with np.errstate(invalid="ignore"):
            ok = finite & (np.abs(ints) < 2**52) & ((ints / _F64_POW10[e]) == a64)
            if f32:
                ok &= (ints / _F64_POW10[e]).astype(np.float32) == arr
        n_ok = int(ok.sum())
        if n_ok > best_n:
            best_e, best_ok, best_ints, best_n = e, ok, ints, n_ok
        if n_ok == n:
            break  # fully round-trips; smallest such exponent = tightest ints
    e, ok = best_e, best_ok
    n_exc = n - best_n
    if n_exc > n // 2:
        return None  # mostly-exception chunk: flat wins
    ints = best_ints  # the loop's winning array — same expression, one less pass
    ints[~ok] = 0
    meta, packed = _pack_ints(ints.astype(np.int64))
    exc_pos = np.flatnonzero(~ok).astype(np.uint32)
    exc_val = arr[~ok].astype(np.float32 if f32 else np.float64)
    meta.update({"e": e, "n_exc": n_exc, "f32": f32})
    return meta, packed + exc_pos.tobytes() + exc_val.tobytes()


def _decode_alp(meta: dict, buf: bytes, n: int):
    import numpy as np

    width = meta["width"]
    n_packed = (n - 1) if meta.get("delta") else n
    packed_len = 0 if width == 0 or n == 0 else (n_packed * width + 7) // 8
    ints = _unpack_ints(meta, buf[:packed_len], n)
    out = ints.astype(np.float64) / _F64_POW10[meta["e"]]
    if meta["f32"]:
        out = out.astype(np.float32)
    n_exc = meta["n_exc"]
    if n_exc:
        pos_end = packed_len + 4 * n_exc
        pos = np.frombuffer(buf[packed_len:pos_end], np.uint32)
        val = np.frombuffer(buf[pos_end:], np.float32 if meta["f32"] else np.float64)
        out[pos] = val
    return out


# ---------------------------------------------------------------------------
# FSST-style symbol table strings


def fsst_train(sample: bytes, max_symbols: int = 254) -> list[bytes]:
    """One-pass sampled training (the paper trains on a sample too):
    count substrings of length 2..8, keep the highest-gain
    (occurrences × saved bytes) symbols, ties broken by byte order.

    Every length-``ln`` window is packed big-endian into a uint64, so
    counting is one ``np.unique`` per length and integer order is byte
    order. Only the candidates that can make the cut (gain at least the
    ``max_symbols``-th largest) are turned back into bytes and sorted."""
    import numpy as np

    arr = np.frombuffer(sample, np.uint8)
    keys, counts, lens = [], [], []
    for ln in (2, 3, 4, 6, 8):
        m = len(arr) - ln + 1
        if m <= 0:
            break
        packed = np.zeros(m, np.uint64)
        for j in range(ln):
            packed = (packed << np.uint64(8)) | arr[j : j + m]
        uniq, cnt = np.unique(packed, return_counts=True)
        frequent = cnt >= 4
        keys.append(uniq[frequent])
        counts.append(cnt[frequent])
        lens.append(np.full(int(frequent.sum()), ln))
    if not keys:
        return []
    keys, lens = np.concatenate(keys), np.concatenate(lens)
    gains = np.concatenate(counts) * (lens - 1)
    cut = np.sort(gains)[-max_symbols] if len(gains) > max_symbols else 0
    top = np.flatnonzero(gains >= cut)
    scored = sorted(
        (-int(gains[i]), int(keys[i]).to_bytes(int(lens[i]), "big")) for i in top
    )
    return [s for _gain, s in scored[:max_symbols]]


_ESC = 0xFF


def fsst_encode(data: bytes, symbols: list[bytes]) -> bytes:
    """Greedy longest-match encode: symbol → its code byte, any other
    byte → 0xFF escape + literal."""
    if not symbols:
        # escape-everything degenerate case is never chosen by the
        # writer (flat wins), but keep the codec total.
        out = bytearray()
        for b in data:
            out.append(_ESC)
            out.append(b)
        return bytes(out)
    code = {s: i for i, s in enumerate(symbols)}
    pat = re.compile(
        b"|".join(re.escape(s) for s in sorted(symbols, key=len, reverse=True))
    )
    out = bytearray()
    pos = 0
    for m in pat.finditer(data):
        for b in data[pos : m.start()]:
            out.append(_ESC)
            out.append(b)
        out.append(code[m.group(0)])
        pos = m.end()
    for b in data[pos:]:
        out.append(_ESC)
        out.append(b)
    return bytes(out)


def fsst_decode(buf: bytes, symbols: list[bytes]) -> bytes:
    """Scan decode: code byte → symbol, 0xFF → next byte is a literal.
    The escape is consumed with its literal in one step, so a literal
    0xFF (or any byte equal to a symbol code) can never be re-parsed
    as a marker — naive split-on-escape decoding gets this wrong."""
    table = [symbols[i] if i < len(symbols) else b"" for i in range(255)]
    out: list[bytes] = []
    i, n = 0, len(buf)
    while i < n:
        j = buf.find(_ESC, i)
        if j == -1:
            out.append(b"".join(table[c] for c in buf[i:]))
            break
        out.append(b"".join(table[c] for c in buf[i:j]))
        out.append(buf[j + 1 : j + 2])
        i = j + 2
    return b"".join(out)


# ---------------------------------------------------------------------------
# Cascade (A10)


def _cascade(meta: dict, buf: bytes) -> tuple[dict, bytes]:
    if len(buf) >= 64:
        if len(buf) > 262144:
            # r15 perf: probe a sample before paying the full zlib
            # pass — packed full-precision float buffers (flat_float
            # embeddings, ~0.5 MiB per 64 k-row chunk column) are
            # incompressible and the full compress was pure waste.
            # r16 (ADVICE r15): the probe reads head + middle + tail
            # (64 KiB total) instead of the head alone, so a
            # mixed-content buffer whose head is incompressible but
            # whose tail compresses well is not skipped. Skip only
            # when the probe is FAR from the keep threshold (0.98 vs
            # 0.95) so borderline buffers still get the exact
            # full-buffer decision; a skipped buffer stores raw (no z
            # flag), which every reader already handles.
            mid = len(buf) // 2
            probe = buf[:32768] + buf[mid : mid + 16384] + buf[-16384:]
            if len(zlib.compress(probe, 6)) > len(probe) * 0.98:
                return meta, buf
        z = zlib.compress(buf, 6)
        if len(z) <= len(buf) * 0.95:
            meta = dict(meta, z=1)
            return meta, z
    return meta, buf


def _uncascade(meta: dict, buf: bytes) -> bytes:
    return zlib.decompress(buf) if meta.get("z") else buf


# ---------------------------------------------------------------------------
# Column chunk encode/decode


@dataclass
class ColumnChunk:
    enc: str
    meta: dict
    buf: bytes
    min: object
    max: object
    null_count: int


def _validity_and_fill(arr):
    """Split an Arrow array into (validity bytes | b"", numpy values with
    nulls filled by the first valid value / zero)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(arr)
    if arr.null_count == 0:
        return b"", arr
    mask = np.asarray(pc.is_valid(arr), dtype=bool)
    fill = arr.drop_null()[0].as_py() if arr.null_count < n else None
    filled = pc.fill_null(arr, fill) if fill is not None else pa.nulls(n, arr.type)
    if arr.null_count == n:
        # all-null chunk: encode zeros of the right type
        filled = pa.array([_zero_for(arr.type)] * n, type=arr.type)
    return np.packbits(mask, bitorder="little").tobytes(), filled


def _zero_for(typ):
    import pyarrow.types as pt

    if pt.is_integer(typ) or pt.is_temporal(typ):
        return 0
    if pt.is_floating(typ):
        return 0.0
    if pt.is_boolean(typ):
        return False
    if pt.is_string(typ) or pt.is_large_string(typ):
        return ""
    if pt.is_binary(typ) or pt.is_large_binary(typ):
        return b""
    return None


def _apply_validity(arr, validity: bytes, n: int):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not validity:
        return arr
    mask = np.unpackbits(np.frombuffer(validity, np.uint8), bitorder="little", count=n)
    return pc.if_else(pa.array(mask.astype(bool)), arr, pa.nulls(n, arr.type))


def _int_view(arr):
    """Numpy int64 view of an integer/temporal Arrow array (no nulls)."""
    import numpy as np

    return np.asarray(arr.cast(_storage_int_type(arr.type))).astype(np.int64)


def _storage_int_type(typ):
    import pyarrow as pa
    import pyarrow.types as pt

    if pt.is_timestamp(typ) or pt.is_time64(typ) or pt.is_duration(typ) or pt.is_date64(typ):
        return pa.int64()
    if pt.is_date32(typ) or pt.is_time32(typ):
        return pa.int32()
    return pa.int64() if pt.is_signed_integer(typ) or pt.is_unsigned_integer(typ) else typ


def _stats(arr):
    import pyarrow.compute as pc
    import pyarrow.types as pt

    typ = arr.type
    nc = arr.null_count
    if arr.null_count == len(arr) or len(arr) == 0:
        return None, None, nc
    if (
        pt.is_integer(typ)
        or pt.is_floating(typ)
        or pt.is_boolean(typ)
        or pt.is_string(typ)
        or pt.is_temporal(typ)
    ):
        mm = pc.min_max(arr)
        return _json_stat(mm["min"].as_py()), _json_stat(mm["max"].as_py()), nc
    return None, None, nc


def _json_stat(v):
    """Zone-map values must survive JSON exactly: temporals become
    integer epoch-µs / ordinal days (floats would round µs away)."""
    import datetime

    if isinstance(v, datetime.datetime):
        base = v.replace(tzinfo=None) if v.tzinfo is not None else v
        delta = base - datetime.datetime(1970, 1, 1)
        return {"ts": delta.days * 86_400_000_000 + delta.seconds * 1_000_000 + delta.microseconds}
    if isinstance(v, datetime.date):
        return {"d": v.toordinal()}
    if isinstance(v, datetime.time):
        return {"t": (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000 + v.microsecond}
    return v


def _unjson_stat(v):
    import datetime

    if isinstance(v, dict):
        if "ts" in v:
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=v["ts"])
        if "d" in v:
            return datetime.date.fromordinal(v["d"])
        if "t" in v:
            us = v["t"]
            return datetime.time(
                us // 3_600_000_000,
                us // 60_000_000 % 60,
                us // 1_000_000 % 60,
                us % 1_000_000,
            )
    return v


def encode_column(arr) -> ColumnChunk:
    """Encode one Arrow array (one chunk of one column). A failure in
    any specialized encoder degrades to the Arrow-IPC fallback rather
    than failing the write — the format stays total over all inputs."""
    import pyarrow as pa

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    mn, mx, nc = _stats(arr)
    try:
        cc = _encode_specialized(arr, mn, mx, nc)
        if cc is not None:
            return cc
    except Exception:  # noqa: BLE001 — fallback must be total
        pass
    # fallback: Arrow IPC (decimals, nested, interval, all-null chunks …)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, pa.schema([("c", arr.type)])) as w:
        w.write_table(pa.table({"c": arr}))
    meta, out = _cascade({}, sink.getvalue().to_pybytes())
    return ColumnChunk("arrow", meta, out, mn, mx, nc)


def _encode_specialized(arr, mn, mx, nc) -> ColumnChunk | None:
    import numpy as np
    import pyarrow.types as pt

    typ = arr.type

    if pt.is_integer(typ) or (pt.is_temporal(typ) and not pt.is_interval(typ)):
        validity, filled = _validity_and_fill(arr)
        if filled.null_count == 0:
            vals = _int_view(filled)
            # Run-end encoding (the Vortex/Arrow REE layout): when the
            # chunk is run-heavy (low-cardinality clustered columns,
            # day-truncated timestamps, write_sorted keys), storing
            # (run value, run length) pairs beats even delta bitpack —
            # n/4 runs is the break-even with both vectors re-entering
            # the FoR/delta packer.
            if vals.size >= 16:
                change = np.flatnonzero(np.diff(vals)) + 1
                n_runs = len(change) + 1
                if n_runs <= vals.size // 4:
                    starts = np.concatenate(([0], change))
                    run_vals = vals[starts]
                    run_lens = np.diff(np.concatenate((starts, [vals.size])))
                    vmeta, vbuf = _pack_ints(run_vals.astype(np.int64))
                    lmeta, lbuf = _pack_ints(run_lens.astype(np.int64))
                    meta = {
                        "validity": len(validity),
                        "n_runs": int(n_runs),
                        "rvals": vmeta,
                        "rvals_len": len(vbuf),
                        "rlens": lmeta,
                    }
                    meta, out = _cascade(meta, validity + vbuf + lbuf)
                    return ColumnChunk("ree", meta, out, mn, mx, nc)
            meta, buf = _pack_ints(vals)
            meta["validity"] = len(validity)
            meta, out = _cascade(meta, validity + buf)
            return ColumnChunk("bitpack", meta, out, mn, mx, nc)
    elif pt.is_floating(typ) and typ.bit_width in (32, 64):
        validity, filled = _validity_and_fill(arr)
        if filled.null_count == 0:
            vals = np.asarray(filled)
            alp = _encode_alp(vals, f32=typ.bit_width == 32)
            if alp is not None:
                meta, buf = alp
                meta["validity"] = len(validity)
                meta, out = _cascade(meta, validity + buf)
                return ColumnChunk("alp", meta, out, mn, mx, nc)
            meta = {"validity": len(validity), "f32": typ.bit_width == 32}
            meta, out = _cascade(meta, validity + vals.tobytes())
            return ColumnChunk("flat_float", meta, out, mn, mx, nc)
    elif pt.is_boolean(typ):
        validity, filled = _validity_and_fill(arr)
        if filled.null_count == 0:
            bits = np.packbits(np.asarray(filled, dtype=bool), bitorder="little").tobytes()
            meta = {"validity": len(validity)}
            meta, out = _cascade(meta, validity + bits)
            return ColumnChunk("bool", meta, out, mn, mx, nc)
    elif pt.is_string(typ):
        validity, filled = _validity_and_fill(arr)
        if filled.null_count == 0:
            return _encode_strings(filled, validity, mn, mx, nc)
    elif pt.is_binary(typ):
        validity, filled = _validity_and_fill(arr)
        if filled.null_count == 0:
            offs = np.frombuffer(
                filled.buffers()[1], np.int32, len(filled) + 1, offset=filled.offset * 4
            ).astype(np.int64)
            lengths = np.diff(offs)
            data_buf = filled.buffers()[2]
            payload = data_buf.to_pybytes()[offs[0] : offs[-1]] if data_buf is not None else b""
            lmeta, lbuf = _pack_ints(lengths)
            meta = {"validity": len(validity), "lens": lmeta, "lens_len": len(lbuf)}
            meta, out = _cascade(meta, validity + lbuf + payload)
            return ColumnChunk("binary", meta, out, mn, mx, nc)
    elif pt.is_struct(typ) or pt.is_list(typ) or pt.is_large_list(typ) or pt.is_map(typ):
        return _encode_nested(arr, mn, mx, nc)

    return None


def _validity_bytes(arr) -> bytes:
    """Packed validity bitmap, b"" when the array has no nulls."""
    import numpy as np
    import pyarrow.compute as pc

    if arr.null_count == 0:
        return b""
    mask = np.asarray(pc.is_valid(arr), dtype=bool)
    return np.packbits(mask, bitorder="little").tobytes()


def _encode_nested(arr, mn, mx, nc) -> ColumnChunk:
    """STRUCT / LIST / MAP layouts (SURVEY §1.2 stretch parity with the
    Vortex format's struct layouts — `vortex-layout`,
    /root/reference/vortex-extension/Cargo.lock:4414-4456): the column
    decomposes into independently-encoded CHILD columns, each going
    through the full specialized-encoder cascade (ints bit-pack,
    floats ALP, strings FSST/dict …) instead of one opaque Arrow-IPC
    blob. Child descriptors — including each leaf's min/max/null-count
    — live in the chunk meta, so zone maps exist per nested leaf and
    the reader prunes chunks on `st.field` predicates exactly like on
    top-level columns.

    Layouts (all after the outer validity bitmap):
    - struct: child buffers back to back, one per field (recursive).
    - list/large_list: bit-packed rebased offsets, then the values
      child sliced to the used range (offsets of a sliced array are
      rebased to 0, so slicing never ships unreferenced values).
    - map: offsets, then the key child and the value child (a map is
      list<entries struct<key,value>> — children encode flat, so
      string keys get dictionary/FSST like any string column).
    """
    import numpy as np
    import pyarrow.types as pt

    typ = arr.type
    validity = _validity_bytes(arr)

    def child(name: str, carr) -> tuple[dict, bytes]:
        cc = encode_column(carr)
        return (
            {
                "name": name,
                "enc": cc.enc,
                "meta": cc.meta,
                "len": len(cc.buf),
                "n": len(carr),
                "min": cc.min,
                "max": cc.max,
                "null_count": cc.null_count,
            },
            cc.buf,
        )

    if pt.is_struct(typ):
        descs, bufs = [], []
        for i in range(typ.num_fields):
            d, b = child(typ.field(i).name, arr.field(i))
            descs.append(d)
            bufs.append(b)
        meta = {"validity": len(validity), "children": descs}
        meta, out = _cascade(meta, validity + b"".join(bufs))
        return ColumnChunk("struct", meta, out, mn, mx, nc)

    offsets = np.asarray(arr.offsets.cast("int64"))
    start, end = int(offsets[0]), int(offsets[-1])
    ometa, obuf = _pack_ints(offsets - start)  # rebased: delta-packs to ~lens
    if pt.is_map(typ):
        pairs = [("key", arr.keys.slice(start, end - start)),
                 ("value", arr.items.slice(start, end - start))]
    else:
        pairs = [("item", arr.values.slice(start, end - start))]
    descs, bufs = [], []
    for name, c in pairs:
        d, b = child(name, c)
        descs.append(d)
        bufs.append(b)
    meta = {
        "validity": len(validity),
        "offsets": ometa,
        "offsets_len": len(obuf),
        "children": descs,
    }
    meta, out = _cascade(meta, validity + obuf + b"".join(bufs))
    return ColumnChunk("map" if pt.is_map(typ) else "list", meta, out, mn, mx, nc)


def _encode_strings(filled, validity: bytes, mn, mx, nc) -> ColumnChunk:
    import numpy as np
    import pyarrow.compute as pc

    n = len(filled)
    offs = np.frombuffer(filled.buffers()[1], np.int32, n + 1, offset=filled.offset * 4).astype(np.int64)
    lengths = np.diff(offs)
    data_buf = filled.buffers()[2]
    payload = (
        data_buf.to_pybytes()[offs[0] : offs[-1]] if data_buf is not None else b""
    )
    lmeta, lbuf = _pack_ints(lengths)

    n_distinct = len(pc.unique(filled))
    if n and n_distinct <= max(1, n // 2) and n_distinct < 65536:
        dct = pc.unique(filled)
        codes = pc.index_in(filled, value_set=dct)
        cmeta, cbuf = _pack_ints(np.asarray(codes).astype(np.int64))
        d_offs = np.frombuffer(dct.buffers()[1], np.int32, len(dct) + 1).astype(np.int64)
        d_lens = np.diff(d_offs)
        d_payload = dct.buffers()[2].to_pybytes()[: d_offs[-1]] if dct.buffers()[2] else b""
        dmeta, dbuf = _pack_ints(d_lens)
        meta = {
            "validity": len(validity),
            "codes": cmeta,
            "codes_len": len(cbuf),
            "dict_n": len(dct),
            "dict_lens": dmeta,
            "dict_lens_len": len(dbuf),
        }
        meta, out = _cascade(meta, validity + cbuf + dbuf + d_payload)
        return ColumnChunk("str_dict", meta, out, mn, mx, nc)

    if len(payload) >= 512:
        sample = payload[: 1 << 16]
        symbols = fsst_train(sample)
        if symbols:
            encoded = fsst_encode(payload, symbols)
            if len(encoded) <= len(payload) * 0.8:
                meta = {
                    "validity": len(validity),
                    "lens": lmeta,
                    "lens_len": len(lbuf),
                    "symbols": [base64.b64encode(s).decode() for s in symbols],
                }
                meta, out = _cascade(meta, validity + lbuf + encoded)
                return ColumnChunk("str_fsst", meta, out, mn, mx, nc)

    meta = {"validity": len(validity), "lens": lmeta, "lens_len": len(lbuf)}
    meta, out = _cascade(meta, validity + lbuf + payload)
    return ColumnChunk("str_flat", meta, out, mn, mx, nc)


def decode_column(enc: str, meta: dict, buf: bytes, n: int, typ):
    """Decode one column chunk back to an Arrow array of ``typ``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.types as pt

    buf = _uncascade(meta, buf)
    v_len = meta.get("validity", 0)
    validity, buf = buf[:v_len], buf[v_len:]

    if enc == "bitpack":
        vals = _unpack_ints(meta, buf, n)
        st = _storage_int_type(typ)
        arr = pa.array(vals.astype(np.int32 if st == pa.int32() else np.int64)).cast(st).cast(typ)
        return _apply_validity(arr, validity, n)
    if enc == "ree":
        n_runs = meta["n_runs"]
        vbuf, lbuf = buf[: meta["rvals_len"]], buf[meta["rvals_len"] :]
        run_vals = _unpack_ints(meta["rvals"], vbuf, n_runs)
        run_lens = _unpack_ints(meta["rlens"], lbuf, n_runs)
        vals = np.repeat(run_vals, run_lens)
        st = _storage_int_type(typ)
        arr = pa.array(vals.astype(np.int32 if st == pa.int32() else np.int64)).cast(st).cast(typ)
        return _apply_validity(arr, validity, n)
    if enc == "alp":
        out = _decode_alp(meta, buf, n)
        arr = pa.array(out, type=typ)
        return _apply_validity(arr, validity, n)
    if enc == "flat_float":
        arr = pa.array(np.frombuffer(buf, np.float32 if meta["f32"] else np.float64, n), type=typ)
        return _apply_validity(arr, validity, n)
    if enc == "bool":
        bits = np.unpackbits(np.frombuffer(buf, np.uint8), bitorder="little", count=n)
        arr = pa.array(bits.astype(bool))
        return _apply_validity(arr, validity, n)
    if enc == "str_dict":
        cbuf = buf[: meta["codes_len"]]
        rest = buf[meta["codes_len"] :]
        dbuf = rest[: meta["dict_lens_len"]]
        d_payload = rest[meta["dict_lens_len"] :]
        codes = _unpack_ints(meta["codes"], cbuf, n)
        d_lens = _unpack_ints(meta["dict_lens"], dbuf, meta["dict_n"])
        dct = _strings_from(d_lens, d_payload, meta["dict_n"])
        arr = dct.take(pa.array(codes.astype(np.int64)))
        return _apply_validity(arr, validity, n)
    if enc in ("str_fsst", "str_flat"):
        lbuf = buf[: meta["lens_len"]]
        payload = buf[meta["lens_len"] :]
        if enc == "str_fsst":
            payload = fsst_decode(
                payload, [base64.b64decode(s) for s in meta["symbols"]]
            )
        lens = _unpack_ints(meta["lens"], lbuf, n)
        arr = _strings_from(lens, payload, n)
        return _apply_validity(arr, validity, n)
    if enc == "binary":
        lbuf = buf[: meta["lens_len"]]
        payload = buf[meta["lens_len"] :]
        lens = _unpack_ints(meta["lens"], lbuf, n)
        arr = _strings_from(lens, payload, n, binary=True)
        return _apply_validity(arr, validity, n)
    if enc in ("struct", "list", "map"):
        return _decode_nested(enc, meta, validity, buf, n, typ)
    if enc == "arrow":
        with pa.ipc.open_stream(pa.BufferReader(validity + buf)) as r:
            t = r.read_all()
        col = t.column("c").combine_chunks()
        return col if col.type == typ else col.cast(typ)
    raise ValueError(f"unknown vortex encoding {enc!r}")


def _decode_nested(enc: str, meta: dict, validity: bytes, buf: bytes, n: int, typ):
    """Rebuild a struct/list/map array from its independently-encoded
    children (see _encode_nested): decode each child recursively, then
    reassemble zero-copy via Array.from_buffers."""
    import numpy as np
    import pyarrow as pa

    vbuf = pa.py_buffer(validity) if validity else None

    def decode_children(payload: bytes, descs: list[dict], types: list):
        out, off = [], 0
        for d, t in zip(descs, types):
            out.append(decode_column(d["enc"], d["meta"], payload[off : off + d["len"]], d["n"], t))
            off += d["len"]
        return out

    if enc == "struct":
        types = [typ.field(i).type for i in range(typ.num_fields)]
        children = decode_children(buf, meta["children"], types)
        return pa.Array.from_buffers(typ, n, [vbuf], children=children)

    obuf = buf[: meta["offsets_len"]]
    payload = buf[meta["offsets_len"] :]
    offsets = _unpack_ints(meta["offsets"], obuf, n + 1)
    import pyarrow.types as pt

    if enc == "map":
        kv = decode_children(
            payload, meta["children"], [typ.key_type, typ.item_type]
        )
        entries = pa.StructArray.from_arrays(
            kv, fields=[typ.key_field, typ.item_field]
        )
        off_arr = pa.py_buffer(offsets.astype(np.int32).tobytes())
        return pa.Array.from_buffers(typ, n, [vbuf, off_arr], children=[entries])

    (values,) = decode_children(payload, meta["children"], [typ.value_type])
    width = np.int64 if pt.is_large_list(typ) else np.int32
    off_arr = pa.py_buffer(offsets.astype(width).tobytes())
    return pa.Array.from_buffers(typ, n, [vbuf, off_arr], children=[values])


def _strings_from(lens, payload: bytes, n: int, binary: bool = False):
    import numpy as np
    import pyarrow as pa

    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    typ = pa.binary() if binary else pa.utf8()
    return pa.Array.from_buffers(
        typ, n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)]
    )


# ---------------------------------------------------------------------------
# File writer / reader


class VortexFileWriter:
    """Stream chunks of an Arrow table into one ``.vortex`` file."""

    def __init__(self, path: str, schema):
        self._fs, self._path = filesystem_for(path)
        self._f = self._fs.open(self._path, "wb")
        self._f.write(MAGIC)
        self._pos = len(MAGIC)
        self._schema = schema
        self._chunks: list[dict] = []
        self._n_rows = 0

    def write_table(self, table, row_group_size: int = 65536) -> None:
        for start in range(0, table.num_rows, row_group_size):
            self._write_chunk(table.slice(start, row_group_size))

    def _write_chunk(self, table) -> None:
        cols = {}
        for name in table.column_names:
            col = table.column(name)
            cc = encode_column(col)
            cols[name] = {
                "off": self._pos,
                "len": len(cc.buf),
                "crc": zlib.crc32(cc.buf) & 0xFFFFFFFF,
                "enc": cc.enc,
                "meta": cc.meta,
                "min": cc.min,
                "max": cc.max,
                "null_count": cc.null_count,
            }
            try:
                bloom = bloom_build(col)
            except Exception:  # noqa: BLE001 — stats are advisory, never fail a write
                bloom = None
            if bloom is not None:
                cols[name]["bloom"] = base64.b64encode(bloom).decode()
            self._f.write(cc.buf)
            self._pos += len(cc.buf)
        self._chunks.append({"n_rows": table.num_rows, "columns": cols})
        self._n_rows += table.num_rows

    def close(self) -> None:
        import pyarrow as pa

        footer = {
            "version": VERSION,
            "schema_ipc": base64.b64encode(self._schema.serialize().to_pybytes()).decode(),
            "n_rows": self._n_rows,
            "chunks": self._chunks,
        }
        payload = json.dumps(footer).encode()
        self._f.write(payload)
        self._f.write(_TRAILER.pack(len(payload), MAGIC))
        self._f.close()

    def abort(self) -> None:
        """Discard the file instead of committing it: a close() after a
        mid-write failure would stamp a VALID footer over truncated
        chunks and the dataset's part-* glob would serve the partial
        file forever after. Object-store files abort their multipart
        upload (no object materializes); local files are unlinked."""
        f = self._f
        if hasattr(f, "abort"):
            f.abort()
            return
        try:
            f.close()
        finally:
            try:
                self._fs.remove(self._path)
            except OSError:
                pass  # already gone / never created: nothing to clean


@dataclass
class Footer:
    schema: object  # pa.Schema
    n_rows: int
    chunks: list[dict]


def read_footer(path: str) -> Footer:
    import pyarrow as pa

    fs, p = filesystem_for(path)
    with fs.open(p, "rb") as f:
        head = f.read(4)
        if head != MAGIC:
            raise ValueError(f"{path!r} is not a vortex file (bad magic {head!r})")
        f.seek(-_TRAILER.size, os.SEEK_END)
        flen, magic = _TRAILER.unpack(f.read(_TRAILER.size))
        if magic != MAGIC:
            raise ValueError(f"{path!r}: corrupt vortex trailer")
        f.seek(-(_TRAILER.size + flen), os.SEEK_END)
        footer = json.loads(f.read(flen))
    if footer.get("version") != VERSION:
        raise ValueError(f"{path!r}: unsupported vortex version {footer.get('version')}")
    schema = pa.ipc.read_schema(
        pa.BufferReader(base64.b64decode(footer["schema_ipc"]))
    )
    return Footer(schema=schema, n_rows=footer["n_rows"], chunks=footer["chunks"])


def read_chunk(path: str, footer: Footer, chunk_idx: int, columns: list[str]):
    """Decode one chunk, only ``columns`` (A5 projection pruning)."""
    import pyarrow as pa

    fs, p = filesystem_for(path)
    chunk = footer.chunks[chunk_idx]
    n = chunk["n_rows"]
    arrays, fields = [], []
    with fs.open(p, "rb") as f:
        for name in columns:
            cd = chunk["columns"][name]
            f.seek(cd["off"])
            buf = f.read(cd["len"])
            # per-chunk CRC32 (extensible-footer key: absent in older
            # files → no check): catches torn/bit-rotted pages at the
            # column they corrupt instead of as a decode exception —
            # or worse, silently wrong values — downstream
            want = cd.get("crc")
            if want is not None and (zlib.crc32(buf) & 0xFFFFFFFF) != want:
                raise ValueError(
                    f"{path!r}: CRC mismatch in chunk {chunk_idx} column {name!r}"
                    " — file corrupt"
                )
            typ = footer.schema.field(name).type
            arrays.append(decode_column(cd["enc"], cd["meta"], buf, n, typ))
            fields.append(pa.field(name, typ))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def chunk_stats(footer: Footer, chunk_idx: int, name: str):
    """Zone-map triple (min, max, null_count) for pruning; values are
    restored to comparable Python objects (datetimes, dates…).

    Dotted names resolve into NESTED layouts: ``st.a`` walks the
    struct chunk's child descriptors (each child carries its own
    min/max/null-count — see _encode_nested), so a pushed predicate on
    a struct field prunes chunks exactly like a top-level column.
    Only struct steps are walked (list/map elements have no per-row
    identity to prune on).

    The returned null_count for a nested leaf INCLUDES every ancestor
    struct's own null_count: Arrow permits valid child slots under a
    null parent (the child array's null_count excludes them), yet
    ``st.a IS NULL`` evaluates TRUE on parent-null rows — an IsNull
    prune keyed on the bare leaf count would drop chunks that contain
    matches. Summing ancestors can double-count overlapping nulls, but
    pruning only ever tests ``== 0``, so over-counting is safe and
    min/max are unaffected."""
    parts = name.split(".")
    cd = footer.chunks[chunk_idx]["columns"].get(parts[0])
    ancestor_nulls = 0
    for p in parts[1:]:
        if cd is None or cd.get("enc") != "struct":
            return None
        ancestor_nulls += cd.get("null_count") or 0
        cd = next(
            (c for c in cd.get("meta", {}).get("children", []) if c.get("name") == p),
            None,
        )
    if cd is None:
        return None
    return (
        _unjson_stat(cd["min"]),
        _unjson_stat(cd["max"]),
        cd["null_count"] + ancestor_nulls,
    )


# ---------------------------------------------------------------------------
# per-chunk string bloom filters (point-predicate pruning beyond min/max)


_BLOOM_BITS = 2048        # floor (and the pre-round-3 fixed size)
_BLOOM_MAX_BITS = 65536   # 8 KiB ceiling per (chunk, column)
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 4096


def bloom_build(arr) -> bytes | None:
    """256-byte bloom filter over a string or integer chunk's DISTINCT values
    (k=4 md5-derived probes). Zone-map min/max refutes ranges but is
    powerless against point predicates on non-clustered strings (two
    chunks spanning 'aa'..'zz' overlap every equality); the bloom
    refutes membership directly. Chunks with > 4096 distinct values
    skip the bloom (it would saturate: at 2048 bits / k=4, 4096 keys
    ≈ 100% fill) — absence means "no claim", never "absent".
    Cost: 256 B per (chunk, column) in the footer, read with the
    footer — no extra I/O."""
    import pyarrow as pa
    import pyarrow.compute as pc

    is_str = pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)
    if not (is_str or pa.types.is_integer(arr.type)):
        return None
    uniq = pc.unique(arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr)
    if len(uniq) > _BLOOM_MAX_DISTINCT:
        return None
    # adaptive sizing: ~10 bits/key keeps the k=4 FP rate ≈ 1–2 %;
    # a fixed 2048 bits saturates (100 % FP) once a chunk holds a few
    # thousand distinct keys — exactly the int-key case. Readers take
    # the size from len(bloom), so old fixed-size blooms stay valid.
    n_bits = _BLOOM_BITS
    while n_bits < 10 * len(uniq) and n_bits < _BLOOM_MAX_BITS:
        n_bits *= 2
    bits = bytearray(n_bits // 8)
    for v in uniq:
        if not v.is_valid:
            continue
        h = hashlib.md5(_bloom_key(v.as_py())).digest()
        for i in range(_BLOOM_K):
            idx = int.from_bytes(h[i * 4 : (i + 1) * 4], "little") % n_bits
            bits[idx // 8] |= 1 << (idx % 8)
    return bytes(bits)


def _bloom_key(value) -> bytes:
    """Canonical hash key: utf-8 for strings, decimal string for ints
    (type-stable across Python/Arrow widths — the pushed-filter value
    arrives as a plain Python int regardless of the column's storage
    width, so str() keys match without width bookkeeping)."""
    if isinstance(value, str):
        return value.encode("utf-8", "surrogatepass")
    return str(int(value)).encode()


def bloom_maybe_contains(bloom: bytes, value) -> bool:
    """True unless the bloom REFUTES membership (no false negatives).
    Size comes from the filter itself (adaptive writer sizing)."""
    n_bits = len(bloom) * 8
    h = hashlib.md5(_bloom_key(value)).digest()
    for i in range(_BLOOM_K):
        idx = int.from_bytes(h[i * 4 : (i + 1) * 4], "little") % n_bits
        if not (bloom[idx // 8] >> (idx % 8)) & 1:
            return False
    return True


def chunk_bloom(footer: "Footer", chunk_idx: int, name: str) -> bytes | None:
    """The chunk's string bloom, or None (older files / non-string /
    high-cardinality chunks — extensible-footer key, fully backward
    and forward compatible)."""
    cd = footer.chunks[chunk_idx]["columns"].get(name)
    if not cd or "bloom" not in cd:
        return None
    return base64.b64decode(cd["bloom"])
