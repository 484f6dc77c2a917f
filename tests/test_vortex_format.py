"""Unit tests for the ``.vortex`` container codec itself
(duckdb_vortex_spark/sources/vortex_format.py): encoding selection,
lossless round-trip per encoder, FSST/ALP internals, zone-map stats
fidelity, corruption detection, and object-store scheme routing (A3).
These run below Spark — pure pyarrow/numpy — so they pin the format
independent of the DataSource plumbing."""

from __future__ import annotations

import datetime
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_vortex_spark.sources import vortex_format as vf

from .conftest import SF_DIR


def _roundtrip_column(arr: pa.Array) -> tuple[str, pa.Array]:
    cc = vf.encode_column(arr)
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    return cc.enc, back


@pytest.mark.parametrize(
    "data,typ,want_enc",
    [
        (list(range(1000)), pa.int64(), "bitpack"),
        ([7] * 100, pa.int64(), "ree"),  # constant → single run-end pair
        ([-(2**63), 2**63 - 1, 0], pa.int64(), "bitpack"),  # full span (modular FoR)
        ([True, False] * 50, pa.bool_(), "bool"),
        ([round(x * 0.25, 2) for x in range(1000)], pa.float64(), "alp"),
        ([f"cat_{i % 4}" for i in range(1000)], pa.utf8(), "str_dict"),
        ([b"\x00\xffraw" * 3] * 20, pa.binary(), "binary"),
    ],
)
def test_encoding_selection_and_roundtrip(data, typ, want_enc):
    arr = pa.array(data, type=typ)
    enc, back = _roundtrip_column(arr)
    assert enc == want_enc
    assert back.equals(arr.cast(back.type)) or back.cast(typ).equals(arr)


def test_alp_exception_patching():
    """NaN/Inf and non-decimal doubles ride as positional exceptions
    inside an otherwise-ALP chunk; bit-exact on decode."""
    vals = [round(x * 0.5, 1) for x in range(100)]
    vals[3] = float("nan")
    vals[17] = float("inf")
    vals[42] = 0.1 + 0.2  # 0.30000000000000004 — not a short decimal
    arr = pa.array(vals, type=pa.float64())
    enc, back = _roundtrip_column(arr)
    assert enc == "alp"
    a = np.asarray(arr).view(np.uint64)
    b = np.asarray(back).view(np.uint64)
    assert np.array_equal(a, b)  # bitwise equality, NaN included


def test_alp_falls_back_when_mostly_exceptions():
    rng = np.random.default_rng(7)
    arr = pa.array(rng.normal(size=500))  # full-precision doubles
    enc, back = _roundtrip_column(arr)
    assert enc == "flat_float"
    assert np.array_equal(np.asarray(arr).view(np.uint64), np.asarray(back).view(np.uint64))


def test_alp_sampled_screen_large_chunks():
    """r15 perf: chunks of >= 4096 values hit the strided-sample
    reject pre-screen before the exact exponent search. The screen
    must (a) reject full-precision chunks fast, (b) fall through to
    the UNCHANGED exact search for clean-decimal chunks, and (c) not
    accept what the full search rejects in the 25–50 % ok-rate band
    (screen passes there, the exact n_exc > n//2 rule still decides)."""
    rng = np.random.default_rng(42)
    n = 20000
    noise = rng.normal(size=n)  # (a) full-precision: reject via screen
    enc, back = _roundtrip_column(pa.array(noise))
    assert enc == "flat_float"
    assert np.array_equal(
        np.asarray(pa.array(noise)).view(np.uint64), np.asarray(back).view(np.uint64)
    )
    clean = np.round(rng.uniform(-100, 100, n), 2)  # (b) 2-decimal: accept
    arr = pa.array(clean)
    enc, back = _roundtrip_column(arr)
    assert enc == "alp"
    # value equality, not bitwise: ALP canonicalizes -0.0 to +0.0 (the
    # ok-check compares 0.0 == -0.0 true) — pre-existing codec behavior
    assert np.array_equal(np.asarray(arr), np.asarray(back))
    # (c) 40 % clean / 60 % noise, interleaved so the strided sample
    # sees the true mix: screen rate ~0.4 >= 0.25 -> full search runs
    # and rejects (best_n < n/2), same as the pre-screen encoder
    mixed = noise.copy()
    mixed[::5] = clean[::5]
    mixed[1::5] = clean[1::5]
    arr = pa.array(mixed)
    enc, back = _roundtrip_column(arr)
    assert enc == "flat_float"
    assert np.array_equal(np.asarray(arr).view(np.uint64), np.asarray(back).view(np.uint64))
    # 60 % clean / 40 % noise: full search accepts with exceptions
    mixed2 = clean.copy()
    mixed2[::3] = noise[::3]
    arr = pa.array(mixed2)
    enc, back = _roundtrip_column(arr)
    assert enc == "alp"
    assert np.array_equal(np.asarray(arr), np.asarray(back))


def test_cascade_probe_skips_incompressible_large_buffers():
    """r15 perf: buffers > 256 KiB get a 64 KiB zlib probe first;
    incompressible float payloads store raw (no z flag) without
    paying a full-buffer compress, while compressible ones still get
    the exact full-buffer decision."""
    rng = np.random.default_rng(3)
    arr = pa.array(rng.normal(size=65536))  # 512 KiB of random mantissas
    cc = vf.encode_column(arr)
    assert cc.enc == "flat_float"
    assert "z" not in cc.meta
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    assert np.array_equal(np.asarray(arr).view(np.uint64), np.asarray(back).view(np.uint64))
    # repeating full-precision block: flat_float, 625 KiB, highly
    # compressible -> the probe passes it through to the full compress
    comp = pa.array(np.tile(rng.normal(size=1000), 80))
    cc2 = vf.encode_column(comp)
    assert cc2.enc == "flat_float"
    assert cc2.meta.get("z") == 1
    back2 = vf.decode_column(cc2.enc, cc2.meta, cc2.buf, len(comp), comp.type)
    assert back2.equals(comp)


def test_fsst_symbol_roundtrip():
    payload = b"http://example.com/page/1;http://example.com/page/2;" * 50
    symbols = vf.fsst_train(payload)
    assert symbols  # repeated substrings must yield symbols
    encoded = vf.fsst_encode(payload, symbols)
    assert len(encoded) < len(payload) * 0.8  # real compression
    assert vf.fsst_decode(encoded, symbols) == payload


def test_fsst_escape_handles_code_collisions():
    """Bytes equal to symbol codes / the escape byte itself survive."""
    payload = bytes(range(256)) * 4 + b"abcabcabc" * 30
    symbols = vf.fsst_train(payload)
    assert vf.fsst_decode(vf.fsst_encode(payload, symbols), payload and symbols) == payload


def _fsst_train_loop(sample: bytes, max_symbols: int = 254) -> list[bytes]:
    """The original one-substring-at-a-time trainer, kept as the
    reference the vectorized ``fsst_train`` must match byte for byte."""
    if not sample:
        return []
    counts: Counter[bytes] = Counter()
    for ln in (2, 3, 4, 6, 8):
        for i in range(0, len(sample) - ln + 1):
            counts[sample[i : i + ln]] += 1
    scored = sorted(
        ((cnt * (len(s) - 1), s) for s, cnt in counts.items() if cnt >= 4),
        key=lambda t: (-t[0], t[1]),
    )
    return [s for _gain, s in scored[:max_symbols]]


def _fsst_payloads() -> list[bytes]:
    texts = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=["text"])
    rng = np.random.default_rng(20261017)
    return [
        # a documents.text chunk column's payload, sampled as the writer does
        "".join(texts.column("text").to_pylist()).encode()[: 1 << 16],
        b"http://example.com/page/1;http://example.com/page/2;" * 50,
        bytes(range(256)) * 4 + b"abcabcabc" * 30,
        "".join(f"Value {i} the quick brown fox jumps over" for i in range(2000)).encode()[
            : 1 << 16
        ],
        rng.integers(0, 256, 5000, dtype=np.uint8).tobytes(),
        rng.integers(0, 4, 1 << 16, dtype=np.uint8).tobytes(),  # many gain ties
        rng.integers(97, 100, 300, dtype=np.uint8).tobytes(),
        b"",
        b"aaaa",
        b"abababababab",
    ]


@pytest.mark.parametrize("case", range(len(_fsst_payloads())))
def test_fsst_train_matches_reference_loop(case):
    """Same symbol table, in the same order, as the reference loop, so
    ``fsst_encode`` writes the same bytes."""
    payload = _fsst_payloads()[case]
    symbols = vf.fsst_train(payload)
    assert symbols == _fsst_train_loop(payload)
    assert vf.fsst_encode(payload, symbols) == vf.fsst_encode(
        payload, _fsst_train_loop(payload)
    )
    assert vf.fsst_train(payload, max_symbols=7) == _fsst_train_loop(payload, 7)


def test_string_fsst_selected_for_compressible_high_cardinality():
    arr = pa.array([f"Value {i} the quick brown fox jumps over" for i in range(2000)])
    enc, back = _roundtrip_column(arr)
    assert enc == "str_fsst"
    assert back.equals(arr)


def test_nulls_validity_bitmap_roundtrip():
    arr = pa.array([None if i % 3 == 0 else i for i in range(100)], type=pa.int64())
    enc, back = _roundtrip_column(arr)
    assert enc == "bitpack"
    assert back.equals(arr)
    assert back.null_count == arr.null_count


def test_file_roundtrip_and_zone_maps(tmp_path):
    n = 1000
    tbl = pa.table(
        {
            "k": pa.array(range(n)),
            "ts": pa.array(
                [datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=i) for i in range(n)],
                type=pa.timestamp("us"),
            ),
            "s": pa.array([f"row-{i:05d}" for i in range(n)]),
        }
    )
    p = str(tmp_path / "zm.vortex")
    w = vf.VortexFileWriter(p, tbl.schema)
    w.write_table(tbl, row_group_size=100)
    w.close()
    ft = vf.read_footer(p)
    assert ft.n_rows == n and len(ft.chunks) == 10
    # zone maps are exact per chunk, with µs-exact temporal values
    mn, mx, nc = vf.chunk_stats(ft, 3, "k")
    assert (mn, mx, nc) == (300, 399, 0)
    mn, mx, _ = vf.chunk_stats(ft, 3, "ts")
    assert mn == datetime.datetime(2025, 1, 1, 0, 5, 0)
    assert mx == datetime.datetime(2025, 1, 1, 0, 6, 39)
    # projection decode reads only requested columns
    part = vf.read_chunk(p, ft, 3, ["s"])
    assert part.column_names == ["s"] and part.num_rows == 100
    assert part.column("s")[0].as_py() == "row-00300"


def test_bad_magic_rejected(tmp_path):
    p = str(tmp_path / "not.vortex")
    with open(p, "wb") as f:
        f.write(b"PAR1not a vortex file")
    with pytest.raises(ValueError, match="magic"):
        vf.read_footer(p)


def test_truncated_trailer_rejected(tmp_path):
    tbl = pa.table({"x": pa.array([1, 2, 3])})
    p = str(tmp_path / "trunc.vortex")
    w = vf.VortexFileWriter(p, tbl.schema)
    w.write_table(tbl)
    w.close()
    data = open(p, "rb").read()
    with open(p, "wb") as f:
        f.write(data[:-3])
    with pytest.raises(ValueError, match="trailer|magic"):
        vf.read_footer(p)


class _ShimFS:
    """Object-store shim (A3): maps s3a://bucket/key onto a local dir —
    pins the URI-routing branch the production path would hand to a
    Hadoop-compatible store."""

    def __init__(self, root: str):
        self.root = root

    def _local(self, path: str) -> str:
        return os.path.join(self.root, path.split("://", 1)[1])

    def open(self, path: str, mode: str):
        local = self._local(path)
        if mode.startswith("w"):
            os.makedirs(os.path.dirname(local), exist_ok=True)
        return open(local, mode)

    def glob(self, pattern: str):
        import glob as g

        scheme = pattern.split("://", 1)[0]
        hits = sorted(g.glob(self._local(pattern)))
        return [f"{scheme}://" + os.path.relpath(h, self.root) for h in hits]

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._local(path))

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def remove(self, path: str) -> None:
        os.remove(self._local(path))


def test_object_store_scheme_routing(tmp_path):
    vf.register_filesystem("s3a", _ShimFS(str(tmp_path)))
    tbl = pa.table({"x": pa.array(range(50))})
    uri = "s3a://bucket/data/part-0.vortex"
    w = vf.VortexFileWriter(uri, tbl.schema)
    w.write_table(tbl)
    w.close()
    assert os.path.exists(tmp_path / "bucket/data/part-0.vortex")
    ft = vf.read_footer(uri)
    assert ft.n_rows == 50
    back = vf.read_chunk(uri, ft, 0, ["x"])
    assert back.column("x").to_pylist() == list(range(50))


def test_unregistered_scheme_errors_clearly():
    with pytest.raises(NotImplementedError, match="no filesystem registered"):
        vf.read_footer("gs://bucket/file.vortex")


def test_cascade_applies_to_compressible_buffers():
    arr = pa.array([f"padding-{i % 2}-" + "x" * 100 for i in range(5000)])
    cc = vf.encode_column(arr)
    raw = sum(len(s.encode()) for s in arr.to_pylist())
    assert len(cc.buf) < raw / 4  # dict/fsst + zlib cascade stack up


def test_delta_encoding_for_sorted_ints():
    """Sorted keys (write_sorted layout) pack as deltas at a fraction
    of the plain-FoR width; round-trip exact, including timestamps."""
    arr = pa.array(range(1_000_000, 1_010_000))  # dense sorted: deltas = 1
    cc = vf.encode_column(arr)
    assert cc.meta.get("delta") and cc.meta["width"] <= 1
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    assert back.equals(arr)
    # irregular gaps, still sorted
    vals = np.cumsum(np.abs(np.random.default_rng(3).integers(0, 50, 5000))) + 10**15
    arr2 = pa.array(vals)
    cc2 = vf.encode_column(arr2)
    assert cc2.meta.get("delta")
    back2 = vf.decode_column(cc2.enc, cc2.meta, cc2.buf, len(arr2), arr2.type)
    assert back2.equals(arr2)


def test_delta_not_chosen_for_random_ints():
    rng = np.random.default_rng(5)
    arr = pa.array(rng.integers(0, 2**40, 5000))
    cc = vf.encode_column(arr)
    assert not cc.meta.get("delta")  # deltas span wider than values
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    assert back.equals(arr)


def test_delta_extreme_span_roundtrip():
    """Modular uint64 delta arithmetic survives full-int64-span jumps."""
    arr = pa.array([-(2**63), 2**63 - 1, 0, -1, 2**62], type=pa.int64())
    cc = vf.encode_column(arr)
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    assert back.equals(arr)


# --- per-chunk string bloom filters ----------------------------------------


class TestStringBloom:
    def test_bloom_build_and_probe(self):
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vfmt

        arr = pa.array(["alpha", "beta", "gamma", None])
        bloom = vfmt.bloom_build(arr)
        assert bloom is not None and len(bloom) == 256
        for v in ("alpha", "beta", "gamma"):
            assert vfmt.bloom_maybe_contains(bloom, v)
        # 1000 random absent keys: false-positive rate must be tiny at
        # 3 keys / 2048 bits (expected ~0 of 1000)
        fps = sum(vfmt.bloom_maybe_contains(bloom, f"absent-{i}") for i in range(1000))
        assert fps <= 5, fps

    def test_bloom_skipped_for_high_cardinality_and_unsupported(self):
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vfmt

        # ints are bloom-eligible since round 3 (adaptive sizing)
        assert vfmt.bloom_build(pa.array(list(range(100)))) is not None
        assert vfmt.bloom_build(pa.array([1.5, 2.5])) is None  # floats: no point predicates worth a bloom
        wide = pa.array([f"v{i}" for i in range(5000)])
        assert vfmt.bloom_build(wide) is None

    def test_equality_prunes_chunks_where_minmax_cannot(self, spark, tmp_path):
        """Two chunks whose [min, max] both span 'aaa'..'zzz' (zone map
        useless for equality) but with disjoint membership: the bloom
        prunes the non-matching chunk AND fully prunes absent keys."""
        from pyspark.sql.datasource import EqualTo, In

        from duckdb_vortex_spark.sources.vortex import VortexReader, register

        register(spark)
        # chunk 1: aaa, m01..m98, zzz ; chunk 2: aaa2.., n01..n98, zzz2..
        rows = (["aaa"] + [f"m{i:02d}" for i in range(99)] + ["zzz"]
                + ["aab"] + [f"n{i:02d}" for i in range(99)] + ["zzy"])
        df = spark.createDataFrame([(v,) for v in rows], "s string").coalesce(1)
        path = str(tmp_path / "bloom.vortex")
        df.write.format("vortex").mode("append").option("chunk_rows", 101).save(path)

        def surviving(pushed):
            r = VortexReader({"path": path}, spark.read.format("vortex").load(path).schema)
            r.pushed = pushed
            # chunk_idx -1 is the sentinel "valid empty scan" partition
            return [p for p in r.partitions() if p.row_group >= 0]

        total = len(surviving([]))
        assert total >= 2  # at least the two constructed chunks
        assert len(surviving([EqualTo(("s",), "m42")])) < total  # other chunk refuted
        assert surviving([EqualTo(("s",), "qqq")]) == []      # absent everywhere
        assert surviving([In(("s",), ("qqq", "rrr"))]) == []  # all-absent IN
        assert len(surviving([In(("s",), ("qqq", "n42"))])) >= 1  # one present value
        # correctness: results identical to parquet-side evaluation
        got = spark.read.format("vortex").load(path).filter("s = 'm42'").count()
        assert got == 1

    def test_old_footers_without_bloom_still_read(self, spark, tmp_path):
        """Forward/backward compatibility: the bloom is an extensible
        footer key — a footer written without it reads fine and simply
        skips bloom pruning."""
        import json

        from duckdb_vortex_spark.sources import vortex_format as vfmt
        from duckdb_vortex_spark.sources.vortex import register

        register(spark)
        path = str(tmp_path / "nobloom.vortex")
        spark.createDataFrame([("x",), ("y",)], "s string").coalesce(1).write.format(
            "vortex"
        ).mode("append").save(path)
        # strip the bloom keys in-place (simulating an older writer)
        import glob as g
        for f in g.glob(path + "/*.vortex") or [path]:
            footer = vfmt.read_footer(f)
            for ch in footer.chunks:
                for cd in ch["columns"].values():
                    cd.pop("bloom", None)
            assert vfmt.chunk_bloom(footer, 0, "s") is None
        got = spark.read.format("vortex").load(path).filter("s = 'x'").count()
        assert got == 1


class TestRunEndEncoding:
    def test_run_heavy_ints_choose_ree_and_roundtrip(self):
        import numpy as np
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        vals = np.repeat(np.arange(50, dtype=np.int64) * 1000, 100)  # 50 runs × 100
        arr = pa.array(vals)
        cc = vf.encode_column(arr)
        assert cc.enc == "ree"
        back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
        assert back.equals(arr)
        # the run representation must beat plain bitpack on size
        flat = vf._pack_ints(vals)[1]
        assert len(cc.buf) < len(flat)

    def test_day_truncated_timestamps_roundtrip_ree(self):
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        day_us = 86_400_000_000
        ts = [1_700_000_000_000_000 + (i // 200) * day_us for i in range(1000)]
        arr = pa.array(ts, type=pa.timestamp("us"))
        cc = vf.encode_column(arr)
        assert cc.enc == "ree"
        back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
        assert back.equals(arr)

    def test_high_cardinality_ints_stay_bitpack(self):
        import numpy as np
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        arr = pa.array(np.arange(1000, dtype=np.int64) * 7 + 3)
        cc = vf.encode_column(arr)
        assert cc.enc == "bitpack"  # no runs → REE must not fire

    def test_ree_single_run_constant_column(self):
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        arr = pa.array([42] * 500, type=pa.int32())
        cc = vf.encode_column(arr)
        assert cc.enc == "ree" and cc.meta["n_runs"] == 1
        back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
        assert back.equals(arr)


class TestIntBloom:
    def test_int_bloom_refutes_absent_key(self, tmp_path):
        """Sparse int keys: a chunk holding only even ids must refute
        an odd-id equality from the footer bloom alone (min/max spans
        it, so zone maps cannot)."""
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        evens = pa.array(list(range(0, 8000, 2)), type=pa.int64())
        bloom = vf.bloom_build(evens)
        assert bloom is not None
        hits = sum(1 for v in range(1, 8000, 2) if vf.bloom_maybe_contains(bloom, v))
        assert hits < 4000 * 0.05  # FP rate well under 5% at this fill
        assert all(vf.bloom_maybe_contains(bloom, v) for v in range(0, 8000, 2))

    def test_int_bloom_prunes_chunks_through_reader(self, spark, tmp_path):
        from pyspark.sql.datasource import EqualTo

        from duckdb_vortex_spark.sources.vortex import VortexReader

        # two chunks: ids 0..999 even-only, 1000..1999 odd-only —
        # a point lookup for an even id in the odd range must prune
        df = spark.createDataFrame(
            [(i,) for i in range(0, 1000, 2)] + [(i,) for i in range(1001, 2000, 2)],
            "id bigint",
        )
        path = str(tmp_path / "ib.vortex")
        df.coalesce(1).sortWithinPartitions("id").write.format("vortex").mode(
            "append"
        ).option("chunk_rows", 500).save(path)
        back = spark.read.format("vortex").load(path)
        r = VortexReader({"path": path}, back.schema)
        r.pushed = [EqualTo(("id",), 1000)]  # even id inside the odd chunk's span
        parts = r.partitions()  # bloom refutes both chunks → empty-scan sentinel
        assert len(parts) == 1 and parts[0].row_group == -1
        r2 = VortexReader({"path": path}, back.schema)
        r2.pushed = [EqualTo(("id",), 1001)]
        parts2 = r2.partitions()
        assert len(parts2) == 1 and parts2[0].row_group == 1


class TestChunkCrc:
    def test_corrupted_page_detected_at_column(self, tmp_path):
        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        tbl = pa.table({"x": pa.array(range(1000)), "s": pa.array([f"r{i}" for i in range(1000)])})
        p = str(tmp_path / "crc.vortex")
        w = vf.VortexFileWriter(p, tbl.schema)
        w.write_table(tbl, row_group_size=500)
        w.close()
        ft = vf.read_footer(p)
        # flip one byte inside chunk 1's 's' page (strings: big buffer)
        cd = ft.chunks[1]["columns"]["s"]
        assert cd["len"] > 8
        data = bytearray(open(p, "rb").read())
        data[cd["off"] + cd["len"] // 2] ^= 0xFF
        open(p, "wb").write(bytes(data))
        ft2 = vf.read_footer(p)
        assert vf.read_chunk(p, ft2, 0, ["s"]).num_rows == 500  # clean chunk fine
        import pytest as _pytest

        with _pytest.raises(ValueError, match="CRC mismatch.*column 's'"):
            vf.read_chunk(p, ft2, 1, ["s"])
        assert vf.read_chunk(p, ft2, 1, ["x"]).num_rows == 500  # other column fine

    def test_older_files_without_crc_still_read(self, tmp_path):
        import json

        import pyarrow as pa

        from duckdb_vortex_spark.sources import vortex_format as vf

        tbl = pa.table({"x": pa.array(range(100))})
        p = str(tmp_path / "old.vortex")
        w = vf.VortexFileWriter(p, tbl.schema)
        w.write_table(tbl)
        w.close()
        # strip the crc keys, rewriting the footer (simulates a
        # pre-crc writer)
        data = open(p, "rb").read()
        flen, magic = vf._TRAILER.unpack(data[-vf._TRAILER.size :])
        footer = json.loads(data[-(vf._TRAILER.size + flen) : -vf._TRAILER.size])
        for ch in footer["chunks"]:
            for cd in ch["columns"].values():
                cd.pop("crc", None)
        payload = json.dumps(footer).encode()
        body = data[: -(vf._TRAILER.size + flen)]
        open(p, "wb").write(body + payload + vf._TRAILER.pack(len(payload), vf.MAGIC))
        ft = vf.read_footer(p)
        assert vf.read_chunk(p, ft, 0, ["x"]).column("x").to_pylist() == list(range(100))


def test_alp_screen_periodic_stride_aligned_not_false_rejected():
    """r16 (ADVICE r15): the reject pre-screen samples TWO co-prime
    strides (k and k+1), so periodic data whose clean-decimal values
    align with a single stride cannot hide. Adversarial fixture: with
    n = 8192 the primary stride is k = 8; make every k-th element
    (exactly the single-stride sample positions) full-precision noise
    and everything else clean 2-decimal values — 7/8 clean overall, so
    the exact search must ACCEPT, while a head-stride-only screen saw
    0 %% clean and silently demoted the chunk to flat_float
    (compression-ratio loss, the tests' blind spot the r15 advisory
    named)."""
    rng = np.random.default_rng(11)
    n = 8192
    clean = np.round(rng.uniform(-100, 100, n), 2)
    mixed = clean.copy()
    mixed[::8] = rng.normal(size=mixed[::8].size)  # poison stride-k positions
    arr = pa.array(mixed)
    enc, back = _roundtrip_column(arr)
    assert enc == "alp"
    assert np.array_equal(np.asarray(arr), np.asarray(back))


def test_cascade_probe_catches_compressible_tail():
    """r16 (ADVICE r15): the zlib probe reads head + middle + tail, so
    a > 256 KiB buffer whose head is incompressible but whose tail
    compresses well is no longer stored raw. Fixture: 256 KiB of
    random mantissas followed by 384 KiB of a repeating block — the
    old head-only probe skipped compression for the whole buffer."""
    rng = np.random.default_rng(5)
    head = rng.normal(size=32768)                  # 256 KiB random
    tail = np.tile(rng.normal(size=256), 192)      # 384 KiB repeating
    arr = pa.array(np.concatenate([head, tail]))
    cc = vf.encode_column(arr)
    assert cc.enc == "flat_float"
    assert cc.meta.get("z") == 1, "compressible tail must not be skipped"
    back = vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)
    assert np.array_equal(np.asarray(arr).view(np.uint64), np.asarray(back).view(np.uint64))
