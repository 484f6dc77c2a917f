"""MP4/ISO-BMFF container-metadata probe: hand-crafted spec-conformant
boxes (ISO/IEC 14496-12 §4.2/§8.2/§8.3) as goldens, plus the Spark
mapInPandas plumbing. No frame decode — the probe reads box headers
only; the codec seam still gates decode."""

from __future__ import annotations

import struct

import pytest

from duckdb_vortex_spark.operators.multimodal import _parse_mp4_meta, probe_containers


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype, version, flags, payload):
    return _box(btype, bytes([version]) + flags.to_bytes(3, "big") + payload)


def _trak(handler: bytes, w: int = 0, h: int = 0) -> bytes:
    tkhd = _full(b"tkhd", 0, 7, b"\x00" * 72 + struct.pack(">II", w << 16, h << 16))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + handler + b"\x00" * 12 + b"h\x00")
    return _box(b"trak", tkhd + _box(b"mdia", hdlr))


def make_mp4(duration=90_000, timescale=30_000, w=640, h=360, audio=True, mvhd_v1=False):
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2avc1")
    if mvhd_v1:
        mvhd = _full(
            b"mvhd", 1, 0,
            struct.pack(">QQ", 0, 0) + struct.pack(">I", timescale)
            + struct.pack(">Q", duration) + b"\x00" * 80,
        )
    else:
        mvhd = _full(
            b"mvhd", 0, 0,
            struct.pack(">II", 0, 0) + struct.pack(">II", timescale, duration)
            + b"\x00" * 80,
        )
    traks = _trak(b"vide", w, h) + (_trak(b"soun") if audio else b"")
    moov = _box(b"moov", mvhd + traks)
    return ftyp + moov + _box(b"mdat", b"\x00" * 32)


def test_parse_mp4_v0():
    m = _parse_mp4_meta(make_mp4())
    assert m["container"] == "mp4" and m["brand"] == "isom"
    assert m["duration_s"] == pytest.approx(3.0)
    assert m["n_tracks"] == 2 and m["has_video"] and m["has_audio"]
    assert (m["width"], m["height"]) == (640, 360)


def test_parse_mp4_v1_and_video_only():
    m = _parse_mp4_meta(
        make_mp4(duration=600_000, timescale=100_000, w=1920, h=1080,
                 audio=False, mvhd_v1=True)
    )
    assert m["duration_s"] == pytest.approx(6.0)
    assert m["n_tracks"] == 1 and m["has_video"] and not m["has_audio"]
    assert (m["width"], m["height"]) == (1920, 1080)


def test_parse_rejects_non_bmff():
    with pytest.raises(ValueError):
        _parse_mp4_meta(b"RIFF....WAVE" + b"\x00" * 20)


def test_truncated_box_stops_cleanly():
    payload = make_mp4()
    m = _parse_mp4_meta(payload[: len(payload) - 40])  # cut inside mdat
    assert m["container"] == "mp4"  # moov fully parsed before the cut


def test_probe_containers_spark(spark):
    rows = [
        (1, bytearray(make_mp4())),
        (2, bytearray(make_mp4(audio=False, w=320, h=240))),
        (3, bytearray(b"not a container at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in probe_containers(df).collect()}
    assert got[1].has_audio and got[1].width == 640
    assert not got[2].has_audio and got[2].width == 320
    assert got[3].container is None  # unparseable -> null row, no crash


# --- pointer-table media fetch over RANGED object-store reads --------------


def test_pointer_table_fetches_only_sampled_ranges(spark):
    """SURVEY §2C 'pointer-style for 100 TB', closed end-to-end
    (VERDICT r8 #8): media packed into ONE shard object on the
    in-process S3 server, a (path, offset, length) pointer table, and
    `fetch_media_ranges` → `extract_features` over Spark. The server's
    GET audit must show exactly one RANGED get per pointer — the
    sampled byte ranges — and never a full-shard read; features must
    equal decoding the same payloads locally."""
    from duckdb_vortex_spark.operators.multimodal import (
        _decode_payload,
        extract_features,
        fetch_media_ranges,
    )
    from duckdb_vortex_spark.sources.object_store import S3FS
    from duckdb_vortex_spark.sources.s3_memserver import start_memserver

    from .test_multimodal_codecs import make_bmp, make_gif

    access, secret = "AKIDEXAMPLE", "sk-ranged-test"
    srv, endpoint = start_memserver(access, secret)
    srv.RequestHandlerClass.get_log = log = []
    srv.RequestHandlerClass.head_log = heads = []
    try:
        # a packed shard: junk padding between payloads so a
        # wrong-offset read cannot accidentally parse
        payloads = {
            1: ("image/bmp", make_bmp([[(10, 20, 30), (40, 50, 60)]])),
            2: ("image/bmp", make_bmp([[(0, 0, 0)], [(255, 255, 255)]])),
            3: (
                "image/gif",
                make_gif(
                    [bytes([0, 1, 2, 3]), bytes([3, 2, 1, 0])],
                    [(i, i, i) for i in range(4)],
                    2,
                    2,
                ),
            ),
        }
        shard, pointers = b"", []
        for doc_id, (mt, body) in sorted(payloads.items()):
            shard += b"\xde\xad" * 8  # padding
            pointers.append((doc_id, mt, len(body), "s3://media/shard-0000", len(shard), len(body)))
            shard += body
        shard += b"\xbe\xef" * 8
        fs = S3FS(endpoint, access, secret)
        with fs.open("s3://media/shard-0000", "wb") as f:
            f.write(shard)
        log.clear()  # count only the fetch stage's GETs
        heads.clear()  # ... and its HEADs (must be zero — ADVICE r9)

        # a zero-length pointer must cost ZERO object reads (an
        # invalid range spec would make RFC-7233 servers return the
        # whole shard) — guard pinned alongside the happy path;
        # likewise a NEGATIVE offset, whose malformed 'bytes=-5-4'
        # range real S3 would ignore and answer with the full shard
        # (ADVICE r9)
        pointers.append((99, "fake/raw", 0, "s3://media/shard-0000", 4, 0))
        pointers.append((98, "fake/raw", 4, "s3://media/shard-0000", -5, 10))
        ptr = spark.createDataFrame(
            pointers,
            "doc_id bigint, media_type string, n_bytes bigint, "
            "path string, offset bigint, length bigint",
        )
        fetched = fetch_media_ranges(ptr, endpoint, access, secret)
        feats = {
            r["doc_id"]: r.asDict() for r in extract_features(fetched).collect()
        }

        for doc_id, (mt, body) in payloads.items():
            want = _decode_payload(mt, body)
            got = feats[doc_id]
            for k, v in want.items():
                g = got[k]
                if isinstance(v, float):
                    assert abs(g - v) < 1e-9, (doc_id, k)
                else:
                    assert g == v, (doc_id, k)
        assert feats[3]["n_frames"] == 2  # the GIF frame-sample leg

        assert feats[99]["width"] is None  # empty payload -> no features
        assert feats[98]["width"] is None  # negative offset -> no fetch

        # the ranged-read contract: one GET per valid pointer, each
        # asking for exactly the sampled byte range; nothing
        # full-object; the zero-length and negative-offset rows cost
        # no request at all; and ZERO size HEADs anywhere (the lazy
        # readable file never needs one on the seek+read(n) path)
        real = [p for p in pointers if p[5] > 0 and p[4] >= 0]
        assert len(log) == len(real), log
        want_ranges = {
            f"bytes={off}-{off + ln - 1}" for (_, _, _, _, off, ln) in real
        }
        assert {rng for (_k, rng, _n) in log} == want_ranges
        assert all(k == "shard-0000" for (k, _r, _n) in log)
        assert sum(n for (_k, _r, n) in log) == sum(
            ln for (_, _, _, _, _, ln) in real
        ) < len(shard)
        assert heads == [], f"pointer fetch must cost zero HEADs: {heads}"
    finally:
        srv.shutdown()
        srv.server_close()
