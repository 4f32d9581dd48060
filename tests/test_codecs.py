"""Byte-level codec tests (operators/codecs.py): WAV and the MP4 box
walk.

Policy: every decoder is pinned against HAND-COMPUTED known bytes, not
just encoder round-trips, so a matching encoder/decoder bug pair cannot
cancel.
"""

from __future__ import annotations

import struct

import pytest

from arcane_stream_parquet_spark.operators.codecs import (
    encode_wav,
    parse_wav,
    wav_features,
)

# ---------------------------------------------------------------------------
# WAV


def _hand_wav_mono() -> bytes:
    """8 kHz mono 16-bit, 4 samples (100, -200, 300, 0), built by hand."""
    data = struct.pack("<4h", 100, -200, 300, 0)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_parse_hand_bytes():
    w = parse_wav(_hand_wav_mono())
    assert w["sample_rate"] == 8000
    assert w["n_channels"] == 1
    assert w["bits"] == 16
    assert w["n_frames"] == 4
    assert w["samples"] == [100, -200, 300, 0]


def test_wav_features_hand_computed():
    f = wav_features(_hand_wav_mono())
    assert f["duration_micro"] == 4 * 1_000_000 // 8000  # 500 µs
    assert f["peak_abs"] == 300
    assert f["mean_abs_micro"] == (100 + 200 + 300 + 0) * 1_000_000 // 4
    assert f["zero_crossings"] == 2  # +→−, −→+ (trailing 0 transparent)


def test_wav_roundtrip_stereo_and_extra_chunk():
    samples = [(i * 37 - 500) % 2001 - 1000 for i in range(200)]  # 100 frames x 2ch
    b = encode_wav(16000, 2, samples)
    # splice an extra odd-sized LIST chunk between fmt and data: the
    # parser must skip it with word alignment
    fmt_end = b.index(b"data")
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    spliced = b[:fmt_end] + extra + b[fmt_end:]
    w = parse_wav(spliced)
    assert w["n_channels"] == 2 and w["n_frames"] == 100
    assert w["samples"] == samples


def test_wav_8bit_and_rejections():
    b = encode_wav(8000, 1, [0, 128, 255, 64], bits=8)
    w = parse_wav(b)
    assert w["samples"] == [-128, 0, 127, -64]
    non_pcm = bytearray(_hand_wav_mono())
    non_pcm[20] = 3  # IEEE float format tag
    with pytest.raises(ValueError, match="PCM"):
        parse_wav(bytes(non_pcm))
    # a fmt chunk declaring zero channels or a zero sample rate is
    # rejected, not divided by (frame count, duration)
    zero_ch = bytearray(encode_wav(8000, 1, [1, -2, 3, -4]))
    zero_ch[22:24] = b"\x00\x00"  # n_channels
    with pytest.raises(ValueError):
        parse_wav(bytes(zero_ch))
    zero_rate = bytearray(encode_wav(8000, 1, [1, -2, 3, -4]))
    zero_rate[24:28] = b"\x00\x00\x00\x00"  # sample_rate
    with pytest.raises(ValueError):
        wav_features(bytes(zero_rate))


# -- MP4 / ISO BMFF box walk (r6) ----------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(payload) + 8) + typ + payload


def _hand_mp4() -> bytes:
    """An ISO BMFF file built box-by-box BY HAND in the test (not via
    encode_mp4_metadata) so an encoder/decoder bug pair cannot cancel:
    movie timescale 600, duration 1200 (→ 2 s), one video track avc1
    512x288 (16.16 fixed), mdhd timescale 24, duration 48."""
    import struct

    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"              # version 0 + flags
        + b"\x00\x00\x00\x00" * 2          # ctime, mtime
        + struct.pack(">II", 600, 1200)    # timescale, duration
        + b"\x00" * (4 + 2 + 10 + 36 + 24)
        + struct.pack(">I", 2),            # next track id
    )
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"                # version 0 + enabled flags
        + b"\x00\x00\x00\x00" * 2          # ctime, mtime
        + struct.pack(">I", 1)             # track id
        + b"\x00" * 4                      # reserved
        + struct.pack(">I", 1200)          # duration
        + b"\x00" * (8 + 8 + 36)           # reserved/layer/etc + matrix
        + struct.pack(">II", 512 << 16, 288 << 16),
    )
    mdhd = _box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00" * 2
        + struct.pack(">II", 24, 48)       # media timescale, duration
        + b"\x55\xc4\x00\x00",
    )
    hdlr = _box(
        b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"t\x00"
    )
    entry = struct.pack(">I", 16) + b"avc1" + b"\x00" * 8
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", _box(b"stbl", stsd)))
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"mp42")
    return ftyp + _box(b"mdat", b"\xde\xad") + moov


def test_parse_mp4_hand_pinned_boxes():
    from arcane_stream_parquet_spark.operators.codecs import parse_mp4

    m = parse_mp4(_hand_mp4())
    assert m["major_brand"] == "isom"
    assert m["timescale"] == 600
    assert m["duration"] == 1200
    assert m["duration_micro"] == 2_000_000
    assert m["n_tracks"] == 1
    t = m["tracks"][0]
    assert t["handler"] == "vide"
    assert t["codec"] == "avc1"
    assert (t["width"], t["height"]) == (512, 288)
    assert (t["timescale"], t["duration"]) == (24, 48)


def test_parse_mp4_rejects_non_bmff_and_truncation():
    import pytest

    from arcane_stream_parquet_spark.operators.codecs import parse_mp4

    with pytest.raises(ValueError):
        parse_mp4(b"RIFF....AVI ")
    b = _hand_mp4()
    # EVERY proper prefix must raise ValueError (never IndexError /
    # struct.error — the r5 RLE8 bug class): either too short for the
    # ftyp probe, a box size overrunning the buffer, or a complete
    # prefix missing moov/mvhd
    for cut in range(0, len(b), 7):
        with pytest.raises(ValueError):
            parse_mp4(b[:cut])
    # a size field pointing past the buffer must raise, not misread
    import struct

    bad = bytearray(b)
    bad[0:4] = struct.pack(">I", len(b) + 100)
    with pytest.raises(ValueError):
        parse_mp4(bytes(bad))


def test_encode_parse_mp4_roundtrip_multitrack():
    from arcane_stream_parquet_spark.operators.codecs import (
        encode_mp4_metadata,
        parse_mp4,
    )

    tracks = [
        {"handler": "vide", "codec": "avc1", "width": 320, "height": 240,
         "timescale": 90000, "duration": 90},
        {"handler": "soun", "codec": "mp4a", "width": 0, "height": 0,
         "timescale": 48000, "duration": 48},
    ]
    m = parse_mp4(encode_mp4_metadata(777, 1000, tracks))
    assert m["n_tracks"] == 2 and m["duration_micro"] == 777_000
    assert [t["codec"] for t in m["tracks"]] == ["avc1", "mp4a"]
    assert m["tracks"][0]["width"] == 320
