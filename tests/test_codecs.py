"""Byte-level codec tests (operators/codecs.py): BMP, LZW, WAV and the MP4
box walk.

Policy: every decoder is pinned against HAND-COMPUTED known bytes, not
just encoder round-trips, so a matching encoder/decoder bug pair cannot
cancel.
"""

from __future__ import annotations

import struct

import pytest

from arcane_stream_parquet_spark.operators.codecs import (
    decode_bmp_pixels,
    encode_bmp,
    encode_wav,
    lzw_decode,
    lzw_encode,
    parse_wav,
    wav_features,
)

# ---------------------------------------------------------------------------
# BMP


def _hand_bmp_2x2() -> bytes:
    """A 2x2 24-bit bottom-up BMP built field-by-field BY HAND.
    Logical image (top row first): (255,0,0) (0,255,0) / (0,0,255)
    (10,20,30). Bottom-up storage → file rows are logical rows
    reversed; pixels stored BGR; stride 6 padded to 8."""
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + 16, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 0, 0, 0, 0)
    bottom_row = bytes([255, 0, 0, 30, 20, 10]) + b"\x00\x00"  # logical row 1
    top_row = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"  # logical row 0
    return header + info + bottom_row + top_row


def test_bmp_decode_hand_bytes():
    w, h, nch, rgb = decode_bmp_pixels(_hand_bmp_2x2())
    assert (w, h, nch) == (2, 2, 3)
    assert rgb == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])


def test_bmp_roundtrip_both_orientations():
    rgb = bytes(range(5 * 3 * 3))  # 5x3
    for top_down in (False, True):
        out = decode_bmp_pixels(encode_bmp(5, 3, rgb, top_down=top_down))
        assert out == (5, 3, 3, rgb)


def test_bmp_32bit_hand_bytes():
    # 1x1 top-down 32-bit: stored BGRA = (4, 3, 2, 9) → RGBA (2, 3, 4, 9)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + 4, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, -1, 1, 32, 0, 4, 0, 0, 0, 0)
    w, h, nch, rgba = decode_bmp_pixels(header + info + bytes([4, 3, 2, 9]))
    assert (w, h, nch) == (1, 1, 4)
    assert rgba == bytes([2, 3, 4, 9])


def test_bmp_rejects_unsupported_variants():
    header = struct.pack("<2sIHHI", b"BM", 70, 0, 0, 54)
    # RLE on non-8-bit depth
    rle24 = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 1, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="RLE8 requires 8-bit"):
        decode_bmp_pixels(header + rle24 + b"\x00" * 16)
    # RLE on a mismatched depth (RLE4 header claiming 8-bit)
    rle4_8 = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 2, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="RLE4 requires 4-bit"):
        decode_bmp_pixels(header + rle4_8 + b"\x00" * 16)
    # bitfields are real as of r6, but all-zero masks stay an honest
    # bound (and unknown compressions still raise)
    bf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 3, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="mask is zero"):
        decode_bmp_pixels(header + bf + b"\x00" * 16)
    jpg = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 4, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="compression"):
        decode_bmp_pixels(header + jpg + b"\x00" * 16)
    # paletted with no room for a color table (offset == header end)
    pal8 = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="no color table"):
        decode_bmp_pixels(header + pal8 + b"\x00" * 16)


def _bmp_hdr(offset, width, height, bpp, compression, clr_used=0):
    header = struct.pack("<2sIHHI", b"BM", 0, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression, 0, 0, 0,
        clr_used, 0,
    )
    return header + info


def test_bmp_paletted_8bit_hand_bytes():
    """2x2 8-bit paletted bottom-up: indices through a 3-entry BGRA
    table, rows padded to 4 bytes."""
    pal = bytes([30, 20, 10, 0,  60, 50, 40, 0,  90, 80, 70, 0])  # BGRA
    offset = 54 + len(pal)
    rows = bytes([2, 1, 0, 0]) + bytes([0, 1, 0, 0])  # bottom, then top
    b = _bmp_hdr(offset, 2, 2, 8, 0, clr_used=3) + pal + rows
    assert decode_bmp_pixels(b) == (
        2, 2, 3,
        bytes([10, 20, 30, 40, 50, 60,   # top row: idx 0, 1
              70, 80, 90, 40, 50, 60]),  # bottom row: idx 2, 1
    )
    bad = _bmp_hdr(offset, 2, 2, 8, 0, clr_used=3) + pal + bytes([9, 0, 0, 0]) * 2
    with pytest.raises(ValueError, match="outside"):
        decode_bmp_pixels(bad)


def test_bmp_paletted_4bit_and_1bit_packing():
    """MSB-first sub-byte packing: 4-bit 3x1 uses nibbles high-first;
    1-bit 10x1 uses bits high-first across two bytes."""
    pal = bytes([0, 0, 1, 0,  0, 0, 2, 0])  # colors: R=1, R=2 (BGRA)
    offset = 54 + len(pal)
    # 4-bit, 3 px: nibbles 1,0,1 -> bytes 0x10 0x10, padded to 4
    b4 = _bmp_hdr(offset, 3, 1, 4, 0, clr_used=2) + pal + bytes([0x10, 0x10, 0, 0])
    w, h, ch, s = decode_bmp_pixels(b4)
    assert (w, h, ch) == (3, 1, 3)
    assert s[0::3] == bytes([2, 1, 2])  # R channel per pixel
    # 1-bit, 10 px: 1011001011 -> 0xB2 0xC0, stride pads to 4
    b1 = _bmp_hdr(offset, 10, 1, 1, 0, clr_used=2) + pal + bytes([0xB2, 0xC0, 0, 0])
    w, h, ch, s = decode_bmp_pixels(b1)
    assert s[0::3] == bytes([2, 1, 2, 2, 1, 1, 2, 1, 2, 2])


def test_bmp_rle8_hand_bytes():
    """RLE8 with every escape: a run, absolute mode (odd length, word
    pad), a position delta, end-of-line, end-of-bitmap."""
    pal = bytes(
        bytes([i, i, i, 0]) for i in range(0, 0)
    ) or b"".join(bytes([i, i, i, 0]) for i in range(8))
    offset = 54 + len(pal)
    # 4x2 image, bottom-up. Bottom row: run of 3 x idx5, then 1 x idx7.
    # EOL. Top row: absolute mode 3 bytes [1,2,3] (padded), delta (1,0)
    # skips the last pixel (stays 0), EOB.
    rle = bytes(
        [3, 5, 1, 7, 0, 0,            # run 3x5, run 1x7, EOL
         0, 3, 1, 2, 3, 0,            # absolute [1,2,3] + pad byte
         0, 2, 1, 0,                  # delta dx=1 dy=0 (skip -> idx 0)
         0, 1]                        # end of bitmap
    )
    b = _bmp_hdr(offset, 4, 2, 8, 1, clr_used=8) + pal + rle
    w, h, ch, s = decode_bmp_pixels(b)
    assert (w, h, ch) == (4, 2, 3)
    # gray palette: R channel == index
    assert s[0::3] == bytes([1, 2, 3, 0,   # top row (drawn second)
                             5, 5, 5, 7])  # bottom row (drawn first)


def test_bmp_rle_truncation_raises_valueerror():
    pal = b"".join(bytes([i, i, i, 0]) for i in range(8))
    offset = 54 + len(pal)
    for tail in (bytes([0, 2]), bytes([0, 5, 1, 2])):  # delta / absolute cut
        b = _bmp_hdr(offset, 4, 2, 8, 1, clr_used=8) + pal + tail
        with pytest.raises(ValueError, match="truncated"):
            decode_bmp_pixels(b)


def test_bmp_rle4_hand_bytes():
    """RLE4: runs alternate the escape byte's two nibbles; absolute
    mode packs nibbles high-first with word padding."""
    pal = b"".join(bytes([i, i, i, 0]) for i in range(16))
    offset = 54 + len(pal)
    # 6x2 bottom-up. Bottom row: run of 5 alternating (3,7) -> 3,7,3,7,3
    # then run 1 of (9,_) -> 9. EOL. Top row: absolute 3 px [1,2,3]
    # (nibbles 0x12, 0x30, padded to word), delta skips 2, then run 1
    # of (5,_), EOB.
    rle = bytes(
        [5, 0x37, 1, 0x90, 0, 0,
         0, 3, 0x12, 0x30, 0, 2, 2, 0, 1, 0x50,
         0, 1]
    )
    b = _bmp_hdr(offset, 6, 2, 4, 2, clr_used=16) + pal + rle
    w, h, ch, s = decode_bmp_pixels(b)
    assert (w, h, ch) == (6, 2, 3)
    assert s[0::3] == bytes([1, 2, 3, 0, 0, 5,   # top row
                             3, 7, 3, 7, 3, 9])  # bottom row


# ---------------------------------------------------------------------------
# LZW (GIF flavour)


def test_lzw_decode_hand_bytes():
    # min_code_size=2 → clear=4, end=5, width starts at 3 bits.
    # Codes 4,1,6,1,5 packed LSB-first = bytes 0x8C 0x53; code 6 is the
    # table entry (1,1) added after the first literal — decodes to
    # 1,1,1,1 (hand-packed, see bit layout in the round-4 notes).
    assert lzw_decode(2, bytes([0x8C, 0x53])) == b"\x01\x01\x01\x01"


def test_lzw_kwkwk_case():
    # 'aaa' pattern forces code == next-free-slot on the decode side
    stream = lzw_encode(2, b"\x01\x01\x01")
    assert lzw_decode(2, stream) == b"\x01\x01\x01"


def test_lzw_roundtrip_long_and_width_growth():
    # long enough that the code width grows past its initial size and
    # the dictionary sees repeats, runs, and fresh material
    data = bytes((i * 7 + (i >> 3)) % 256 for i in range(10_000))
    assert lzw_decode(8, lzw_encode(8, data)) == data
    runs = b"\x05" * 5000 + bytes(range(256)) * 4
    assert lzw_decode(8, lzw_encode(8, runs)) == runs


def test_lzw_table_overflow_reset():
    # enough distinct material to push next_code to 4096 → encoder must
    # emit clear + reset and the decoder must follow
    data = bytes((i * 131 + i // 256 * 17) % 256 for i in range(60_000))
    assert lzw_decode(8, lzw_encode(8, data)) == data


def test_lzw_rejects_corrupt_code_gap():
    # code far beyond the table with no entries defined: 3-bit codes,
    # first code 7 > len(table)=6
    with pytest.raises(ValueError):
        lzw_decode(2, bytes([0b111]))


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



# -- BMP BI_BITFIELDS (r6) -----------------------------------------------


def _bmp_bitfields_16(pixels, masks, width, height):
    """Hand-built 16-bit BI_BITFIELDS BMP: 40-byte BITMAPINFOHEADER,
    the three DWORD masks appended, bottom-up pixel rows."""
    import struct

    stride = (width * 2 + 3) & ~3
    offset = 14 + 40 + 12
    rows = []
    for y in range(height - 1, -1, -1):
        row = b"".join(
            struct.pack("<H", pixels[y * width + x]) for x in range(width)
        )
        rows.append(row + b"\x00" * (stride - len(row)))
    data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 16, 3, len(data), 0, 0, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(data), 0, 0, offset
    )
    return header + info + struct.pack("<III", *masks) + data


def test_bmp_bitfields_565_hand_pinned():
    from arcane_stream_parquet_spark.operators.codecs import decode_bmp_pixels

    # (R5=10, G6=33, B5=7) -> bit-replication: 82, 134, 57
    v = (10 << 11) | (33 << 5) | 7
    b = _bmp_bitfields_16(
        [0xF800, 0x07E0, 0x001F, v], (0xF800, 0x07E0, 0x001F), 2, 2
    )
    w, h, nch, samples = decode_bmp_pixels(b)
    assert (w, h, nch) == (2, 2, 3)
    assert samples == bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 82, 134, 57]
    )


def test_bmp_bitfields_555_hand_pinned():
    from arcane_stream_parquet_spark.operators.codecs import decode_bmp_pixels

    # 555: (31, 16, 1) -> 255, 16<<3|16>>2=132, 1<<3|0=8
    v = (31 << 10) | (16 << 5) | 1
    b = _bmp_bitfields_16([v], (0x7C00, 0x03E0, 0x001F), 1, 1)
    assert decode_bmp_pixels(b) == (1, 1, 3, bytes([255, 132, 8]))


def test_bmp_bitfields_32_with_alpha_v3_header():
    import struct

    from arcane_stream_parquet_spark.operators.codecs import decode_bmp_pixels

    # BITMAPV3INFOHEADER (56 bytes): masks INSIDE the header; 8-bit
    # channels decode as identity, alpha surfaces as a 4th channel
    width = height = 1
    offset = 14 + 56
    pix = struct.pack("<I", 0x80FF4020)  # A=0x80 R=0xFF G=0x40 B=0x20
    info = (
        struct.pack(
            "<IiiHHIIiiII", 56, width, height, 1, 32, 3, 4, 0, 0, 0, 0
        )
        + struct.pack(
            "<IIII", 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000
        )
    )
    header = struct.pack("<2sIHHI", b"BM", offset + 4, 0, 0, offset)
    w, h, nch, samples = decode_bmp_pixels(header + info + pix)
    assert (w, h, nch) == (1, 1, 4)
    assert samples == bytes([0xFF, 0x40, 0x20, 0x80])


def test_bmp_bitfields_rejects_bad_masks_and_truncation():
    import pytest

    from arcane_stream_parquet_spark.operators.codecs import decode_bmp_pixels

    good = _bmp_bitfields_16([0], (0xF800, 0x07E0, 0x001F), 1, 1)
    with pytest.raises(ValueError, match="non-contiguous"):
        decode_bmp_pixels(
            _bmp_bitfields_16([0], (0xF810, 0x07E0, 0x001F), 1, 1)
        )
    with pytest.raises(ValueError, match="mask is zero"):
        decode_bmp_pixels(_bmp_bitfields_16([0], (0, 0x07E0, 0x001F), 1, 1))
    for cut in range(2, len(good), 5):
        with pytest.raises(ValueError):
            decode_bmp_pixels(good[:cut])
