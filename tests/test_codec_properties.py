"""Property-fuzzing for the WAV and MP4 parsers — the two decoders the
multimodal registry row runs on every doc.

The decoders are pinned by hand-computed bytes at specific geometries
(test_codecs.py); these properties sweep RANDOM geometries/contents:

- encode → decode == identity per format (WAV, MP4 metadata, MP4
  sample tables);
- EVERY payload truncation raises ValueError or returns exactly the
  full decode — never IndexError / struct.error / KeyError;
- byte corruption only ever raises ValueError.

No Spark involved — pure byte-level functions, so examples are cheap.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arcane_stream_parquet_spark.operators.codecs import (
    encode_mp4_metadata,
    encode_wav,
    mp4_samples,
    parse_mp4,
    parse_wav,
)

SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _rand_bytes(seed: int, n: int) -> bytes:
    return bytes(random.Random(seed).randrange(256) for _ in range(n))


@given(
    rate=st.integers(1, 96_000),
    n_channels=st.integers(1, 3),
    bits=st.sampled_from([8, 16]),
    n_frames=st.integers(0, 50),
    seed=st.integers(0, 2**31),
)
@settings(**SETTINGS)
def test_wav_roundtrip_any_geometry(rate, n_channels, bits, n_frames, seed):
    rng = random.Random(seed)
    if bits == 16:
        samples = [
            rng.randrange(-32768, 32768) for _ in range(n_frames * n_channels)
        ]
        expect = samples
    else:
        samples = [rng.randrange(256) for _ in range(n_frames * n_channels)]
        expect = [v - 128 for v in samples]
    w = parse_wav(encode_wav(rate, n_channels, samples, bits=bits))
    assert (w["sample_rate"], w["n_channels"], w["bits"]) == (
        rate, n_channels, bits,
    )
    assert w["n_frames"] == n_frames and w["samples"] == expect


@given(
    duration=st.integers(0, 2**31),
    timescale=st.integers(1, 10**6),
    tracks=st.lists(
        st.fixed_dictionaries(
            {
                "handler": st.sampled_from(["vide", "soun", "hint"]),
                "codec": st.sampled_from(["avc1", "mp4a", "hvc1", "tx3g"]),
                "width": st.integers(0, 8192),
                "height": st.integers(0, 8192),
                "timescale": st.integers(1, 10**6),
                "duration": st.integers(0, 2**31),
            }
        ),
        max_size=4,
    ),
)
@settings(**SETTINGS)
def test_mp4_roundtrip_any_tracks(duration, timescale, tracks):
    m = parse_mp4(encode_mp4_metadata(duration, timescale, tracks))
    assert m["timescale"] == timescale and m["duration"] == duration
    assert m["n_tracks"] == len(tracks)
    for t_in, t_out in zip(tracks, m["tracks"]):
        # r9: parsed tracks additionally carry the raw stbl tables
        assert {k: t_out[k] for k in t_in} == t_in
        assert t_out["stbl"] == {}  # no sample tables were encoded


def _sample_payloads(seed: int) -> list[tuple[str, bytes, object]]:
    rng = random.Random(seed)
    return [
        ("wav", encode_wav(8000, 1, [1, -2, 3]), parse_wav),
        (
            "mp4",
            encode_mp4_metadata(10, 1000, [
                {"handler": "vide", "codec": "avc1", "width": 16,
                 "height": 16, "timescale": 600, "duration": 6},
            ]),
            parse_mp4,
        ),
        (
            "mp4-stbl",
            encode_mp4_metadata(10, 1000, [
                {"handler": "vide", "codec": "avc1", "width": 16,
                 "height": 16, "timescale": 600, "duration": 6,
                 "samples": [
                     {"size": 1 + rng.randrange(64), "delta": 100,
                      "keyframe": rng.random() < 0.5}
                     for _ in range(rng.randrange(1, 8))
                 ]},
            ]),
            mp4_samples,
        ),
    ]


@given(seed=st.integers(0, 2**31), cut_frac=st.floats(0.0, 0.999))
@settings(**{**SETTINGS, "max_examples": 150})
def test_truncation_never_crashes_or_misreads(seed, cut_frac):
    """Cutting ANY valid payload at ANY point must either raise
    ValueError or return EXACTLY the full decode — never a different
    result, and never IndexError/struct.error (the magic still
    matches, so fake-mode fallbacks contract on the exception type).
    Sound acceptance happens when the cut only removes trailing bytes a
    self-terminating stream didn't need."""
    for name, payload, decoder in _sample_payloads(seed):
        cut = max(1, int(len(payload) * cut_frac))
        if cut >= len(payload):
            continue
        try:
            got = decoder(payload[:cut])
        except ValueError:
            continue
        assert got == decoder(payload), (
            f"{name} cut at {cut}/{len(payload)} returned a DIFFERENT "
            f"result than the full decode"
        )


@given(seed=st.integers(0, 2**31), n_flips=st.integers(1, 6))
@settings(**{**SETTINGS, "max_examples": 60})
def test_byte_corruption_only_raises_valueerror(seed, n_flips):
    """Flipping ANY bytes of a valid payload (not just truncating it)
    must either decode or raise ValueError — never IndexError /
    KeyError / ZeroDivisionError out of a parser's guts."""
    rng = random.Random(seed)
    for name, payload, decoder in _sample_payloads(seed):
        b = bytearray(payload)
        for _ in range(n_flips):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            decoder(bytes(b))
        except ValueError:
            pass


def test_review_finds_truncation_regressions():
    """Pinned repros from the r6 review: silent partial decodes and
    wrong-exception-type rejections, all must raise ValueError."""
    # MP4 with an under-sized mvhd: ValueError, not struct.error /
    # a silent read of the next box's bytes
    import struct

    def box(t, p):
        return struct.pack(">I", len(p) + 8) + t + p

    short_mvhd = box(b"mvhd", b"\x00" * 8)
    bad = box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", short_mvhd)
    with pytest.raises(ValueError):
        parse_mp4(bad)
    # zero timescale: ValueError, not ZeroDivisionError
    zero_ts = encode_mp4_metadata(10, 1, [])
    zero_ts = bytearray(zero_ts)
    # timescale lives 12 bytes into the mvhd body; find it and zero it
    i = bytes(zero_ts).find(b"mvhd") + 4 + 12
    zero_ts[i : i + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError):
        parse_mp4(bytes(zero_ts))
