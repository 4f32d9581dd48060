"""Pure byte-level media codecs, stdlib-only — no Spark imports.

The two container formats the multimodal curation pipeline decodes for
real, from the public specs:

- **WAV**: RIFF/WAVE chunk walk + PCM sample decode (8/16-bit, any
  channel count) with deterministic integer features. Public spec:
  Microsoft/IBM RIFF WAVE.
- **MP4 / ISO BMFF**: box-walk METADATA decode
  (ftyp/moov/mvhd/trak/tkhd/mdhd/hdlr/stsd → duration, track count,
  codecs, dimensions; 64-bit largesize boxes, v0/v1 headers) and the
  stbl sample-table walk (stts/stsc/stsz/stco/co64/stss → per-sample
  offset, size, timestamp, keyframe flag). Public spec: ISO/IEC
  14496-12.

Remaining honest stub: coded SAMPLE decode for MP4-class containers
(H.264/AAC bitstreams — the container metadata and sample layout are
real, above).  Image decode in the pipeline is out of scope: no codec
library in this environment, and no pipeline needs one.

Each decoder has a matching encoder used ONLY by tests/synthesis, and
the test suite pins decoders against hand-computed known bytes so an
encoder/decoder bug pair cannot cancel.
"""

from __future__ import annotations

import struct


# ---------------------------------------------------------------------------
# WAV — RIFF/WAVE PCM


def encode_wav(
    sample_rate: int, n_channels: int, samples: list[int], bits: int = 16
) -> bytes:
    """A spec-valid PCM WAV (RIFF + fmt + data) from interleaved integer
    samples (signed for 16-bit, unsigned 0..255 for 8-bit)."""
    if bits not in (8, 16):
        raise ValueError("bits must be 8 or 16")
    if len(samples) % n_channels:
        raise ValueError("sample count not a multiple of n_channels")
    fmt_char = "<%dh" % len(samples) if bits == 16 else "<%dB" % len(samples)
    data = struct.pack(fmt_char, *samples)
    block_align = n_channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(b: bytes) -> dict:
    """REAL stdlib-only WAV parse → ``{"sample_rate", "n_channels",
    "bits", "n_frames", "samples"}`` with samples as a flat interleaved
    list of ints (16-bit signed / 8-bit recentred to signed). Walks the
    RIFF chunk list (so extra chunks like LIST/fact are skipped
    correctly); non-PCM formats raise."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if 8 + struct.unpack_from("<I", b, 4)[0] > len(b):
        raise ValueError("truncated RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        payload = b[pos + 8 : pos + 8 + size]
        if len(payload) != size:
            # declared chunk overruns the buffer (r6 property-fuzz
            # hardening: a cut mid-data must reject, not decode a
            # silently shorter sample stream)
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = payload
        elif cid == b"data":
            data = payload
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format != 1:
        raise ValueError(f"unsupported WAV audio format {audio_format} (PCM only)")
    if n_channels == 0 or sample_rate == 0:
        # both are divisors downstream (frame count, duration)
        raise ValueError("WAV fmt declares zero channels or zero sample rate")
    if bits == 16:
        samples = list(struct.unpack("<%dh" % (len(data) // 2), data[: len(data) & ~1]))
    elif bits == 8:
        samples = [v - 128 for v in data]
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    n_frames = len(samples) // n_channels
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits": bits,
        "n_frames": n_frames,
        "samples": samples,
    }


def wav_features(b: bytes) -> dict:
    """Deterministic integer audio features from a PCM WAV: duration in
    microseconds (floor), peak |sample|, mean |sample| in micros
    (exact integer arithmetic: sum·1e6 // n), and zero crossings
    (strict sign flips over the interleaved stream, zeros transparent —
    a standard voiced/unvoiced heuristic)."""
    w = parse_wav(b)
    s = w["samples"]
    n = len(s)
    abs_sum = sum(abs(v) for v in s)
    zc = 0
    prev_sign = 0
    for v in s:
        sign = (v > 0) - (v < 0)
        if sign and prev_sign and sign != prev_sign:
            zc += 1
        if sign:
            prev_sign = sign
    return {
        "sample_rate": w["sample_rate"],
        "n_channels": w["n_channels"],
        "n_frames": w["n_frames"],
        "duration_micro": w["n_frames"] * 1_000_000 // w["sample_rate"],
        "peak_abs": max((abs(v) for v in s), default=0),
        "mean_abs_micro": abs_sum * 1_000_000 // n if n else 0,
        "zero_crossings": zc,
    }


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF (ISO/IEC 14496-12) — box-walk METADATA decode (r6).
# Sample/bitstream decode (H.264 etc.) stays an honest stub — no codec
# library in this container — but the container metadata a curation
# pipeline filters on (duration, track count, codecs, dimensions) is
# pure public box structure: [size:u32 BE][type:4cc][payload], size==1
# → 64-bit largesize follows, size==0 → box runs to end of enclosure.


def _mp4_boxes(b: bytes, pos: int, end: int):
    """Yield (type, body_start, next_pos) for each box in [pos, end)."""
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", b, pos)
        typ = b[pos + 4 : pos + 8]
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated ISO BMFF largesize box")
            (largesize,) = struct.unpack_from(">Q", b, pos + 8)
            body, nxt = pos + 16, pos + largesize
        elif size == 0:
            body, nxt = pos + 8, end
        else:
            body, nxt = pos + 8, pos + size
        if nxt > end or nxt <= pos or body > nxt:
            raise ValueError("malformed ISO BMFF box size")
        yield typ, body, nxt
        pos = nxt


def _mp4_need(upto: int, box_end: int, name: str) -> None:
    """Reject a fixed-offset read past a box's own payload — an
    under-sized inner box must raise ValueError, never struct.error or
    a silent read of the NEXT box's bytes (r6 review find)."""
    if upto > box_end:
        raise ValueError(f"truncated ISO BMFF {name} box")


def _mp4_parse_trak(b: bytes, pos: int, end: int) -> dict:
    track: dict = {
        "handler": None,
        "codec": None,
        "width": None,
        "height": None,
        "timescale": None,
        "duration": None,
        "stbl": {},  # raw sample tables (stts/stsc/stsz/stco/stss, r9)
    }
    for typ, body, nxt in _mp4_boxes(b, pos, end):
        if typ == b"tkhd":
            _mp4_need(body + 1, nxt, "tkhd")
            ver = b[body]
            # past ver/flags + ctime/mtime (4 or 8 each) + track_ID +
            # reserved + duration (4 or 8)
            off = body + (36 if ver == 1 else 24)
            # reserved(8) + layer(2)+alternate_group(2)+volume(2)+
            # reserved(2) + matrix(36)
            off += 8 + 8 + 36
            _mp4_need(off + 8, nxt, "tkhd")
            w_fix, h_fix = struct.unpack_from(">II", b, off)
            track["width"], track["height"] = w_fix >> 16, h_fix >> 16
        elif typ == b"mdia":
            for t2, b2, n2 in _mp4_boxes(b, body, nxt):
                if t2 == b"mdhd":
                    _mp4_need(b2 + 1, n2, "mdhd")
                    ver = b[b2]
                    if ver == 1:
                        _mp4_need(b2 + 32, n2, "mdhd")
                        (track["timescale"],) = struct.unpack_from(
                            ">I", b, b2 + 20
                        )
                        (track["duration"],) = struct.unpack_from(
                            ">Q", b, b2 + 24
                        )
                    else:
                        _mp4_need(b2 + 20, n2, "mdhd")
                        track["timescale"], track["duration"] = (
                            struct.unpack_from(">II", b, b2 + 12)
                        )
                elif t2 == b"hdlr":
                    _mp4_need(b2 + 12, n2, "hdlr")
                    track["handler"] = b[b2 + 8 : b2 + 12].decode("latin1")
                elif t2 == b"minf":
                    for t3, b3, n3 in _mp4_boxes(b, b2, n2):
                        if t3 != b"stbl":
                            continue
                        for t4, b4, n4 in _mp4_boxes(b, b3, n3):
                            if t4 == b"stsd":
                                _mp4_need(b4 + 8, n4, "stsd")
                                (n_entries,) = struct.unpack_from(
                                    ">I", b, b4 + 4
                                )
                                if n_entries >= 1:
                                    _mp4_need(b4 + 16, n4, "stsd")
                                    track["codec"] = b[
                                        b4 + 12 : b4 + 16
                                    ].decode("latin1")
                            else:
                                _mp4_parse_stbl_table(
                                    b, t4, b4, n4, track["stbl"]
                                )
    return track


def _mp4_parse_stbl_table(
    b: bytes, typ: bytes, body: int, end: int, stbl: dict
) -> None:
    """Sample-table boxes (ISO/IEC 14496-12 §8.5-8.7) → raw entry
    lists on ``stbl``.  Every entry count is validated against the
    box's own length BEFORE any list is built, so a forged count can
    never read a neighbor box or balloon memory (same bound discipline
    as the rest of the walk)."""
    if typ == b"stts":  # decoding time-to-sample: (count, delta)*
        _mp4_need(body + 8, end, "stts")
        (n,) = struct.unpack_from(">I", b, body + 4)
        _mp4_need(body + 8 + 8 * n, end, "stts")
        stbl["stts"] = [
            struct.unpack_from(">II", b, body + 8 + 8 * i) for i in range(n)
        ]
    elif typ == b"stsc":  # sample-to-chunk: (first_chunk, per_chunk, sdi)*
        _mp4_need(body + 8, end, "stsc")
        (n,) = struct.unpack_from(">I", b, body + 4)
        _mp4_need(body + 8 + 12 * n, end, "stsc")
        stbl["stsc"] = [
            struct.unpack_from(">III", b, body + 8 + 12 * i)
            for i in range(n)
        ]
    elif typ == b"stsz":  # sample sizes: uniform or per-sample
        _mp4_need(body + 12, end, "stsz")
        uniform, count = struct.unpack_from(">II", b, body + 4)
        sizes = None
        if uniform == 0:
            _mp4_need(body + 12 + 4 * count, end, "stsz")
            sizes = list(
                struct.unpack_from(f">{count}I", b, body + 12)
            ) if count else []
        elif count > len(b):
            # the uniform branch carries no per-entry payload to bound
            # the count against, but every (≥1-byte) sample must fit in
            # the file — a forged 32-bit count must not balloon the
            # [uniform] * count expansion downstream (r9 review)
            raise ValueError(
                f"stsz declares {count} uniform-size samples in a "
                f"{len(b)}-byte file"
            )
        stbl["stsz"] = (uniform, count, sizes)
    elif typ in (b"stco", b"co64"):  # chunk offsets (32/64-bit)
        wide = typ == b"co64"
        step, fmt = (8, ">Q") if wide else (4, ">I")
        _mp4_need(body + 8, end, typ.decode("latin1"))
        (n,) = struct.unpack_from(">I", b, body + 4)
        _mp4_need(body + 8 + step * n, end, typ.decode("latin1"))
        stbl["stco"] = [
            struct.unpack_from(fmt, b, body + 8 + step * i)[0]
            for i in range(n)
        ]
    elif typ == b"stss":  # sync samples; ABSENT means all keyframes
        _mp4_need(body + 8, end, "stss")
        (n,) = struct.unpack_from(">I", b, body + 4)
        _mp4_need(body + 8 + 4 * n, end, "stss")
        stbl["stss"] = [
            struct.unpack_from(">I", b, body + 8 + 4 * i)[0]
            for i in range(n)
        ]


def mp4_samples(b: bytes) -> list[dict]:
    """Per-sample metadata rows resolved from each track's sample
    tables (the stsd/stts/stsc/stsz/stco ``stbl`` walk, ISO/IEC
    14496-12 §8.5-8.7): for every sample its byte ``offset`` and
    ``size`` in the file, decode timestamp (track-timescale ``dts``
    and ``time_micro``), and ``keyframe`` flag (stss membership;
    absent stss = every sample is sync, per spec).  This narrows the
    honest media stub to CODED-PAYLOAD decode only: sample-accurate
    layout, duration and keyframe structure are real metadata decode.
    Tracks without sample tables (metadata-only files) yield no rows.
    Inconsistent tables (chunk map or timing shorter than the declared
    sample count) raise ValueError."""
    meta = parse_mp4(b)
    out: list[dict] = []
    for ti, tr in enumerate(meta["tracks"], start=1):
        st = tr.get("stbl") or {}
        if st.get("stsz") is None or st.get("stco") is None:
            continue
        uniform, count, sizes = st["stsz"]
        sizes = sizes if sizes is not None else [uniform] * count
        stco = st["stco"]
        stsc = st.get("stsc") or []
        if count and not stsc:
            raise ValueError("stsz declares samples but stsc is missing")
        # chunk ci (1-based) uses the last stsc entry with
        # first_chunk <= ci.  Entries must ascend (the spec requires
        # it, and the single forward two-pointer walk below — O(chunks
        # + entries), not the quadratic rescan the r9 review flagged —
        # relies on it); reject non-ascending tables loudly.
        for j in range(1, len(stsc)):
            if stsc[j][0] <= stsc[j - 1][0]:
                raise ValueError("stsc first_chunk entries must ascend")
        spc_by_chunk = []
        ei = -1
        for ci in range(1, len(stco) + 1):
            while ei + 1 < len(stsc) and stsc[ei + 1][0] <= ci:
                ei += 1
            spc_by_chunk.append(stsc[ei][1] if ei >= 0 else 0)
        # dts deltas; expansion bounded by the declared sample count
        # (entry counts were already length-validated at parse)
        deltas: list[int] = []
        for cnt, delta in st.get("stts") or []:
            take = min(cnt, count - len(deltas))
            deltas.extend([delta] * take)
            if len(deltas) >= count:
                break
        if len(deltas) < count:
            raise ValueError(
                f"stts covers {len(deltas)} of {count} samples"
            )
        sync = st.get("stss")
        sync_set = set(sync) if sync is not None else None
        ts = tr.get("timescale") or meta["timescale"]
        if not ts:
            raise ValueError("track timescale is zero")
        si, dts = 0, 0
        for ci, chunk_off in enumerate(stco):
            off = chunk_off
            for _ in range(spc_by_chunk[ci]):
                if si >= count:
                    break
                size = sizes[si]
                out.append(
                    {
                        "track": ti,
                        "sample": si + 1,
                        "offset": off,
                        "size": size,
                        "dts": dts,
                        "time_micro": dts * 1_000_000 // ts,
                        "keyframe": sync_set is None or (si + 1) in sync_set,
                    }
                )
                off += size
                dts += deltas[si]
                si += 1
        if si != count:
            raise ValueError(
                f"chunk map covers {si} of {count} declared samples"
            )
    return out


def parse_mp4(b: bytes) -> dict:
    """REAL stdlib-only ISO BMFF metadata parse → ``{"major_brand",
    "timescale", "duration", "duration_micro", "n_tracks", "tracks"}``
    with per-track handler/codec/dimensions/timescale/duration from the
    tkhd/mdhd/hdlr/stsd boxes.  Box sizes are validated; truncated or
    malformed payloads raise ValueError.  This is metadata only — the
    coded samples (mdat) are NOT decoded (no H.264/AAC codec here;
    honest stub boundary is now sample decode, not the container)."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    major_brand = b[8:12].decode("latin1")
    timescale = duration = None
    tracks: list[dict] = []
    for typ, body, nxt in _mp4_boxes(b, 0, len(b)):
        if typ != b"moov":
            continue
        for t2, b2, n2 in _mp4_boxes(b, body, nxt):
            if t2 == b"mvhd":
                _mp4_need(b2 + 1, n2, "mvhd")
                ver = b[b2]
                if ver == 1:
                    _mp4_need(b2 + 32, n2, "mvhd")
                    (timescale,) = struct.unpack_from(">I", b, b2 + 20)
                    (duration,) = struct.unpack_from(">Q", b, b2 + 24)
                else:
                    _mp4_need(b2 + 20, n2, "mvhd")
                    timescale, duration = struct.unpack_from(">II", b, b2 + 12)
            elif t2 == b"trak":
                tracks.append(_mp4_parse_trak(b, b2, n2))
    if timescale is None:
        raise ValueError("ISO BMFF payload missing moov/mvhd")
    if timescale == 0:
        raise ValueError("ISO BMFF mvhd timescale is zero")
    return {
        "major_brand": major_brand,
        "timescale": timescale,
        "duration": duration,
        "duration_micro": duration * 1_000_000 // timescale,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + typ + payload


def encode_mp4_metadata(
    duration: int,
    timescale: int = 1000,
    tracks: list[dict] | None = None,
) -> bytes:
    """A minimal spec-valid ISO BMFF file (ftyp + mdat + moov) for the
    given movie header and track list — the synthesis side of
    :func:`parse_mp4` / :func:`mp4_samples`, used only by tests and
    deterministic fixtures.  Each track dict: handler ('vide'/'soun'),
    codec 4cc, width, height, timescale, duration — plus optionally
    ``samples``: a list of ``{"size", "delta", "keyframe"}`` dicts; a
    track carrying them gets real stts/stsc/stsz/stco(/stss) tables,
    its sample bytes land in mdat (deterministic filler), chunked in
    groups of 3 so the stsc expansion is non-trivial, and stco holds
    the true file offsets.  stss is emitted only when not every sample
    is a keyframe (absent = all sync, per spec)."""
    tracks = tracks or []
    # mdat layout first: ftyp is fixed-size, so absolute chunk offsets
    # are computable before moov is built (moov trails mdat)
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mdat_payload = bytearray()
    track_chunk_offsets: list[list[int]] = []
    for i, t in enumerate(tracks):
        samples = t.get("samples") or []
        offsets = []
        for c0 in range(0, len(samples), 3):
            offsets.append(len(ftyp) + 8 + len(mdat_payload))
            for j, s in enumerate(samples[c0 : c0 + 3]):
                mdat_payload += bytes(
                    (7 * i + 31 * (c0 + j) + k) & 0xFF
                    for k in range(int(s["size"]))
                )
        track_chunk_offsets.append(offsets)
    mvhd = _mp4_box(
        b"mvhd",
        struct.pack(">BxxxIIII", 0, 0, 0, timescale, duration)
        + struct.pack(">IH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + b"\x00" * 36
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    trak_boxes = []
    for i, t in enumerate(tracks):
        tkhd = _mp4_box(
            b"tkhd",
            struct.pack(">BxxxIIIxxxxI", 0, 0, 0, i + 1, t["duration"])
            + b"\x00" * 8
            + b"\x00" * 8
            + b"\x00" * 36
            + struct.pack(">II", t["width"] << 16, t["height"] << 16),
        )
        mdhd = _mp4_box(
            b"mdhd",
            struct.pack(
                ">BxxxIIII", 0, 0, 0, t["timescale"], t["duration"]
            )
            + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _mp4_box(
            b"hdlr",
            b"\x00" * 8
            + t["handler"].encode("latin1")
            + b"\x00" * 12
            + b"synth\x00",
        )
        entry = struct.pack(">I", 16) + t["codec"].encode("latin1") + b"\x00" * 8
        stsd = _mp4_box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        stbl_payload = stsd
        samples = t.get("samples") or []
        if samples:
            # stts: run-length encode consecutive equal deltas
            runs: list[list[int]] = []
            for s in samples:
                if runs and runs[-1][1] == int(s["delta"]):
                    runs[-1][0] += 1
                else:
                    runs.append([1, int(s["delta"])])
            stts = _mp4_box(
                b"stts",
                b"\x00" * 4
                + struct.pack(">I", len(runs))
                + b"".join(struct.pack(">II", c, d) for c, d in runs),
            )
            # chunks of 3: one stsc entry, plus a second for a short
            # trailing chunk (exercises the last-entry-wins expansion)
            n_chunks = len(track_chunk_offsets[i])
            rem = len(samples) - 3 * (n_chunks - 1)
            stsc_entries = [(1, 3, 1)]
            if rem != 3 and n_chunks > 1:
                stsc_entries.append((n_chunks, rem, 1))
            elif n_chunks == 1:
                stsc_entries = [(1, len(samples), 1)]
            stsc = _mp4_box(
                b"stsc",
                b"\x00" * 4
                + struct.pack(">I", len(stsc_entries))
                + b"".join(
                    struct.pack(">III", *e) for e in stsc_entries
                ),
            )
            stsz = _mp4_box(
                b"stsz",
                b"\x00" * 4
                + struct.pack(">II", 0, len(samples))
                + b"".join(
                    struct.pack(">I", int(s["size"])) for s in samples
                ),
            )
            stco = _mp4_box(
                b"stco",
                b"\x00" * 4
                + struct.pack(">I", n_chunks)
                + b"".join(
                    struct.pack(">I", o) for o in track_chunk_offsets[i]
                ),
            )
            stbl_payload += stts + stsc + stsz + stco
            if not all(s.get("keyframe", True) for s in samples):
                sync = [
                    j + 1
                    for j, s in enumerate(samples)
                    if s.get("keyframe", True)
                ]
                stbl_payload += _mp4_box(
                    b"stss",
                    b"\x00" * 4
                    + struct.pack(">I", len(sync))
                    + b"".join(struct.pack(">I", n) for n in sync),
                )
        stbl = _mp4_box(b"stbl", stbl_payload)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        trak_boxes.append(_mp4_box(b"trak", tkhd + mdia))
    moov = _mp4_box(b"moov", mvhd + b"".join(trak_boxes))
    mdat = _mp4_box(b"mdat", bytes(mdat_payload))
    return ftyp + mdat + moov
