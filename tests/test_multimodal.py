"""Multimodal plumbing over Spark: the fake image codec, real WAV
audio facets, real MP4 sample demux in ``sample_frames`` / the stbl walk,
and the fused ``pipeline_facets`` pass against its composable chain."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row

from arcane_stream_parquet_spark.operators.multimodal import (
    decode_image_features,
)


def test_sample_frames_real_mp4_stbl_extraction(spark):
    """r13 (r12 verdict item 5): MP4 payloads demux for real — one row
    per first-video-track sample, bytes sliced out of mdat at the
    stts/stsc/stsz/stco-resolved offsets.  The fixture writes
    deterministic filler (7*track_i + 31*sample + k mod 256), so every
    extracted frame is byte-pinned; audio tracks contribute no rows;
    stride sampling applies."""
    from arcane_stream_parquet_spark.operators.codecs import mp4_samples
    from arcane_stream_parquet_spark.operators.multimodal import (
        MP4_N_SAMPLES,
        MP4_SAMPLE_SIZE,
        make_mp4_video,
        sample_frames,
    )

    import pyspark.sql.functions as SF

    payloads = {d: make_mp4_video(d) for d in (2, 5)}  # 5 has 2 audio trks
    df = spark.createDataFrame(
        [Row(doc_id=d, payload=bytearray(b)) for d, b in payloads.items()]
    )
    rows = sample_frames(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, b in payloads.items():
        got = sorted(by_doc[d], key=lambda r: r["frame_idx"])
        n = MP4_N_SAMPLES(d)
        assert len(got) == n
        # byte-pin each coded sample against the independent stbl walk
        vid = [s for s in mp4_samples(b) if s["track"] == 1]
        assert [bytes(r["frame_bytes"]) for r in got] == [
            b[s["offset"] : s["offset"] + s["size"]] for s in vid
        ]
        # and against the fixture's closed-form filler
        for i, r in enumerate(got):
            fb = bytes(r["frame_bytes"])
            assert len(fb) == MP4_SAMPLE_SIZE(d, i)
            assert fb[0] == (31 * i) & 0xFF  # track 0 filler formula
    # stride sampling
    strided = sample_frames(
        df.filter(SF.col("doc_id") == 2), every_nth_frame=2
    ).collect()
    assert len(strided) == (MP4_N_SAMPLES(2) + 1) // 2
    # a truncated mdat (sample overruns the payload) raises loudly —
    # no silent skip
    cut = payloads[2][: len(payloads[2]) - 40]
    bad = spark.createDataFrame([Row(doc_id=9, payload=bytearray(cut))])
    with pytest.raises(Exception, match="overruns|ValueError|truncat"):
        sample_frames(bad).collect()


def test_sample_frames_stub_raises_without_fake(spark):
    from arcane_stream_parquet_spark.operators.multimodal import sample_frames

    # non-video payload without fake: honest stub raises
    bad = spark.createDataFrame([Row(doc_id=0, payload=bytearray(b"mp4?"))])
    with pytest.raises(Exception, match="NotImplementedError|fake=True"):
        sample_frames(bad).collect()


def test_audio_facet_closed_form(spark):
    """decode_audio_features over synthesized WAVs matches the
    hand-computed closed form (and the zero-free sample guarantee the
    oracle's sign-flip count depends on)."""
    from arcane_stream_parquet_spark.operators.multimodal import (
        WAV_N_FRAMES,
        WAV_RATE,
        decode_audio_features,
        synth_wav_payload,
        wav_sample,
    )

    ids = spark.createDataFrame([Row(doc_id=i) for i in (0, 7, 63, 200)])
    out = {
        r["doc_id"]: r
        for r in decode_audio_features(synth_wav_payload(ids)).collect()
    }
    for i in (0, 7, 63, 200):
        n = WAV_N_FRAMES(i)
        s = [wav_sample(i, k) for k in range(n)]
        assert all(v != 0 for v in s)
        r = out[i]
        assert r["sample_rate"] == WAV_RATE
        assert r["n_audio_frames"] == n
        assert r["duration_micro"] == n * 1_000_000 // WAV_RATE
        assert r["peak_abs"] == max(abs(v) for v in s)
        assert r["mean_abs_micro"] == sum(abs(v) for v in s) * 1_000_000 // n
        flips = sum(
            1 for a, b in zip(s, s[1:]) if (a > 0) != (b > 0)
        )
        assert r["zero_crossings"] == flips


def test_fake_mode_total_for_text_payloads_with_media_magics(spark):
    """Documents legitimately start with media magics as TEXT ('BM',
    'GIF87a', 'RIFF', 'ftyp' at offset 4), and a payload can carry a
    PNG signature over garbage; under fake=True the deterministic
    double must not crash on the magic coincidence — while real mode
    still raises."""
    from arcane_stream_parquet_spark.operators.multimodal import sample_frames

    payloads = [
        (0, b"BMW is a carmaker " + b"x" * 60),
        (1, b"GIF87a was released in 1987 " + b"y" * 40),
        (2, b"RIFFle through AVI files " + b"z" * 30),
        (3, b"plain text"),
        (4, bytes.fromhex("89504e470d0a1a0a") + b"definitely not a PNG"),
        (5, b"see ftyp boxes in the ISO BMFF spec " + b"w" * 50),
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, payload=bytearray(p)) for i, p in payloads]
    )
    decoded = {r["doc_id"]: r for r in decode_image_features(df, fake=True).collect()}
    assert len(decoded) == len(payloads)
    for i, p in payloads:
        d = hashlib.sha256(p).digest()
        assert (decoded[i]["width"], decoded[i]["n_channels"]) == (
            64 + int.from_bytes(d[:2]) % 1024,
            3,
        )
    frames = sample_frames(df, fake=True).collect()
    n_by_doc = {}
    for r in frames:
        n_by_doc[r["doc_id"]] = n_by_doc.get(r["doc_id"], 0) + 1
    # byte-slice fallback for every payload
    assert n_by_doc == {i: (len(p) + 63) // 64 for i, p in payloads}
    with pytest.raises(Exception):
        decode_image_features(df, fake=False).collect()


def test_pipeline_facets_matches_composable_chain(spark):
    """The fused facet pass must be numerically identical to the
    composable decode ⨝ frame-count ⨝ audio chain it replaced — over
    text payloads (fake image path), a real MP4 (real sample-demux
    frame path), and a PNG-magic payload (magic but no decoder)."""
    import pyspark.sql.functions as SF

    from arcane_stream_parquet_spark.operators.multimodal import (
        MP4_N_SAMPLES,
        decode_audio_features,
        make_mp4_video,
        pipeline_facets,
        sample_frames,
        synth_wav_payload,
    )

    png_magic = bytes.fromhex("89504e470d0a1a0a") + b"\x00" * 70
    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(b"plain text payload " * 9)),
            Row(doc_id=2, payload=bytearray(make_mp4_video(2))),
            Row(doc_id=3, payload=bytearray(png_magic)),
        ]
    )
    fused = {
        r["doc_id"]: r.asDict() for r in pipeline_facets(df).collect()
    }
    dec = decode_image_features(df, fake=True).select(
        "doc_id", "width", "height", "n_channels", "feature_hash"
    )
    frames = (
        sample_frames(df, every_n_bytes=64, fake=True)
        .groupBy("doc_id")
        .agg(SF.count("*").alias("n_frames"))
    )
    audio = decode_audio_features(synth_wav_payload(df))
    composed = {
        r["doc_id"]: r.asDict()
        for r in dec.join(frames, "doc_id").join(audio, "doc_id").collect()
    }
    assert set(fused) == set(composed) == {1, 2, 3}
    for doc_id, c in composed.items():
        f = fused[doc_id]
        assert {k: f[k] for k in c} == c, doc_id
    # the MP4 row counts demuxed samples, not byte slices
    assert fused[2]["n_frames"] == MP4_N_SAMPLES(2)
    assert fused[3]["n_frames"] == (len(png_magic) + 63) // 64


def test_pipeline_facets_keeps_zero_frame_rows(spark):
    """The one deliberate divergence from the composable chain: an
    empty payload keeps its row with n_frames=0 (the inner join on the
    frame counts dropped it), matching the oracle's (blen+63)//64."""
    from arcane_stream_parquet_spark.operators.multimodal import (
        pipeline_facets,
    )

    df = spark.createDataFrame([Row(doc_id=4, payload=bytearray(b""))])
    rows = pipeline_facets(df).collect()
    assert len(rows) == 1 and rows[0]["n_frames"] == 0


# ---------------------------------------------------------------------------
# r9: MP4 sample-table (stbl) walk — the stub narrows to coded-payload
# decode only


def test_mp4_samples_pinned_bytes():
    """Hand-derivable sample table: offsets/sizes/timestamps/keyframes
    pinned against the ISO/IEC 14496-12 stbl layout, and every sample
    range verified to fall inside the file's mdat payload."""
    from arcane_stream_parquet_spark.operators.codecs import (
        encode_mp4_metadata,
        mp4_samples,
    )

    b = encode_mp4_metadata(
        1000,
        1000,
        [
            {
                "handler": "vide", "codec": "avc1", "width": 64,
                "height": 48, "timescale": 90000, "duration": 90000,
                "samples": [
                    {"size": 100 + 13 * i, "delta": 3600,
                     "keyframe": i % 4 == 0}
                    for i in range(7)
                ],
            },
            # metadata-only track: contributes no sample rows
            {"handler": "soun", "codec": "mp4a", "width": 0, "height": 0,
             "timescale": 48000, "duration": 48000},
        ],
    )
    rows = mp4_samples(b)
    assert len(rows) == 7 and all(r["track"] == 1 for r in rows)
    # ftyp is 24 bytes + 8-byte mdat header → first chunk at 32;
    # samples within a chunk are contiguous; chunk 2 starts sample 4,
    # chunk 3 starts sample 7 (3-sample chunking)
    assert [r["offset"] for r in rows] == [32, 132, 245, 371, 510, 662, 827]
    assert [r["size"] for r in rows] == [100 + 13 * i for i in range(7)]
    assert [r["dts"] for r in rows] == [3600 * i for i in range(7)]
    assert [r["time_micro"] for r in rows] == [40000 * i for i in range(7)]
    assert [r["keyframe"] for r in rows] == [
        True, False, False, False, True, False, False
    ]
    # every sample's byte range lies inside the file
    for r in rows:
        assert r["offset"] + r["size"] <= len(b)
    # inconsistent table: stts shorter than stsz must raise
    import pytest as _pytest
    import struct as _struct

    idx = b.index(b"stts")
    cnt_off = idx + 4 + 4  # past type + ver/flags → entry_count
    bad = bytearray(b)
    bad[cnt_off : cnt_off + 4] = _struct.pack(">I", 0)
    with _pytest.raises(ValueError, match="stts covers 0 of 7"):
        mp4_samples(bytes(bad))


def test_video_sample_table_spark_facet(spark):
    """The mapInPandas explode: per-sample rows for every synthesized
    doc match the driver-side mp4_samples walk exactly, with the
    closed-form count/keyframe structure of make_mp4_video."""
    from arcane_stream_parquet_spark.operators.codecs import mp4_samples
    from arcane_stream_parquet_spark.operators.multimodal import (
        MP4_N_SAMPLES,
        make_mp4_video,
        video_sample_table,
    )

    ids = [0, 3, 7, 12]
    df = spark.createDataFrame(
        [
            Row(doc_id=i, payload=bytearray(make_mp4_video(i)))
            for i in ids
        ]
    )
    out = video_sample_table(df).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(ids)
    for i in ids:
        rows = sorted(by_doc[i], key=lambda r: r["sample_i"])
        expect = mp4_samples(make_mp4_video(i))
        assert len(rows) == MP4_N_SAMPLES(i) == len(expect)
        for got, exp in zip(rows, expect):
            assert (
                got["track_id"], got["sample_i"], got["byte_offset"],
                got["byte_size"], got["time_micro"], got["keyframe"],
            ) == (
                exp["track"], exp["sample"], exp["offset"],
                exp["size"], exp["time_micro"], exp["keyframe"],
            )
        # keyframe cadence: every 4th
        assert [r["keyframe"] for r in rows] == [
            j % 4 == 0 for j in range(len(rows))
        ]


def test_mp4_samples_forged_counts_rejected():
    """r9 review finds: a forged uniform-stsz count must raise (never
    materialize [uniform] * 2^32), and non-ascending stsc tables are
    rejected rather than silently misresolved by the two-pointer walk."""
    import struct as _struct

    import pytest as _pytest

    from arcane_stream_parquet_spark.operators.codecs import (
        encode_mp4_metadata,
        mp4_samples,
    )

    b = encode_mp4_metadata(
        1000, 1000,
        [{"handler": "vide", "codec": "avc1", "width": 4, "height": 4,
          "timescale": 600, "duration": 600,
          "samples": [{"size": 10, "delta": 100} for _ in range(4)]}],
    )
    # forge: uniform stsz with a 2^31 count in a few-hundred-byte file
    idx = b.index(b"stsz")
    bad = bytearray(b)
    bad[idx + 4 : idx + 16] = (
        b"\x00" * 4 + _struct.pack(">II", 10, 1 << 31)
    )
    with _pytest.raises(ValueError, match="uniform-size samples"):
        mp4_samples(bytes(bad))
    # forge: stsc entries out of ascending order
    idx = b.index(b"stsc")
    bad = bytearray(b)
    # entry area starts at idx+4(ver/flags)+4... layout: type at idx,
    # payload = ver/flags(4) + count(4) + entries; entries at idx+12
    (n_entries,) = _struct.unpack_from(">I", bad, idx + 8)
    if n_entries >= 2:
        bad[idx + 12 : idx + 16] = _struct.pack(">I", 99)  # first_chunk
        with _pytest.raises(ValueError, match="ascend"):
            mp4_samples(bytes(bad))
