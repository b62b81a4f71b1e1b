"""Tests for the deterministic generator (G1-G3) and multimodal
plumbing."""

from __future__ import annotations

import pytest

from hummingbird_spark.operators.generator import (
    RAINBOW,
    docgen,
    simulate_workload_stream,
)
from hummingbird_spark.operators.multimodal import (
    decode_media,
    synth_media,
)


def test_docgen_parity_with_reference(spark):
    """sim.go:305-333 arithmetic: n=seq+1001, num=n*n+3629."""
    df = docgen(spark, 10)
    rows = {r.seq: r for r in df.collect()}
    assert len(rows) == 10
    r3 = rows[3]
    n, num = 3 + 1001, (3 + 1001) ** 2 + 3629
    assert r3.int64 == num and r3.float64 == float(num)
    assert r3.color == RAINBOW[3 % 7]
    assert r3.string == f"{4:06d}-{num}-{n}-{num}"
    assert r3.array == [k * k - k for k in range(101, 110)]
    assert r3.subdoc.level1.seq == 3 and r3.subdoc.level1.color == r3.color
    assert r3.filler.startswith(str(n))
    assert len(r3.filler) >= 2500
    assert len(r3.uuid) == 16 and r3.uuid == r3.binary == r3.bin1


def test_docgen_deterministic_and_ordered_ids(spark):
    a = docgen(spark, 5).collect()
    b = docgen(spark, 5).collect()
    assert a == b  # fully deterministic (declared deviation from random)
    ids = [r._id for r in sorted(a, key=lambda r: r.seq)]
    assert ids == sorted(ids)          # ObjectId-like monotonic ordering
    assert all(len(i) == 24 for i in ids)
    uuids = {r.uuid for r in a}
    assert len(uuids) == 5             # unique per row (bson_reader_test.go:43-57)


def test_simulator_stream_feeds_cdc(spark, tmp_path):
    """G3: run the rate-source workload briefly, decode through the CDC
    path, check op mix and key routing."""
    from hummingbird_spark.streaming.cdc import decode_write_models

    stream = simulate_workload_stream(spark, ops_per_second=500)
    q = (
        stream.writeStream.format("memory")
        .queryName("simworkload")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM simworkload").first()[0] >= 20:
                break
            time.sleep(1)
        batch = spark.sql("SELECT * FROM simworkload")
        n = batch.count()
        assert n >= 20
        ops = {r.op for r in batch.select("op").distinct().collect()}
        assert "i" in ops
        models = decode_write_models(batch)
        kinds = {r.kind for r in models.select("kind").distinct().collect()}
        assert "replace" in kinds
    finally:
        q.stop()


def test_synth_media_and_decode(spark):
    media = synth_media(spark, 30)
    assert media.schema["data"].dataType.typeName() == "binary"
    feats = decode_media(media).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    # decode parses the real header: width/height match metadata
    meta = {r.media_id: r.meta for r in media.collect()}
    for mid, r in by_id.items():
        assert r.width == meta[mid].width
        assert r.height == meta[mid].height
        assert len(r.feature) == 8
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    # deterministic features
    again = {r.media_id: r.feature for r in decode_media(media).collect()}
    assert again == {k: v.feature for k, v in by_id.items()}


def test_decode_raises_on_unknown_payload(spark):
    df = spark.createDataFrame(
        [(1, "image", b"NOTMAGIC-payload", None)],
        "media_id long, kind string, data binary, meta struct<format:string,width:int,height:int,channels:int,sample_rate:int,duration_ms:int,n_frames:int>",
    )
    with pytest.raises(Exception, match="codec|NotImplemented"):
        decode_media(df).collect()


def test_audio_window_features(spark):
    from hummingbird_spark.operators.multimodal import (
        audio_window_features,
    )

    media = synth_media(spark, 9)   # 3 audio rows
    meta = {r.media_id: r.meta for r in
            media.filter("kind = 'audio'").collect()}
    rows = audio_window_features(media, window_ms=250).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == set(meta)
    for mid, wins in by_id.items():
        expect = max(1, -(-meta[mid].duration_ms // 250))
        assert len(wins) == expect
        idxs = sorted(w.window_idx for w in wins)
        assert idxs == list(range(expect))
        assert all(0.0 <= w.rms <= 1.0 for w in wins)
        assert all(w.start_ms == w.window_idx * 250 for w in wins)
    # deterministic across runs
    again = {(r.media_id, r.window_idx): r.rms
             for r in audio_window_features(media, window_ms=250)
             .collect()}
    assert again == {(r.media_id, r.window_idx): r.rms for r in rows}


def test_decode_sha256_is_content_digest(spark):
    """The `sha256` column is the digest of the payload BYTES — an
    integrity checksum a downstream consumer can re-verify — while the
    feature floats come from the separate hex-encoded surrogate digest
    (r5 advice: the column previously held sha256 of the hex string)."""
    import hashlib

    media = synth_media(spark, 6)
    payloads = {r.media_id: bytes(r.data) for r in media.collect()}
    for r in decode_media(media).collect():
        assert r.sha256 == hashlib.sha256(payloads[r.media_id]).hexdigest()


# --------------------------- real WAV codec path ---------------------------


def test_wav_roundtrip_is_real_codec(spark):
    """synth_wav emits genuine RIFF containers the stdlib decoder
    round-trips: samples equal the md5-derived int16 stream."""
    import hashlib

    import numpy as np

    from hummingbird_spark.operators.multimodal import (
        _decode_wav,
        synth_wav,
    )

    rows = synth_wav(spark, 6).orderBy("media_id").collect()
    assert [r.media_id for r in rows] == list(range(6))
    for r in rows:
        data = bytes(r.data)
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
        sr, pcm = _decode_wav(data)
        assert sr == 8000
        n_blocks = 32 + r.media_id % 3 * 16
        body = b"".join(
            hashlib.md5(f"wav|{r.media_id}|{j}".encode()).digest()
            for j in range(n_blocks))
        assert np.array_equal(pcm, np.frombuffer(body, dtype="<i2"))
        assert r.meta.n_frames == len(pcm)
        assert r.meta.duration_ms == len(pcm) * 1000 // sr


def test_wav_window_features_match_pure_python(spark):
    """The Arrow kernel's per-window DSP equals a scalar reference on
    the decoded samples (integer ssq/zc/peak; one divide + sqrt)."""
    import math

    from hummingbird_spark.operators.multimodal import (
        _decode_wav,
        synth_wav,
        wav_window_features,
    )

    media = synth_wav(spark, 5)
    got = {(r.media_id, r.window_idx): r
           for r in wav_window_features(media, window_ms=16).collect()}
    clips = {r.media_id: bytes(r.data) for r in media.collect()}
    n_expected = 0
    for mid, data in clips.items():
        sr, pcm = _decode_wav(data)
        win = sr * 16 // 1000
        for w in range(len(pcm) // win):
            n_expected += 1
            seg = [int(x) for x in pcm[w * win:(w + 1) * win]]
            ssq = sum(s * s for s in seg)
            zc = sum((seg[i] < 0) != (seg[i + 1] < 0)
                     for i in range(len(seg) - 1))
            r = got[(mid, w)]
            assert r.start_ms == w * 16
            assert r.rms == math.sqrt(ssq / (win * 1073741824.0))
            assert r.zero_crossings == zc
            assert r.peak == max(abs(s) for s in seg)
    assert len(got) == n_expected


def test_wav_kernel_rejects_non_riff(spark):
    from hummingbird_spark.operators.multimodal import (
        synth_media,
        wav_window_features,
    )

    with pytest.raises(Exception, match="RIFF/WAVE"):
        wav_window_features(synth_media(spark, 3)).collect()


def test_audio_window_features_dispatches_riff(spark):
    """audio_window_features' former codec guard now really decodes
    RIFF payloads: same rows as wav_window_features' rms/zc."""
    from hummingbird_spark.operators.multimodal import (
        audio_window_features,
        synth_wav,
        wav_window_features,
    )

    media = synth_wav(spark, 4)
    via_audio = {(r.media_id, r.window_idx): (r.start_ms, r.rms,
                                              r.zero_crossings)
                 for r in audio_window_features(media, window_ms=16)
                 .collect()}
    via_wav = {(r.media_id, r.window_idx): (r.start_ms, r.rms,
                                            r.zero_crossings)
               for r in wav_window_features(media, window_ms=16)
               .collect()}
    for key, (sms, rms, zc) in via_wav.items():
        asms, arms, azc = via_audio[key]
        assert (asms, azc) == (sms, zc)
        # AUDIO_WINDOW_SCHEMA stores rms as float32
        assert abs(arms - rms) < 1e-6


# --------------------------- integer-DCT pHash -----------------------------


def test_phash_planted_near_dups(spark):
    """Planted perturbed copies land within hamming 6 of their base;
    unrelated images stay far away (the banded join equals an
    all-pairs brute force on this corpus)."""
    from hummingbird_spark.operators.multimodal import (
        image_phash,
        phash_near_duplicate_pairs,
        synth_images,
    )

    hashed = image_phash(synth_images(spark, 24)).localCheckpoint()
    pairs = {(r.a, r.b): r.hamming
             for r in phash_near_duplicate_pairs(hashed).collect()}
    planted = {(m - 1, m) for m in range(24) if m % 4 == 1}
    assert set(pairs) == planted
    assert all(h <= 6 for h in pairs.values())
    # brute-force equality: banding loses nothing at this threshold
    hs = {r.media_id: r.phash for r in hashed.collect()}
    brute = {}
    for a in hs:
        for b in hs:
            if a < b:
                d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
                if d <= 6:
                    brute[(a, b)] = d
    assert brute == pairs


def test_phash_partition_invariant(spark):
    from hummingbird_spark.operators.multimodal import (
        image_phash,
        synth_images,
    )

    imgs = synth_images(spark, 16)
    one = {r.media_id: r.phash
           for r in image_phash(imgs.coalesce(1)).collect()}
    many = {r.media_id: r.phash
            for r in image_phash(imgs.repartition(5)).collect()}
    assert one == many and len(one) == 16


def test_phash_rejects_non_raw_payload(spark):
    from hummingbird_spark.operators.multimodal import (
        image_phash,
        synth_media,
    )

    with pytest.raises(Exception, match="HBIG"):
        image_phash(synth_media(spark, 3)).collect()


# --------------------------- video frame pHash -----------------------------


def _raw_frame(src_mid: int, f: int) -> bytes:
    import hashlib

    from hummingbird_spark.operators.multimodal import _IMG_PERT_AMP

    return bytes(
        b % (255 - _IMG_PERT_AMP)
        for k in range(16)
        for b in hashlib.md5(f"vid|{src_mid}|{f}|{k}".encode()).digest())


def test_video_near_dups_planted_and_partial(spark):
    """Planted per-frame perturbed copies match on all frames; a
    half-overlap video passes only when the threshold allows it."""
    from hummingbird_spark.operators.multimodal import (
        _VID_MAGIC,
        VID_FRAMES,
        synth_videos,
        video_frame_hashes,
        video_near_duplicates,
    )

    vids = synth_videos(spark, 8)
    # custom video 900: frames 0-2 copied from video 0, frames 3-5
    # from the unrelated video 6 -> exactly 3 matched frame pairs
    # against each
    mixed = (_VID_MAGIC
             + b"".join(_raw_frame(0, f) for f in range(3))
             + b"".join(_raw_frame(6, f) for f in range(3, 6)))
    extra = spark.createDataFrame(
        [(900, mixed)], "media_id long, data binary")
    fh = video_frame_hashes(
        vids.select("media_id", "data").unionByName(extra)
    ).localCheckpoint()

    at4 = {(r.a, r.b): r.matched_frames
           for r in video_near_duplicates(fh).collect()}
    assert at4 == {(0, 1): VID_FRAMES, (4, 5): VID_FRAMES}

    at3 = {(r.a, r.b): r.matched_frames
           for r in video_near_duplicates(
               fh, min_matched_frames=3).collect()}
    assert at3[(0, 900)] == 3 and at3[(6, 900)] == 3
    assert at3[(0, 1)] == VID_FRAMES


def test_video_frame_hashes_rejects_non_hbvi(spark):
    from hummingbird_spark.operators.multimodal import (
        synth_images,
        video_frame_hashes,
    )

    with pytest.raises(Exception, match="HBVI"):
        video_frame_hashes(synth_images(spark, 2)).collect()


def test_phash_pairs_reject_threshold_past_pigeonhole(spark):
    from hummingbird_spark.operators.multimodal import (
        image_phash,
        phash_near_duplicate_pairs,
        synth_images,
    )

    hashed = image_phash(synth_images(spark, 4))
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_duplicate_pairs(hashed, max_hamming=8)


def test_audio_window_features_full_window_contract(spark):
    """RIFF branch window contract matches wav_window_features: a
    zero-frame WAV and a clip shorter than one window emit NOTHING
    (the old code emitted a partial window and divided by zero on
    empty PCM)."""
    import struct

    from hummingbird_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_window_features,
    )

    def riff(n_samples, sr=8000):
        pcm = struct.pack(f"<{n_samples}h",
                          *[(i * 997) % 1000 - 500
                            for i in range(n_samples)])
        hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr,
                                       sr * 2, 2, 16)
               + b"data" + struct.pack("<I", len(pcm)))
        return hdr + pcm

    win_ms = 100  # 800 samples at 8 kHz
    rows = [
        (0, "audio", bytearray(riff(0)), {"duration_ms": 0}),
        (1, "audio", bytearray(riff(100)), {"duration_ms": 12}),
        (2, "audio", bytearray(riff(2000)), {"duration_ms": 250}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = audio_window_features(media, window_ms=win_ms).collect()
    # clip 0 (empty) and clip 1 (sub-window) emit nothing; clip 2
    # emits exactly its 2 FULL windows (2000 // 800), no partial
    assert sorted((r.media_id, r.window_idx) for r in got) == \
        [(2, 0), (2, 1)]


def test_video_alignment_separates_shifted_from_shuffled(spark):
    """Temporal alignment catches what bag-of-frames cannot: a
    shift-by-2 copy aligns (one offset, consecutive run 4); a
    shuffled-frames copy shares the whole content bag (6 matched
    frames — MORE than the shifted copy) but its offsets scatter, so
    the longest run collapses to 1 and `aligned` is false. Results
    are partition-invariant."""
    from hummingbird_spark.operators.multimodal import (
        synth_videos_temporal,
        video_alignment,
        video_frame_hashes,
    )

    media = synth_videos_temporal(spark, 8)
    base = None
    for parts in (1, 7, 32):
        fh = video_frame_hashes(media.repartition(parts))
        got = sorted(
            tuple(r) for r in video_alignment(
                fh, max_hamming=6, min_matched_frames=2,
                min_aligned_run=2).collect())
        if base is None:
            base = got
        assert got == base
    by_pair = {(r[0], r[1]): r for r in base}
    for a in (0, 4):  # shifted copies: (0,1), (4,5)
        mf, off, af, run, aligned = by_pair[(a, a + 1)][2:]
        assert (mf, off, af, run, aligned) == (4, 2, 4, 4, True)
    for a in (2, 6):  # shuffled copies: (2,3), (6,7)
        mf, off, af, run, aligned = by_pair[(a, a + 1)][2:]
        assert mf == 6 and run == 1 and aligned is False


def test_audio_near_dup_fingerprints_are_volume_invariant(spark):
    """A floor(3*s/4)-scaled copy keeps every sample's sign class, so
    its per-window zc sequence — and hence its fingerprint sequence —
    is IDENTICAL to the source while rms/peak drift; the banded join
    finds exactly the planted pairs, partition-invariantly."""
    from hummingbird_spark.operators.multimodal import (
        audio_near_duplicates,
        synth_wav_dups,
        wav_window_features,
    )

    media = synth_wav_dups(spark, 16)
    w = wav_window_features(media, window_ms=4)
    rows = {(r.media_id, r.window_idx): (r.rms, r.zero_crossings)
            for r in w.collect()}
    for src in (0, 4, 8, 12):
        idxs = sorted(i for m, i in rows if m == src)
        assert idxs == sorted(i for m, i in rows if m == src + 1)
        for i in idxs:
            s_rms, s_zc = rows[(src, i)]
            c_rms, c_zc = rows[(src + 1, i)]
            assert c_zc == s_zc          # invariant
            assert c_rms < s_rms         # the amplitude really moved

    base = None
    for parts in (1, 7, 32):
        got = sorted(
            tuple(r) for r in audio_near_duplicates(
                wav_window_features(media.repartition(parts),
                                    window_ms=4),
                min_matched=4).collect())
        base = got if base is None else base
        assert got == base
    assert [(a, b) for a, b, _ in base] == \
        [(0, 1), (4, 5), (8, 9), (12, 13)]


def test_audio_alignment_catches_what_rigid_matching_misses(spark):
    """Time-shifted scaled copies (2 fresh windows prepended) are
    invisible to the position-rigid audio_near_duplicates BY
    CONSTRUCTION; the offset-tolerant alignment recovers every
    planted pair at offset 2 with a full consecutive run,
    partition-invariantly."""
    from hummingbird_spark.operators.multimodal import (
        audio_alignment,
        audio_near_duplicates,
        synth_wav_shifted,
        wav_window_features,
    )

    media = synth_wav_shifted(spark, 16)
    w = wav_window_features(media, window_ms=4)
    assert audio_near_duplicates(w, min_matched=4).collect() == []

    base = None
    for parts in (1, 7, 32):
        got = sorted(tuple(r) for r in audio_alignment(
            wav_window_features(media.repartition(parts),
                                window_ms=4),
            min_matched=4, min_aligned_run=3).collect())
        base = got if base is None else base
        assert got == base
    assert [(a, b) for a, b, *_ in base] == \
        [(0, 1), (4, 5), (8, 9), (12, 13)]
    for a, b, mf, off, af, run, aligned in base:
        # n_src_windows - 2 fingerprints, ALL matched consecutively
        n_src = (32 + (a % 3) * 16) * 8 // 32
        assert (mf, off, af, run, aligned) == \
            (n_src - 2, 2, n_src - 2, n_src - 2, True)
