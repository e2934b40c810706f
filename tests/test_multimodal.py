"""Codec tests of the video and audio legs: baseline and progressive
JPEG (functions.jpegcodec), Motion-JPEG AVI (functions.avicodec) and
PCM / mu-law / IMA-ADPCM WAV (functions.audiocodec). These pure-numpy
codecs no longer back a gate; the multimodal operator and the media
gates are retired."""


def test_wav_roundtrip_stereo():
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import decode_wav, encode_wav

    rng = np.random.default_rng(1)
    s = rng.uniform(-1, 1, (100, 2))
    back, rate = decode_wav(encode_wav(s, 44100))
    assert rate == 44100 and back.shape == (100, 2)
    # 16-bit quantization + the standard 32767-encode/32768-decode scale
    assert np.abs(back - s).max() < 2.0 / 32768


def test_wav_chunk_walker_skips_extra_chunks():
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import (
        audio_features, decode_wav, encode_wav)

    w = encode_wav(np.array([0.5, -0.5, 0.5]), 8000)
    body = w[12:]
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO" + body
    w2 = b"RIFF" + (4 + len(extra)).to_bytes(4, "little") + b"WAVE" + extra
    assert audio_features(*decode_wav(w2)) == \
        audio_features(*decode_wav(w))


def test_wav_8bit_unsigned_per_spec():
    from osm_pg_etl_spark.functions.audiocodec import decode_wav

    pcm8 = bytes([128, 255, 0, 128])
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (8).to_bytes(2, "little"))
    w = (b"RIFF" + (4 + len(fmt) + 8 + len(pcm8)).to_bytes(4, "little")
         + b"WAVE" + fmt + b"data" + len(pcm8).to_bytes(4, "little")
         + pcm8)
    s, rate = decode_wav(w)
    assert rate == 8000
    assert list(s[:, 0]) == [0.0, 127 / 128, -1.0, 0.0]


def test_wav_rejects_compressed_loudly():
    import pytest as _pytest

    from osm_pg_etl_spark.functions.audiocodec import decode_wav

    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (85).to_bytes(2, "little")   # MP3 format tag
           + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
           + (8000).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (0).to_bytes(2, "little"))
    w = (b"RIFF" + (4 + len(fmt) + 8).to_bytes(4, "little") + b"WAVE"
         + fmt + b"data" + (0).to_bytes(4, "little"))
    with _pytest.raises(NotImplementedError, match="audio library"):
        decode_wav(w)


def test_codec_property_roundtrips():
    """Property: encode→decode is within quantization error for
    arbitrary waveforms (WAV), across arbitrary shapes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osm_pg_etl_spark.functions.audiocodec import decode_wav, encode_wav

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 200), st.integers(1, 3), st.integers(0, 2**32 - 1))
    def wav_rt(n, ch, seed):
        rng = np.random.default_rng(seed)
        s = rng.uniform(-1, 1, (n, ch))
        back, rate = decode_wav(encode_wav(s, 16000))
        assert rate == 16000 and back.shape == (n, ch)
        assert np.abs(back - s).max() < 2.0 / 32768

    wav_rt()


def test_ulaw_codec_exact_inverse_and_wav_roundtrip():
    """ulaw_decode is the exact CCITT inverse on all 256 code points
    (decode∘encode∘decode = decode), companding error is bounded, and a
    format-tag-7 WAV decodes through the sniffing decode_wav entry."""
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import (
        decode_wav, encode_wav_ulaw, ulaw_decode, ulaw_encode)

    codes = np.arange(256, dtype=np.uint8)
    lin = ulaw_decode(codes)
    assert (ulaw_decode(ulaw_encode(lin)) == lin).all()
    assert ulaw_decode(np.array([0xFF], dtype=np.uint8))[0] == 0
    xs = np.arange(-32768, 32768, 7, dtype=np.int32)
    err = np.abs(ulaw_decode(ulaw_encode(xs)) - np.clip(xs, -32635, 32635))
    assert err.max() <= 1024  # half the top-segment step

    sig = np.sin(np.arange(300) / 9.0) * 0.7
    dec, rate = decode_wav(encode_wav_ulaw(sig, 8000))
    assert rate == 8000 and dec.shape == (300, 1)
    assert np.abs(dec[:, 0] - sig).max() < 0.02


def test_adpcm_codec_tracks_signal_and_blocks():
    """IMA ADPCM round trip: >25 dB SNR on a sine (the forward quantizer
    is written independently of the decoder), constant signals track to
    within one step, and multi-block payloads decode across block seams."""
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import (
        adpcm_decode, adpcm_encode, decode_wav, encode_wav_adpcm)

    sig = np.sin(np.arange(1200) / 7.0) * 0.6   # spans >2 blocks at 256
    pcm = np.clip(np.round(sig * 32767), -32768, 32767).astype(np.int32)
    dec = adpcm_decode(adpcm_encode(pcm, 256), 256)[:len(pcm)]
    snr = 10 * np.log10((pcm.astype(float) ** 2).mean()
                        / ((dec - pcm) ** 2).mean())
    assert snr > 25, snr

    wav = encode_wav_adpcm(sig, 8000)
    d, rate = decode_wav(wav)
    assert rate == 8000
    assert np.abs(d[:len(sig), 0] - sig).max() < 0.05

    const, _ = decode_wav(encode_wav_adpcm(np.full(80, 0.25), 8000))
    assert np.abs(const[:80, 0] - 0.25).max() < 0.01


def test_jpeg_block_constant_flat_quant_roundtrips_exactly():
    """r10: baseline JPEG decode for real. Block-constant images with
    flat quantization are DC-only and must round-trip bit-exactly
    (gray AND colored constants — Cb/Cr stay exact), including
    non-multiple-of-8 dimensions (edge padding crops back)."""
    import numpy as np

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    blocks = rng.integers(10, 240, (3, 4), dtype=np.uint8)
    gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    rgb = np.stack([gray] * 3, 2)
    assert np.array_equal(decode_jpeg(encode_jpeg(
        rgb, quant=np.ones((8, 8)))), rgb)

    const = np.zeros((16, 24, 3), np.uint8)
    const[:] = (200, 30, 90)
    assert np.array_equal(decode_jpeg(encode_jpeg(
        const, quant=np.ones((8, 8)))), const)

    odd = np.stack([np.full((13, 21), 77, np.uint8)] * 3, 2)
    out = decode_jpeg(encode_jpeg(odd, quant=np.ones((8, 8))))
    assert out.shape == (13, 21, 3) and np.array_equal(out, odd)

    # 4:2:2 / 4:2:0 exercise the multi-block-MCU and chroma-upsample
    # decode paths; constant chroma makes box-down + nearest-up exact
    for ss in ("422", "420"):
        out = decode_jpeg(encode_jpeg(const, quant=np.ones((8, 8)),
                                      subsample=ss))
        assert np.array_equal(out, const), ss

    # review finding: a quant table outside the 8-bit DQT range must
    # fail loudly, never quantize by one number and declare another
    import pytest as _pytest
    with _pytest.raises(ValueError, match="quant"):
        encode_jpeg(const, quant=np.full((8, 8), 300))


def test_jpeg_single_component_scan_is_noninterleaved():
    """T.81 A.2 (review finding): a one-component scan decodes in
    component raster order even when the SOF declares 2x2 sampling
    factors — blocks must not be scrambled into MCU groups. Built by
    patching our encoder's gray output to a 1-component SOF/SOS with
    h=v=2, which changes nothing about the (already raster-ordered)
    entropy data."""
    import struct

    import numpy as np

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    blocks = np.array([[40, 60, 90, 110], [140, 160, 200, 220]],
                      dtype=np.uint8)
    gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)

    # grayscale 1-component encode: reuse the 3-component encoder's Y
    # stream by building the same image and re-emitting headers is
    # complex; instead hand-encode via the public API at 4:4:4 and strip
    # to one component is not possible — so synthesize directly: encode
    # a gray RGB, then decode and compare against a hand-patched
    # single-component variant produced from the same block stream.
    full = encode_jpeg(np.stack([gray] * 3, 2), quant=np.ones((8, 8)))
    ref = decode_jpeg(full)
    assert np.array_equal(ref[:, :, 0], gray)

    # hand-build a single-component bitstream: per-block DC-only codes
    # using the same canonical tables the decoder reads from any of our
    # files — easiest correct construction: re-encode each 8x8 block of
    # a 1-comp image through the encoder's own block writer
    from osm_pg_etl_spark.functions import jpegcodec as J

    dc_tbl = J._encode_huffman_lengths(*J._DC_LUMA)
    ac_tbl = J._encode_huffman_lengths(*J._AC_LUMA)
    bits, pred = [], 0
    for by in range(gray.shape[0] // 8):          # raster order
        for bx in range(gray.shape[1] // 8):
            blk = gray[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
            zq = np.round(J._dct2(blk)).astype(np.int64)
            pred = J._encode_block(zq.reshape(-1)[J._ZIGZAG], pred,
                                   dc_tbl, ac_tbl, bits)
    bits += [1] * ((8 - len(bits) % 8) % 8)
    raw = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for bit in bits[i:i + 8]:
            byte = (byte << 1) | bit
        raw.append(byte)
        if byte == 0xFF:
            raw.append(0x00)

    def seg(marker, body):
        return (bytes([0xFF, marker])
                + struct.pack(">H", len(body) + 2) + body)

    zzq = np.ones(64, dtype=np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + zzq.tobytes())
    h, w = gray.shape
    # SOF declares h=v=2 for the single component — the legal-but-tricky
    # layout some grayscale encoders emit
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1])
              + bytes([1, 0x22, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(J._DC_LUMA[0])
               + bytes(J._DC_LUMA[1]))
           + seg(0xC4, bytes([0x10]) + bytes(J._AC_LUMA[0])
                 + bytes(J._AC_LUMA[1])))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    jpg = b"\xFF\xD8" + dqt + sof + dht + sos + bytes(raw) + b"\xFF\xD9"
    out = decode_jpeg(jpg)
    assert np.array_equal(out[:, :, 0], gray)


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn: the encoder emits restart markers (DC reset + byte
    realignment) every N MCUs and the decoder's restart path must
    reproduce the exact no-restart pixels. (The reader's ≥25-bit
    lookahead guarantees the marker is already consumed at every
    boundary — see clear_restart's docstring.)"""
    import numpy as np

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(17)
    blocks = rng.integers(5, 250, (4, 6), dtype=np.uint8)
    gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    rgb = np.stack([gray] * 3, 2)
    want = decode_jpeg(encode_jpeg(rgb, quant=np.ones((8, 8))))
    assert np.array_equal(want, rgb)
    for interval in (1, 2, 3, 5, 7, 24):
        wav = encode_jpeg(rgb, quant=np.ones((8, 8)),
                          restart_interval=interval)
        has_rst = any(bytes([0xFF, 0xD0 + i]) in wav for i in range(8))
        # 24 MCUs at interval 24: the boundary is never hit mid-stream
        assert has_rst == (interval < 24), interval
        assert np.array_equal(decode_jpeg(wav), rgb), interval
    # restarts on a textured default-table image: identical to the
    # no-restart decode (restarts change framing, not coefficients)
    tex = np.stack([rng.integers(0, 255, (24, 40), dtype=np.uint8)] * 3, 2)
    a = decode_jpeg(encode_jpeg(tex))
    b = decode_jpeg(encode_jpeg(tex, restart_interval=2))
    assert np.array_equal(a, b)


def test_jpeg_property_roundtrip_hypothesis():
    """Property: for ANY block-constant image and flat tables the round
    trip is exact; for ANY uint8 image with default tables the decoder
    accepts the encoder's output and stays within a coarse error bound
    (no crash, no scrambling)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 4), st.integers(1, 3), st.integers(0, 3),
           st.randoms(use_true_random=False))
    def check(wb, hb, ss_i, rnd):
        ss = ("444", "422", "420", "444")[ss_i]
        rng = np.random.default_rng(rnd.randint(0, 2**31))
        blocks = rng.integers(0, 256, (hb, wb), dtype=np.uint8)
        gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
        rgb = np.stack([gray] * 3, 2)
        out = decode_jpeg(encode_jpeg(rgb, quant=np.ones((8, 8)),
                                      subsample=ss))
        assert np.array_equal(out, rgb)
        noisy = rng.integers(0, 256, rgb.shape, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(noisy))
        # default tables on white noise: lossy but bounded (the K.1
        # table's worst-case quantization error per sample)
        assert dec.shape == noisy.shape
        assert np.abs(dec.astype(int) - noisy.astype(int)).mean() < 64

    check()


def test_jpeg_nonbaseline_sofs_fail_accurately():
    import numpy as np
    import pytest as _pytest

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    wav = bytearray(encode_jpeg(
        np.zeros((8, 8, 3), np.uint8), quant=np.ones((8, 8))))
    sof = wav.index(b"\xFF\xC0")
    for marker, msg in ((0xC3, "non-baseline"), (0xC9, "arithmetic"),
                        (0xCE, "non-baseline")):
        patched = bytearray(wav)
        patched[sof + 1] = marker
        with _pytest.raises(NotImplementedError, match=msg):
            decode_jpeg(bytes(patched))


def test_jpeg_textured_default_tables_snr_and_boundaries():
    """Default K.1 tables on textured content: lossy but faithful
    (>15 dB SNR — real AC coefficients, ZRL/EOB paths); progressive
    SOF2 and non-JPEG magics fail loudly."""
    import numpy as np
    import pytest as _pytest

    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    tex = (rng.integers(0, 50, (24, 40))
           + np.arange(40)[None, :] * 4).astype(np.uint8)
    rgb = np.stack([tex] * 3, 2)
    wav = encode_jpeg(rgb)
    out = decode_jpeg(wav)
    err = out.astype(float) - rgb.astype(float)
    snr = 10 * np.log10((rgb.astype(float) ** 2).mean()
                        / (err ** 2).mean())
    assert snr > 15, snr

    # r11: SOF2 is implemented — a baseline stream merely RELABELED as
    # progressive is malformed (progressive DC and AC travel in separate
    # scans, so Ss=0/Se=63 is illegal) and must fail loudly, not decode
    # to garbage
    relabeled = bytearray(wav)
    sof = relabeled.find(b"\xFF\xC0")
    relabeled[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(relabeled))
    arith = bytearray(wav)
    arith[sof + 1] = 0xC9
    with _pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(bytes(arith))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"NOTAJPEG")


def test_jpeg_progressive_decode_equals_baseline_decode():
    """r11: progressive (SOF2) decode for real. The progressive encoder
    transmits the SAME quantized coefficients as the baseline encoder
    (DC split into first+refinement scans, AC bands with EOB runs and
    correction bits), so the progressive decode must be BIT-IDENTICAL to
    the baseline decode of the same image — every successive-
    approximation branch (new-nonzero insertion, ZRL-in-refinement,
    correction bits riding EOB runs, multi-block EOBn) is covered by
    textured content under both flat and default tables."""
    import numpy as np

    from osm_pg_etl_spark.functions.jpegcodec import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(23)
    for trial in range(9):
        hh, ww = int(rng.integers(4, 40)), int(rng.integers(4, 48))
        img = rng.integers(0, 256, (hh, ww, 3), dtype=np.uint8)
        ss = ("444", "422", "420")[trial % 3]
        qt = None if trial % 2 else np.ones((8, 8))
        base = decode_jpeg(encode_jpeg(img, quant=qt, subsample=ss))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=qt,
                                                   subsample=ss))
        assert np.array_equal(base, prog), (trial, ss)

    # block-constant + flat quant: exact through the 8-scan pipeline,
    # including 4:2:0's non-interleaved grids smaller than the DC grid
    blocks = rng.integers(10, 240, (3, 3), dtype=np.uint8)
    gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    rgb = np.stack([gray] * 3, 2)
    for ss in ("444", "422", "420"):
        out = decode_jpeg(encode_jpeg_progressive(
            rgb, quant=np.ones((8, 8)), subsample=ss))
        assert np.array_equal(out, rgb), ss
    # sparse AC at default tables: long zero runs force ZRL +
    # EOBn paths in both first and refinement AC scans
    sparse = np.full((24, 24), 128, np.uint8)
    sparse[::7, ::5] = 250
    srgb = np.stack([sparse] * 3, 2)
    assert np.array_equal(decode_jpeg(encode_jpeg_progressive(srgb)),
                          decode_jpeg(encode_jpeg(srgb)))


def test_jpeg_progressive_property_hypothesis():
    """Property: progressive decode == baseline decode for ANY uint8
    image, any subsampling, flat or default tables (the two encoders
    quantize identically, so any divergence is a scan-codec bug)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osm_pg_etl_spark.functions.jpegcodec import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    @settings(max_examples=20, deadline=None)
    @given(st.integers(3, 33), st.integers(3, 41), st.integers(0, 2),
           st.booleans(), st.randoms(use_true_random=False))
    def check(hh, ww, ss_i, flat, rnd):
        ss = ("444", "422", "420")[ss_i]
        rng = np.random.default_rng(rnd.randint(0, 2**31))
        img = rng.integers(0, 256, (hh, ww, 3), dtype=np.uint8)
        qt = np.ones((8, 8)) if flat else None
        base = decode_jpeg(encode_jpeg(img, quant=qt, subsample=ss))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=qt,
                                                   subsample=ss))
        assert np.array_equal(base, prog)

    check()


def test_mjpeg_avi_roundtrip_and_features():
    """r11: REAL video decode. MJPEG-AVI container round-trips: block-
    constant flat-quant frames decode bit-exactly; textured default-table
    frames decode identically to a direct per-frame JPEG round-trip (the
    container adds framing, not loss); fps survives the header; non-JPEG
    video chunks and non-AVI bytes fail loudly; features follow the
    closed forms the gate oracle uses."""
    import numpy as np
    import pytest

    from osm_pg_etl_spark.functions.avicodec import (
        decode_avi_mjpeg, encode_avi_mjpeg, video_features)
    from osm_pg_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(31)
    frames = []
    for f in range(4):
        blocks = (20 + f + np.arange(3)[None, :]
                  + np.arange(2)[:, None]).astype(np.uint8)
        gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
        frames.append(np.stack([gray] * 3, 2))
    avi = encode_avi_mjpeg(frames, fps=10.0, quant=np.ones((8, 8)))
    dec, fps = decode_avi_mjpeg(avi)
    assert fps == 10.0 and len(dec) == 4
    assert all(np.array_equal(a, b) for a, b in zip(frames, dec))
    feats = video_features(dec, fps)
    m = 20 + 1.0 + 0.5 + 1.5     # base + (wb-1)/2 + (hb-1)/2 + (n-1)/2
    assert feats["mean_luma"] == 0.299 * m + 0.587 * m + 0.114 * m
    assert feats["motion"] == 0.299 * 1.0 + 0.587 * 1.0 + 0.114 * 1.0
    assert feats["duration_ms"] == 400.0
    # frame sampling: stride 2 keeps frames 0 and 2 (delta 2 per pixel)
    s = video_features(dec, fps, sample_stride=2)
    assert s["n_sampled"] == 2 and s["n_frames"] == 4
    assert s["motion"] == 0.299 * 2.0 + 0.587 * 2.0 + 0.114 * 2.0

    tex = [rng.integers(0, 256, (24, 16, 3), dtype=np.uint8)
           for _ in range(3)]
    dec2, fps2 = decode_avi_mjpeg(encode_avi_mjpeg(tex, fps=25.0))
    assert fps2 == 25.0
    assert all(np.array_equal(d, decode_jpeg(encode_jpeg(t)))
               for d, t in zip(dec2, tex))

    bad = bytearray(avi)
    i = bad.find(b"00dc")
    bad[i + 8:i + 10] = b"XX"
    with pytest.raises(NotImplementedError, match="Motion-JPEG"):
        decode_avi_mjpeg(bytes(bad))
    with pytest.raises(ValueError, match="RIFF"):
        decode_avi_mjpeg(b"NOTANAVI")
    with pytest.raises(ValueError, match="frame"):
        encode_avi_mjpeg([])

    # review finding: size-0 '00dc' chunks are dropped-frame
    # placeholders real capture devices emit — skipped, not fatal
    import struct as _struct
    j = bytes(avi).find(b"00dc")
    padded = avi[:j] + b"00dc" + _struct.pack("<I", 0) + avi[j:]
    k = padded.find(b"movi") - 8       # movi LIST header start
    (old_sz,) = _struct.unpack("<I", padded[k + 4:k + 8])
    padded = (padded[:k + 4] + _struct.pack("<I", old_sz + 8)
              + padded[k + 8:])        # LIST size grows by 8
    riff = (padded[:4]
            + _struct.pack("<I", len(padded) - 8) + padded[8:])
    dec3, fps3 = decode_avi_mjpeg(riff)
    assert fps3 == 10.0 and len(dec3) == 4
    assert all(np.array_equal(a, b) for a, b in zip(frames, dec3))


def test_adpcm_fact_chunk_truncates_final_block_padding():
    """r9 ADVICE: externally produced ADPCM zero-pads the final block,
    inflating n_samples/duration/RMS/ZCR. The fact chunk declares the
    true per-channel sample count; the decoder truncates to it. Our
    encoder now emits fact, so round trips are exact-length for EVERY
    signal length (the property: no length maps to a padded tail)."""
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import (
        audio_features, decode_wav, encode_wav_adpcm)

    for n in (1, 80, 505, 506, 700, 1200):   # around the 505/block seam
        sig = np.sin(np.arange(n) / 5.0) * 0.5
        d, rate = decode_wav(encode_wav_adpcm(sig, 8000))
        assert d.shape == (n, 1), n
        feats = audio_features(d, rate)
        assert feats["n_samples"] == n
        assert feats["duration_ms"] == n * 1000.0 / 8000

    # an EXTERNAL file: padded final block, fact says fewer samples —
    # patch the encoder's fact value down and the decode must follow it
    wav = bytearray(encode_wav_adpcm(np.sin(np.arange(700) / 5.0), 8000))
    fpos = wav.find(b"fact") + 8
    wav[fpos:fpos + 4] = (650).to_bytes(4, "little")
    d, _ = decode_wav(bytes(wav))
    assert d.shape == (650, 1)
    # a fact LARGER than the decoded count must change nothing
    wav[fpos:fpos + 4] = (10_000).to_bytes(4, "little")
    d, _ = decode_wav(bytes(wav))
    assert d.shape[0] > 650 and d.shape[0] < 10_000


def test_ulaw_fact_chunk_truncates_too():
    """tag-7 (μ-law) decode honors a fact chunk spliced in by an external
    encoder (ours emits none — 1 byte/sample needs no padding)."""
    import numpy as np

    from osm_pg_etl_spark.functions.audiocodec import (
        decode_wav, encode_wav_ulaw)

    wav = bytearray(encode_wav_ulaw(np.sin(np.arange(100) / 9.0), 8000))
    dpos = wav.find(b"data")
    fact = b"fact" + (4).to_bytes(4, "little") + (90).to_bytes(4, "little")
    patched = bytes(wav[:dpos]) + fact + bytes(wav[dpos:])
    patched = (patched[:4] + (len(patched) - 8).to_bytes(4, "little")
               + patched[8:])
    d, _ = decode_wav(patched)
    assert d.shape == (90, 1)


def test_wav_rejects_lossy_formats_loudly():
    import numpy as np
    import pytest as _pytest

    from osm_pg_etl_spark.functions.audiocodec import decode_wav, encode_wav

    wav = bytearray(encode_wav(np.zeros(4), 8000))
    wav[20:22] = (85).to_bytes(2, "little")  # format tag 85 = MP3
    with _pytest.raises(NotImplementedError, match="audio"):
        decode_wav(bytes(wav))


def test_adpcm_short_final_block_and_fragment():
    """r8 review: a truncated FINAL block (real encoders cut the last
    block to the sample count) must decode its samples, not vanish; a
    sub-header fragment must raise."""
    import numpy as np
    import pytest as _pytest

    from osm_pg_etl_spark.functions.audiocodec import (
        adpcm_decode, adpcm_encode)

    pcm = np.clip(np.round(np.sin(np.arange(700) / 5.0) * 20000),
                  -32768, 32767).astype(np.int32)
    full = adpcm_encode(pcm, 256)           # 2 blocks: 505 + 195 samples
    # hand-truncate the second block to its real payload: samples 505..699
    # = 195 samples = 1 seed + 194 nibbles = header 4 + 97 data bytes
    cut = full[:256 + 4 + 97]
    dec = adpcm_decode(cut, 256)
    assert len(dec) == 505 + 1 + 194
    assert (dec[:700] == adpcm_decode(full, 256)[:700]).all()
    with _pytest.raises(ValueError, match="fragment"):
        adpcm_decode(full[:256 + 3], 256)


def test_ulaw_wav_rejects_zero_channels():
    import numpy as np
    import pytest as _pytest

    from osm_pg_etl_spark.functions.audiocodec import (
        decode_wav, encode_wav_ulaw)

    wav = bytearray(encode_wav_ulaw(np.zeros(4), 8000))
    wav[22:24] = (0).to_bytes(2, "little")  # channels = 0
    with _pytest.raises(ValueError, match="layout"):
        decode_wav(bytes(wav))

