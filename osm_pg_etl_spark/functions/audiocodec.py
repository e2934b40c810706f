"""Pure-numpy WAV (RIFF/PCM) codec — a real audio decoder; no gate runs
it (the reference pipeline never decodes media).

Uncompressed PCM WAV is a chunked header over raw little-endian samples:
decodable (and encodable) with numpy alone, so audio payloads flow
through ``mapInPandas`` as genuine waveforms — header parsing, channel
de-interleaving, sample-width scaling all real. Compressed audio
(MP3/AAC/Opus) is rejected loudly; a libav deployment replaces only
:func:`decode_wav`'s rejection branch.

Format support: PCM (format tag 1) 8/16/32-bit int samples, any channel
count and rate; chunk walker tolerates extra chunks (LIST, fact) and
odd-length padding per the RIFF spec.
"""

from __future__ import annotations

import numpy as np

_WIDTH_DTYPE = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM bytes → ((n_samples, n_channels) float64 in [-1, 1],
    sample_rate). 8-bit is unsigned per the spec; 16/32-bit signed."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = None
    data = None
    fact_samples = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        size = int.from_bytes(payload[i + 4:i + 8], "little")
        body = payload[i + 8:i + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            # dwSampleLength: decoded samples per channel — the authority
            # for compressed formats whose final block is zero-padded
            fact_samples = int.from_bytes(body[0:4], "little")
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")

    def _truncate(samples: np.ndarray) -> np.ndarray:
        # fact declares fewer samples than the blocks decode to ->
        # the excess is final-block padding, not audio; dropping it keeps
        # n_samples/duration/RMS/ZCR honest for externally produced
        # files. A fact >= the decoded count (or absent) changes nothing.
        if fact_samples is not None and 0 < fact_samples < samples.shape[0]:
            return samples[:fact_samples]
        return samples
    tag = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if tag == 7:  # G.711 μ-law: one byte per sample
        if channels <= 0:
            raise ValueError(f"unsupported WAV layout bits={bits} "
                             f"channels={channels}")
        count = len(data) // channels * channels
        lin = ulaw_decode(np.frombuffer(data, dtype=np.uint8, count=count))
        return (_truncate(lin.reshape(-1, channels).astype(np.float64)
                          / 32768.0), rate)
    if tag == 0x11:  # IMA ADPCM (DVI4), mono or stereo
        if channels == 1:
            lin = adpcm_decode(data, block_align)[:, None]
        elif channels == 2:
            lin = adpcm_decode_stereo(data, block_align)
        else:
            raise NotImplementedError(
                "IMA ADPCM decode supports 1 or 2 channels only")
        return _truncate(lin.astype(np.float64) / 32768.0), rate
    if tag != 1:
        raise NotImplementedError(
            f"only PCM / μ-law / IMA-ADPCM WAV decodes without an audio "
            f"library (format tag {tag})")
    width = bits // 8
    dtype = _WIDTH_DTYPE.get(width)
    if dtype is None or channels <= 0:
        raise ValueError(f"unsupported WAV layout bits={bits} "
                         f"channels={channels}")
    count = len(data) // (width * channels) * channels
    raw = np.frombuffer(data, dtype=dtype, count=count)
    samples = raw.reshape(-1, channels).astype(np.float64)
    if width == 1:
        samples = (samples - 128.0) / 128.0
    else:
        samples = samples / float(2 ** (bits - 1))
    return samples, rate


def encode_wav(samples: np.ndarray, rate: int, bits: int = 16) -> bytes:
    """(n, channels) float in [-1, 1] → PCM WAV bytes (16-bit default)."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    if bits != 16:
        raise ValueError("encoder emits 16-bit PCM only")
    pcm = np.clip(np.round(a * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    channels = a.shape[1]
    block = channels * 2
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block).to_bytes(4, "little")
           + block.to_bytes(2, "little") + (16).to_bytes(2, "little"))
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


# --------------------------------------------------- G.711 μ-law (tag 7)

_ULAW_BIAS, _ULAW_CLIP = 0x84, 32635


def ulaw_encode(linear: np.ndarray) -> np.ndarray:
    """int16 linear → μ-law bytes (G.711, CCITT segment encoding),
    vectorized."""
    x = np.asarray(linear, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    # exponent = highest set bit position above bit 7 (segments 0..7)
    exp = np.zeros_like(mag)
    for e in range(7, 0, -1):
        exp = np.where((mag >> (e + 7)) & 1 == 1, np.maximum(exp, e), exp)
    man = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | man) & 0xFF).astype(np.uint8)


def ulaw_decode(encoded: np.ndarray) -> np.ndarray:
    """μ-law bytes → int16-range int32 linear (exact CCITT inverse),
    vectorized."""
    u = ~np.asarray(encoded, dtype=np.uint8) & 0xFF
    exp = (u >> 4) & 0x07
    man = u & 0x0F
    mag = (((man.astype(np.int32) << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(u & 0x80, -mag, mag)


def encode_wav_ulaw(samples: np.ndarray, rate: int) -> bytes:
    """(n,) or (n, ch) float in [-1, 1] → μ-law WAV (format tag 7)."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.round(a * 32767.0), -32768, 32767).astype(np.int32)
    data = ulaw_encode(pcm.reshape(-1)).tobytes()
    channels = a.shape[1]
    fmt = (b"fmt " + (18).to_bytes(4, "little")
           + (7).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * channels).to_bytes(4, "little")
           + channels.to_bytes(2, "little") + (8).to_bytes(2, "little")
           + (0).to_bytes(2, "little"))   # cbSize = 0 (required, tag != 1)
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


# ------------------------------------------------ IMA ADPCM (tag 0x11)

_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
_ADPCM_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM state transition (spec dequantizer): returns the
    new (predictor, step index) after absorbing one 4-bit code."""
    step = _ADPCM_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _ADPCM_INDEX_ADJ[nibble & 7]))
    return pred, index


def adpcm_decode(data: bytes, block_align: int) -> np.ndarray:
    """IMA ADPCM mono blocks → int32 linear samples. Each block:
    2-byte predictor seed, 1-byte step index, 1 reserved byte, then
    4-bit codes low-nibble-first — (block_align − 4)·2 + 1 samples.
    Sequential by construction (each code updates the predictor);
    payloads are per-row metadata audio, decoded inside the Arrow batch."""
    if block_align < 5:
        raise ValueError(f"IMA ADPCM block_align {block_align} too small")
    out: list[int] = []
    for off in range(0, len(data), block_align):
        end = min(off + block_align, len(data))
        if end - off < 4:
            # 1-3 trailing bytes cannot even hold a block header — that's
            # corruption, not a short final block; fail loudly rather
            # than silently dropping it.
            raise ValueError(
                f"IMA ADPCM stream ends in a {end - off}-byte fragment "
                f"(block header needs 4 bytes)")
        pred = int.from_bytes(data[off:off + 2], "little", signed=True)
        index = max(0, min(88, data[off + 2]))
        out.append(pred)
        # a short FINAL block (encoders truncate to the real sample
        # count) decodes its remaining nibbles like any other
        for b in data[off + 4:end]:
            for nib in (b & 0x0F, b >> 4):
                pred, index = _adpcm_step(pred, index, nib)
                out.append(pred)
    return np.asarray(out, dtype=np.int32)


def adpcm_decode_stereo(data: bytes, block_align: int) -> np.ndarray:
    """Stereo IMA ADPCM blocks → (n, 2) int32 linear samples. The
    standard WAV interleave: per block, a 4-byte header per channel
    (left then right), then the codes in 4-byte (8-nibble) groups
    alternating left/right — each channel decodes as an independent
    IMA state machine."""
    if block_align < 16 or block_align % 8:
        raise ValueError(
            f"stereo IMA ADPCM block_align {block_align} invalid "
            "(needs >= 16 and a multiple of 8)")
    chans: tuple[list[int], list[int]] = ([], [])
    for off in range(0, len(data), block_align):
        end = min(off + block_align, len(data))
        if end - off < 8:
            raise ValueError(
                f"stereo IMA ADPCM stream ends in a {end - off}-byte "
                f"fragment (two block headers need 8 bytes)")
        state = []
        for c in range(2):
            pred = int.from_bytes(data[off + 4 * c:off + 4 * c + 2],
                                  "little", signed=True)
            index = max(0, min(88, data[off + 4 * c + 2]))
            chans[c].append(pred)
            state.append((pred, index))
        pos = off + 8
        while pos < end:
            if end - pos < 8:
                raise ValueError(
                    "stereo IMA ADPCM block ends mid-group (codes come "
                    "in 4-byte-per-channel pairs)")
            for c in range(2):
                pred, index = state[c]
                for b in data[pos + 4 * c:pos + 4 * c + 4]:
                    for nib in (b & 0x0F, b >> 4):
                        pred, index = _adpcm_step(pred, index, nib)
                        chans[c].append(pred)
                state[c] = (pred, index)
            pos += 8
    return np.stack([np.asarray(c, dtype=np.int32) for c in chans],
                    axis=1)


def adpcm_encode(samples: np.ndarray, block_align: int = 256) -> bytes:
    """int16 mono linear → IMA ADPCM blocks (the standard quantizer:
    greedy bit-by-bit against the current step). Forward path written
    from the spec independently of :func:`adpcm_decode`'s inverse, so a
    round trip is a two-sided check; last partial block zero-padded."""
    pcm = np.asarray(samples, dtype=np.int32).reshape(-1)
    per_block = (block_align - 4) * 2 + 1
    out = bytearray()
    index = 0
    for off in range(0, len(pcm), per_block):
        chunk = pcm[off:off + per_block]
        pred = int(chunk[0])
        if len(chunk) > 1:
            # seed the step index near the block's first delta — avoids
            # the slope-overload ramp a cold index=0 (step 7) causes on
            # signals that move immediately (encoder-side choice only;
            # the decoder reads whatever index the header carries)
            d0 = abs(int(chunk[1]) - pred)
            index = int(np.searchsorted(_ADPCM_STEPS, max(d0, 7)))
            index = max(0, min(88, index))
        out += int(pred).to_bytes(2, "little", signed=True)
        out.append(index)
        out.append(0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = _ADPCM_STEPS[index]
            diff = int(s) - pred
            code = 0x8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            pred, index = _adpcm_step(pred, index, code)
            nibbles.append(code)
        nibbles += [0] * ((per_block - 1) - len(nibbles))
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


def adpcm_encode_stereo(samples: np.ndarray,
                        block_align: int = 256) -> bytes:
    """(n, 2) int16-range linear → stereo IMA ADPCM blocks: a 4-byte
    header per channel, then 4-byte nibble groups alternating L/R —
    the inverse layout of :func:`adpcm_decode_stereo`, written forward
    from the spec so a round trip is a two-sided check."""
    if block_align < 16 or block_align % 8:
        raise ValueError(
            f"stereo IMA ADPCM block_align {block_align} invalid "
            "(needs >= 16 and a multiple of 8)")
    pcm = np.asarray(samples, dtype=np.int32)
    if pcm.ndim != 2 or pcm.shape[1] != 2:
        raise ValueError("stereo encoder expects (n, 2) samples")
    per_block = block_align - 8 + 1          # per channel, incl. header
    out = bytearray()
    for off in range(0, len(pcm), per_block):
        chunk = pcm[off:off + per_block]
        nibbles: list[list[int]] = []
        for c in range(2):
            pred = int(chunk[0, c])
            index = 0
            if len(chunk) > 1:
                d0 = abs(int(chunk[1, c]) - pred)
                index = int(np.searchsorted(_ADPCM_STEPS, max(d0, 7)))
                index = max(0, min(88, index))
            out += int(pred).to_bytes(2, "little", signed=True)
            out.append(index)
            out.append(0)
            nibs: list[int] = []
            for s in chunk[1:, c]:
                step = _ADPCM_STEPS[index]
                diff = int(s) - pred
                code = 0x8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    code |= 4
                    diff -= step
                if diff >= step >> 1:
                    code |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    code |= 1
                pred, index = _adpcm_step(pred, index, code)
                nibs.append(code)
            nibs += [0] * ((per_block - 1) - len(nibs))
            nibbles.append(nibs)
        for g in range(0, per_block - 1, 8):
            for c in range(2):
                grp = nibbles[c][g:g + 8]
                for lo, hi in zip(grp[0::2], grp[1::2]):
                    out.append(lo | (hi << 4))
    return bytes(out)


def encode_wav_adpcm(samples: np.ndarray, rate: int,
                     block_align: int = 256) -> bytes:
    """(n,) or (n, 2) float in [-1, 1] → mono/stereo IMA ADPCM WAV
    (format tag 0x11, standard L/R 4-byte-group interleave when
    stereo)."""
    a = np.asarray(samples, dtype=np.float64)
    channels = 2 if a.ndim == 2 and a.shape[1] == 2 else 1
    pcm = np.clip(np.round(a * 32767.0), -32768, 32767).astype(np.int32)
    if channels == 1:
        pcm = pcm.reshape(-1)
        data = adpcm_encode(pcm, block_align)
        per_block = (block_align - 4) * 2 + 1
        n_samples = len(pcm)
    else:
        data = adpcm_encode_stereo(pcm, block_align)
        per_block = block_align - 7
        n_samples = pcm.shape[0]
    fmt = (b"fmt " + (20).to_bytes(4, "little")
           + (0x11).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block_align // per_block + 1).to_bytes(4, "little")
           + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
           + (2).to_bytes(2, "little")          # cbSize
           + per_block.to_bytes(2, "little"))   # samples per block
    # fact chunk (required for non-PCM): the true per-channel sample
    # count, so the decoder drops the zero-padded final-block tail
    fact = (b"fact" + (4).to_bytes(4, "little")
            + n_samples.to_bytes(4, "little"))
    body = (b"WAVE" + fmt + fact
            + b"data" + len(data).to_bytes(4, "little") + data)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def audio_features(samples: np.ndarray, rate: int) -> dict:
    """Waveform summary: duration, RMS, peak, zero-crossing rate (mean
    over channels; ZCR = sign changes / (n-1) on the first channel)."""
    n = samples.shape[0]
    if n == 0:
        return {"n_samples": 0, "duration_ms": 0.0, "rms": 0.0,
                "peak": 0.0, "zcr": 0.0}
    rms = float(np.sqrt(np.mean(samples ** 2)))
    peak = float(np.max(np.abs(samples)))
    ch0 = samples[:, 0]
    zcr = (float(np.mean(np.signbit(ch0[1:]) != np.signbit(ch0[:-1])))
           if n > 1 else 0.0)
    return {"n_samples": int(n), "duration_ms": n * 1000.0 / rate,
            "rms": rms, "peak": peak, "zcr": zcr}
