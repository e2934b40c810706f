"""Pure-numpy baseline JPEG (JFIF) codec, the frame codec of the
Motion-JPEG path in :mod:`.avicodec` (the reference pipeline itself never
decodes media, so this is part of the training-data extension surface,
cf. ``osm-pg-etl.md:31-105`` for where the reference hands data to Python;
no gate runs it).

Scope: baseline sequential DCT (SOF0/1, interleaved or one-scan-per-
component) AND progressive DCT (SOF2 — spectral selection, successive
approximation, EOB runs, AC refinement; r11), 8-bit precision, grayscale
or YCbCr, 4:4:4 / 4:2:2 / 4:2:0 sampling, restart intervals, standard
Huffman/quantization table syntax (multiple tables per DQT/DHT segment,
APPn/COM segments skipped). Arithmetic coding and the
lossless/differential/hierarchical SOF family raise
``NotImplementedError`` loudly — the same honest-boundary pattern the
other codecs use.

Determinism: the IDCT is an orthonormal float64 matrix product and the
final sample is ``clip(round(x), 0, 255)`` — a pure function of the
bitstream on any IEEE-754 platform, so decoded features are
hash-oracle-safe. The encoder (4:4:4 / 4:2:2 / 4:2:0) exists so tests
can synthesize REAL bitstreams: with flat quantization tables a
per-8×8-block-constant image round-trips bit-exactly (constant blocks are
DC-only), while textured images are verified by
energy/SNR bounds like the ADPCM path.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ITU-T T.81 Table K.1/K.2 — only used as encoder defaults.
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

# zigzag order: index i of the zigzag sequence -> raster position
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix (rows = frequencies)."""
    m = np.zeros((8, 8))
    for k in range(8):
        c = math.sqrt(1.0 / 8.0) if k == 0 else math.sqrt(2.0 / 8.0)
        for n in range(8):
            m[k, n] = c * math.cos(math.pi * (2 * n + 1) * k / 16.0)
    return m


_DCT = _dct_matrix()


def _idct2(block: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one 8x8 coefficient block (orthonormal)."""
    return _DCT.T @ block @ _DCT


def _dct2(block: np.ndarray) -> np.ndarray:
    return _DCT @ block @ _DCT.T


def _build_huffman(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) -> value, per T.81 C.2 canonical assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _encode_huffman_lengths(bits: list[int],
                            values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code_length, code), the encoder-side inverse."""
    return {v: (ln, c) for (ln, c), v in _build_huffman(bits, values).items()}


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-RST marker (handled by the caller)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bit = 0
        self.cur = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None:
                self.cur = (self.cur << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            if self.pos >= len(self.data):
                self.marker = 0xD9
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resets DC predictors
                    self.marker = nxt
                    self.pos += 2
                    continue
                else:
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.cur = ((self.cur << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def take(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        v = (self.cur >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.cur &= (1 << self.nbits) - 1
        return v

    def clear_restart(self) -> None:
        """Drop the pending RST marker and realign to the byte boundary.
        The marker is always already consumed here: ``_fill`` buffers to
        ≥25 bits and the largest single ``take`` is 16, so at a restart
        boundary ≥9 unconsumed bits remain — more than the ≤7 possible
        padding bits — meaning the refill that produced them must have
        run into the RST bytes and set ``self.marker``."""
        self.nbits = 0
        self.cur = 0
        self.marker = None

    def decode(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.take(1)
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.12 EXTEND: map t-bit magnitude to the signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF bytes -> (h, w, 3) uint8 RGB (grayscale replicated).

    Baseline sequential (SOF0/1, interleaved or one-scan-per-component)
    AND progressive (SOF2, spectral selection + successive approximation,
    EOB runs, AC refinement) — r11. All scans accumulate into per-
    component coefficient arrays; reconstruction (dequant, orthonormal
    IDCT, chroma upsample, JFIF YCbCr->RGB) runs once at EOI. Real
    entropy decode throughout: canonical Huffman per T.81, DC prediction,
    restart markers per scan.
    """
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[dict] = []
    coefs: list[np.ndarray] = []
    h = w = hmax = vmax = 0
    restart = 0
    progressive = False
    saw_scan = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone markers, no length field
            continue
        if marker in (0xC8, 0xC9, 0xCA, 0xCB, 0xCC):
            raise NotImplementedError("arithmetic-coded JPEG unsupported")
        if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG frame (SOF marker 0x{marker:02X}: "
                "lossless/differential/hierarchical) unsupported; "
                "baseline sequential (SOF0/1) and progressive (SOF2) only")
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        seg = payload[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(seg[i + 1:i + 65], np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 (seq) / SOF2 (prog)
            if seg[0] != 8:
                raise NotImplementedError(
                    f"{seg[0]}-bit sample precision unsupported; "
                    "8-bit only")
            progressive = marker == 0xC2
            h, w = struct.unpack(">HH", seg[1:5])
            n = seg[5]
            for c in range(n):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                c["mcux"], c["mcuy"] = mcux, mcuy
                # non-interleaved scan grid (T.81 A.2.2): the component's
                # OWN sample dims, not the MCU-padded frame grid
                c["bw"] = (-(-w * c["h"] // hmax) + 7) // 8
                c["bh"] = (-(-h * c["v"] // vmax) + 7) // 8
                coefs.append(np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32))
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                nvals = sum(bits)
                values = list(seg[i + 17:i + 17 + nvals])
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_huffman(bits, values)
                i += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                ci = next(i for i, x in enumerate(comps) if x["id"] == cs)
                scan.append({**comps[ci], "ci": ci, "dc": tt >> 4,
                             "ac": tt & 0x0F})
            ss, se, ahl = seg[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            if progressive:
                # T.81 B.2.3: progressive scans carry EITHER DC (Ss=Se=0)
                # or a single component's AC band (1 <= Ss <= Se <= 63)
                if ss == 0 and se != 0:
                    raise ValueError(
                        "malformed progressive scan: Ss=0 requires Se=0 "
                        "(DC and AC travel in separate scans)")
                if ss > 0 and ns != 1:
                    raise ValueError(
                        "malformed progressive scan: AC bands are "
                        "single-component")
            else:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan_coefs(payload, pos + seglen, scan, coefs,
                                     huff_dc, huff_ac, restart,
                                     progressive, ss, se, ah, al)
            saw_scan = True
            continue
        pos += seglen
    if not saw_scan:
        raise ValueError("JPEG ended without an SOS scan")
    return _reconstruct(comps, coefs, qt, h, w, hmax, vmax)


def _next_marker(payload: bytes, pos: int) -> int:
    """Skip entropy bytes / stuffing / stray RSTn after a scan; return
    the position of the next real marker's 0xFF."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            if 0xD0 <= payload[pos + 1] <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    return n


def _decode_scan_coefs(payload: bytes, pos: int, scan: list[dict],
                       coefs: list[np.ndarray], huff_dc: dict,
                       huff_ac: dict, restart: int, progressive: bool,
                       ss: int, se: int, ah: int, al: int) -> int:
    """Decode one entropy-coded scan into the coefficient arrays (zigzag
    index order); returns the payload position of the next marker.
    Handles all five scan shapes: sequential (interleaved or single-
    component), progressive DC first/refine (interleaved allowed) and
    progressive AC first/refine (single-component by spec)."""
    reader = _BitReader(payload, pos)
    pred = [0] * len(scan)
    state = {"eobrun": 0}

    def seq_block(c: dict, ci: int, blk: np.ndarray) -> None:
        t = reader.decode(huff_dc[c["dc"]])
        pred[ci] += _extend(reader.take(t), t)
        blk[0] = pred[ci]
        k = 1
        while k < 64:
            rs = reader.decode(huff_ac[c["ac"]])
            r, s = rs >> 4, rs & 0x0F
            if rs == 0x00:      # EOB
                break
            if rs == 0xF0:      # ZRL
                k += 16
                continue
            k += r
            blk[k] = _extend(reader.take(s), s)
            k += 1

    def dc_block(c: dict, ci: int, blk: np.ndarray) -> None:
        if ah == 0:   # first DC scan: Huffman diffs in the shifted domain
            t = reader.decode(huff_dc[c["dc"]])
            pred[ci] += _extend(reader.take(t), t)
            blk[0] = pred[ci] << al
        else:         # refinement: one raw bit per block
            blk[0] = int(blk[0]) | (reader.take(1) << al)

    def ac_first(blk: np.ndarray, ac: dict) -> None:
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = reader.decode(ac)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:   # EOBn: run of 2^r + extra end-of-bands
                    state["eobrun"] = ((1 << r)
                                       + (reader.take(r) if r else 0) - 1)
                    return
                k += 16      # ZRL
                continue
            k += r
            blk[k] = _extend(reader.take(s), s) << al
            k += 1

    def ac_refine(blk: np.ndarray, ac: dict) -> None:
        p1, m1 = 1 << al, -(1 << al)

        def refine(k: int) -> None:
            # T.81 G.1.2.3: a correction bit appends one magnitude bit
            # to an already-nonzero coefficient
            if reader.take(1) and not (int(blk[k]) & p1):
                blk[k] = int(blk[k]) + (p1 if blk[k] >= 0 else m1)

        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = reader.decode(ac)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if r < 15:
                        state["eobrun"] = ((1 << r)
                                           + (reader.take(r) if r else 0))
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError(
                            "invalid AC refinement magnitude category")
                    val = p1 if reader.take(1) else m1
                while k <= se:
                    if blk[k] != 0:
                        refine(k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:     # EOB band: corrections only
                if blk[k] != 0:
                    refine(k)
                k += 1
            state["eobrun"] -= 1

    def decode_block(c: dict, ci: int, blk: np.ndarray) -> None:
        if not progressive:
            seq_block(c, ci, blk)
        elif ss == 0:
            dc_block(c, ci, blk)
        elif ah == 0:
            ac_first(blk, huff_ac[c["ac"]])
        else:
            ac_refine(blk, huff_ac[c["ac"]])

    def do_restart() -> None:
        reader.clear_restart()
        pred[:] = [0] * len(scan)
        state["eobrun"] = 0

    if len(scan) == 1:
        # non-interleaved (T.81 A.2): one data unit per MCU, component
        # raster order, component-own grid — regardless of the sampling
        # factors the SOF declares (grayscale encoders emit h=v=2)
        c = scan[0]
        arr = coefs[c["ci"]]
        bh, bw = c["bh"], c["bw"]   # ceil(comp_samples/8), ≤ padded grid
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if restart and n and n % restart == 0:
                    do_restart()
                decode_block(c, 0, arr[by, bx])
                n += 1
    else:
        mcux, mcuy = scan[0]["mcux"], scan[0]["mcuy"]
        n = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and n and n % restart == 0:
                    do_restart()
                for ci, c in enumerate(scan):
                    arr = coefs[c["ci"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            decode_block(c, ci,
                                         arr[my * c["v"] + by,
                                             mx * c["h"] + bx])
                n += 1
    return _next_marker(payload, reader.pos)


def _reconstruct(comps: list[dict], coefs: list[np.ndarray], qt: dict,
                 h: int, w: int, hmax: int, vmax: int) -> np.ndarray:
    full = []
    for ci, c in enumerate(comps):
        arr = coefs[ci]
        bh, bw = arr.shape[:2]
        plane = np.zeros((bh * 8, bw * 8))
        qvec = qt[c["tq"]].reshape(-1)[_ZIGZAG]
        for by in range(bh):
            for bx in range(bw):
                blk = np.zeros(64)
                blk[_ZIGZAG] = arr[by, bx] * qvec
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct2(blk.reshape(8, 8)) + 128.0
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([np.clip(np.round(x), 0, 255).astype(np.uint8)
                     for x in (r, g, b)], axis=2)


# --------------------------------------------------------------- encoder

def _prep_planes(rgb: np.ndarray, quant: np.ndarray | None,
                 subsample: str):
    """Shared encoder front end: validate input, JFIF RGB->YCbCr, edge-pad
    to the MCU grid, box-subsample chroma. Returns
    (planes[y, cb, cr], qtable, h, w, padded_h, padded_w, hy, vy)."""
    a = np.asarray(rgb)
    if a.ndim != 3 or a.shape[2] != 3 or a.dtype != np.uint8:
        raise ValueError("encoder expects (h, w, 3) uint8 RGB")
    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if subsample not in factors:
        raise ValueError(f"subsample must be one of {sorted(factors)}")
    hy, vy = factors[subsample]
    h, w = a.shape[:2]
    q = (QUANT_LUMA.reshape(8, 8) if quant is None
         else np.asarray(quant, dtype=np.int32).reshape(8, 8))
    if q.min() < 1 or q.max() > 255:
        # the emitted DQT is 8-bit (pq=0); silently wrapping values >255
        # would quantize by one number and tell decoders another
        raise ValueError("quant table values must be in [1, 255]")
    r, g, b = (a[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    mcu_h, mcu_w = 8 * vy, 8 * hy
    ph = (h + mcu_h - 1) // mcu_h * mcu_h
    pw = (w + mcu_w - 1) // mcu_w * mcu_w
    ypad = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
    planes = [ypad]
    for p in (cb, cr):
        pad = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        if vy > 1:
            pad = (pad[0::2, :] + pad[1::2, :]) / 2.0
        if hy > 1:
            pad = (pad[:, 0::2] + pad[:, 1::2]) / 2.0
        planes.append(pad)
    return planes, q, h, w, ph, pw, hy, vy


def _encode_block(zz: np.ndarray, pred: int, dc_tbl: dict, ac_tbl: dict,
                  bits: list[int]) -> int:
    """Append one quantized zigzag block to the bitstream; returns the DC
    value for the next prediction."""
    def put(length: int, code: int) -> None:
        for i in range(length - 1, -1, -1):
            bits.append((code >> i) & 1)

    def put_coeff(v: int) -> tuple[int, int]:
        t = int(v).bit_length() if v > 0 else int(-v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    diff = int(zz[0]) - pred
    t, code = put_coeff(diff)
    ln, c = dc_tbl[t]
    put(ln, c)
    put(t, code)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            ln, c = ac_tbl[0xF0]
            put(ln, c)
            run -= 16
        t, code = put_coeff(int(zz[k]))
        ln, c = ac_tbl[(run << 4) | t]
        put(ln, c)
        put(t, code)
        run = 0
    if last < 63:
        ln, c = ac_tbl[0x00]
        put(ln, c)
    return int(zz[0])


def encode_jpeg(rgb: np.ndarray, quant: np.ndarray | None = None,
                subsample: str = "444",
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes. ``quant`` is the 8x8
    quantization table used for ALL components (default: T.81 K.1 luma
    table); pass ``np.ones((8, 8))`` for the near-lossless flat table
    the block-constant gate relies on. ``subsample``: ``"444"`` (no
    chroma subsampling), ``"422"`` (horizontal 2:1 box), or ``"420"``
    (2:1 both ways) — the downsample is a box mean, the decoder's
    nearest upsample is its exact inverse on constant chroma.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    (with DC-predictor reset and byte realignment) every that many
    MCUs — the error-resilience layer real camera files carry."""
    planes, q, h, w, ph, pw, hy, vy = _prep_planes(rgb, quant, subsample)
    mcu_h, mcu_w = 8 * vy, 8 * hy
    comp_factors = [(hy, vy), (1, 1), (1, 1)]
    dc_tbl = _encode_huffman_lengths(*_DC_LUMA)
    ac_tbl = _encode_huffman_lengths(*_AC_LUMA)
    bits: list[int] = []
    pred = [0, 0, 0]

    def _push(p: np.ndarray, y0: int, x0: int, ci: int) -> None:
        blk = p[y0:y0 + 8, x0:x0 + 8] - 128.0
        zq = np.round(_dct2(blk) / q).astype(np.int64)
        pred[ci] = _encode_block(zq.reshape(-1)[_ZIGZAG], pred[ci],
                                 dc_tbl, ac_tbl, bits)

    raw = bytearray()

    def _flush() -> None:
        bits.extend([1] * ((8 - len(bits) % 8) % 8))
        for i in range(0, len(bits), 8):
            byte = 0
            for bit in bits[i:i + 8]:
                byte = (byte << 1) | bit
            raw.append(byte)
            if byte == 0xFF:
                raw.append(0x00)
        bits.clear()

    mcu_count = 0
    for my in range(ph // mcu_h):
        for mx in range(pw // mcu_w):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                _flush()
                raw += bytes([0xFF, 0xD0 + ((mcu_count // restart_interval
                                             - 1) % 8)])
                pred[:] = [0, 0, 0]
            for ci, p in enumerate(planes):
                ch, cv = comp_factors[ci]
                for by in range(cv):
                    for bx in range(ch):
                        _push(p, (my * cv + by) * 8, (mx * ch + bx) * 8,
                              ci)
            mcu_count += 1
    _flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = np.zeros(64, dtype=np.uint8)
    zz_q[:] = q.reshape(-1)[_ZIGZAG].astype(np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
              + bytes([1, (hy << 4) | vy, 0]) + bytes([2, 0x11, 0])
              + bytes([3, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0])
               + bytes(_DC_LUMA[1]))
           + seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0])
                 + bytes(_AC_LUMA[1])))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1)
               + bytes([0, 0]))
    dri = (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xFF\xD8" + app0 + dqt + sof + dht + dri + sos + bytes(raw)
            + b"\xFF\xD9")


# ---------------------------------------------------- progressive encoder

# AC table for progressive scans: the K.3 symbols PLUS the EOBn run
# symbols (0x10..0xE0) baseline never uses, all at a flat 9-bit canonical
# length (176 codes < 511, so the all-ones code stays unused as T.81
# requires). Compression is irrelevant here — the table exists so tests
# and gates can synthesize bitstreams exercising multi-block EOB runs.
_AC_PROG = ([0, 0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0],
            _AC_LUMA[1] + [r << 4 for r in range(1, 15)])

_EOBRUN_MAX = 0x7FFF


class _ScanWriter:
    """Bit accumulator for one entropy-coded scan: MSB-first bits,
    1-padded to a byte boundary at close, 0xFF byte-stuffed."""

    def __init__(self) -> None:
        self.bits: list[int] = []

    def put(self, length: int, code: int) -> None:
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def sym(self, tbl: dict, v: int) -> None:
        self.put(*tbl[v])

    def close(self) -> bytes:
        self.bits.extend([1] * ((8 - len(self.bits) % 8) % 8))
        raw = bytearray()
        for i in range(0, len(self.bits), 8):
            byte = 0
            for bit in self.bits[i:i + 8]:
                byte = (byte << 1) | bit
            raw.append(byte)
            if byte == 0xFF:
                raw.append(0x00)
        self.bits.clear()
        return bytes(raw)


def encode_jpeg_progressive(rgb: np.ndarray,
                            quant: np.ndarray | None = None,
                            subsample: str = "444") -> bytes:
    """(h, w, 3) uint8 RGB -> progressive JFIF (SOF2) bytes.

    Scan script (the shape cjpeg emits, reduced to one successive-
    approximation level): interleaved DC first scan at Al=1; per-
    component AC first scans (Ss=1..63, Al=1) with lazy EOBn runs; a DC
    refinement scan (raw bits); per-component AC refinement scans
    (Ah=1, Al=0) with correction-bit buffering per T.81 G.1.2.3 /
    libjpeg's encode_mcu_AC_refine ordering. Quantized coefficients are
    IDENTICAL to :func:`encode_jpeg`'s for the same inputs, so the
    progressive decode must be bit-identical to the baseline decode —
    the equivalence tests and the gate rely on exactly that."""
    planes, q, h, w, ph, pw, hy, vy = _prep_planes(rgb, quant, subsample)
    comp_factors = [(hy, vy), (1, 1), (1, 1)]
    # quantize every block up front, zigzag order, per component
    zz: list[np.ndarray] = []
    for p, (ch, cv) in zip(planes, comp_factors):
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        arr = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                arr[by, bx] = np.round(
                    _dct2(blk) / q).astype(np.int64).reshape(-1)[_ZIGZAG]
        zz.append(arr)
    # non-interleaved AC-scan grids (T.81 A.2.2: component-own dims)
    ni = [((-(-h * cv // vy) + 7) // 8, (-(-w * ch // hy) + 7) // 8)
          for ch, cv in comp_factors]
    dc_tbl = _encode_huffman_lengths(*_DC_LUMA)
    ac_tbl = _encode_huffman_lengths(*_AC_PROG)

    def mag(v: int) -> tuple[int, int]:
        t = int(v).bit_length() if v > 0 else int(-v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def dc_first(al: int) -> bytes:
        wtr = _ScanWriter()
        pred = [0, 0, 0]
        for my in range(ph // (8 * vy)):
            for mx in range(pw // (8 * hy)):
                for ci, (ch, cv) in enumerate(comp_factors):
                    for by in range(cv):
                        for bx in range(ch):
                            d = int(zz[ci][my * cv + by,
                                           mx * ch + bx, 0]) >> al
                            t, code = mag(d - pred[ci])
                            wtr.sym(dc_tbl, t)
                            wtr.put(t, code)
                            pred[ci] = d
        return wtr.close()

    def dc_refine(al: int) -> bytes:
        wtr = _ScanWriter()
        for my in range(ph // (8 * vy)):
            for mx in range(pw // (8 * hy)):
                for ci, (ch, cv) in enumerate(comp_factors):
                    for by in range(cv):
                        for bx in range(ch):
                            wtr.put(1, (int(zz[ci][my * cv + by,
                                                   mx * ch + bx, 0])
                                        >> al) & 1)
        return wtr.close()

    def ac_first(ci: int, al: int) -> bytes:
        wtr = _ScanWriter()
        eobrun = 0

        def flush_eobrun() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                wtr.sym(ac_tbl, r << 4)
                wtr.put(r, eobrun - (1 << r))
                eobrun = 0

        bh, bw = ni[ci]
        for by in range(bh):
            for bx in range(bw):
                blk = zz[ci][by, bx]
                # point transform: magnitude shift, sign preserved
                vals = [(int(blk[k]) >> al) if blk[k] >= 0
                        else -((-int(blk[k])) >> al) for k in range(1, 64)]
                last = 63
                while last > 0 and vals[last - 1] == 0:
                    last -= 1
                if last == 0:
                    eobrun += 1
                    if eobrun == _EOBRUN_MAX:
                        flush_eobrun()
                    continue
                flush_eobrun()
                run = 0
                for k in range(1, last + 1):
                    v = vals[k - 1]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        wtr.sym(ac_tbl, 0xF0)
                        run -= 16
                    t, code = mag(v)
                    wtr.sym(ac_tbl, (run << 4) | t)
                    wtr.put(t, code)
                    run = 0
                if last < 63:
                    eobrun += 1
                    if eobrun == _EOBRUN_MAX:
                        flush_eobrun()
        flush_eobrun()
        return wtr.close()

    def ac_refine(ci: int, al: int) -> bytes:
        # libjpeg encode_mcu_AC_refine ordering: ZRLs fire at any nonzero
        # while runs exceed 15 (unless foldable into the EOB run), each
        # code is chased by the correction bits its span covers, EOB'd
        # blocks queue their correction bits behind the pending EOBn.
        wtr = _ScanWriter()
        eobrun = 0
        pending: list[int] = []

        def flush_eobrun() -> None:
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                wtr.sym(ac_tbl, r << 4)
                wtr.put(r, eobrun - (1 << r))
                eobrun = 0
            for bit in pending:
                wtr.put(1, bit)
            pending.clear()

        bh, bw = ni[ci]
        for by in range(bh):
            for bx in range(bw):
                blk = zz[ci][by, bx]
                absv = [(-int(blk[k]) if blk[k] < 0 else int(blk[k])) >> al
                        for k in range(1, 64)]
                eobmark = 0      # last NEWLY-nonzero position (1-based k)
                for k in range(1, 64):
                    if absv[k - 1] == 1:
                        eobmark = k
                run = 0
                br: list[int] = []
                for k in range(1, 64):
                    t = absv[k - 1]
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eobmark:
                        flush_eobrun()
                        wtr.sym(ac_tbl, 0xF0)
                        run -= 16
                        for bit in br:
                            wtr.put(1, bit)
                        br.clear()
                    if t > 1:
                        br.append(t & 1)
                        continue
                    flush_eobrun()
                    wtr.sym(ac_tbl, (run << 4) | 1)
                    wtr.put(1, 1 if blk[k] >= 0 else 0)
                    for bit in br:
                        wtr.put(1, bit)
                    br.clear()
                    run = 0
                if run > 0 or br:
                    eobrun += 1
                    pending.extend(br)
                    if eobrun == _EOBRUN_MAX:
                        flush_eobrun()
        flush_eobrun()
        return wtr.close()

    def seg(marker: int, body: bytes) -> bytes:
        return (bytes([0xFF, marker])
                + struct.pack(">H", len(body) + 2) + body)

    def sos(comp_ids: list[int], ss: int, se: int, ah: int,
            al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    zz_q = np.zeros(64, dtype=np.uint8)
    zz_q[:] = q.reshape(-1)[_ZIGZAG].astype(np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    sof = seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
              + bytes([1, (hy << 4) | vy, 0]) + bytes([2, 0x11, 0])
              + bytes([3, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0])
               + bytes(_DC_LUMA[1]))
           + seg(0xC4, bytes([0x10]) + bytes(_AC_PROG[0])
                 + bytes(_AC_PROG[1])))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1)
               + bytes([0, 0]))
    out = b"\xFF\xD8" + app0 + dqt + sof + dht
    out += sos([1, 2, 3], 0, 0, 0, 1) + dc_first(1)
    for ci, cid in enumerate((1, 2, 3)):
        out += sos([cid], 1, 63, 0, 1) + ac_first(ci, 1)
    out += sos([1, 2, 3], 0, 0, 1, 0) + dc_refine(0)
    for ci, cid in enumerate((1, 2, 3)):
        out += sos([cid], 1, 63, 1, 0) + ac_refine(ci, 0)
    return out + b"\xFF\xD9"
