"""Pure-numpy Microsoft Video 1 (CRAM/MSVC) codec — the INTER-FRAME
video codec behind :mod:`.avicodec`'s CRAM/MSVC streams: unlike
Motion-JPEG (every frame independent), MS Video 1 frames reference the
PREVIOUS frame through skip blocks, so the decoder is genuinely stateful
across frames — temporal prediction, the defining property of video
codecs, in its simplest published form.

The format is public (MSDN "MS Video 1" / BI_CRAM documentation;
described on the multimedia.cx wiki): the frame is tiled into 4x4 pixel
blocks walked left→right, bottom→top (bottom-up DIB order). Each block
is one of:

=========== =========================================================
code word   meaning (byte_a = first byte, byte_b = second)
=========== =========================================================
skip        ``(byte_b & 0xFC) == 0x84``: ``(byte_b-0x84)*256 + byte_a``
            blocks (including this one) are COPIED FROM THE PREVIOUS
            FRAME — the inter-frame path.
2-color     ``byte_b < 0x80``: the word is a 16-bit pixel mask; two
            RGB555 colors follow, mask bit set → first color. Bit 0 is
            the block's bottom-left pixel (bit order follows the DIB
            walk).
8-color     like 2-color, but the first color has bit 15 set: three
            more color PAIRS follow and each 2x2 quadrant uses its own
            pair (quadrant index ``((y&2)<<1) | (x&2)`` in the walk's
            row order).
1-color     any other word (bit 15 set, not a skip code): the word
            itself is the RGB555 fill color.
=========== =========================================================

Both published variants are implemented: the 16-bit (RGB555) one
(:func:`decode_msvc_frame`) and, since r13, the 8-bit PALETTIZED one
(:func:`decode_msvc_frame8`), which differs only in the per-block
payloads — colors are 1-byte palette indices, the 8-color mode is
signalled by the code word itself (``byte_b >= 0x90``, the word doubling
as the pixel mask) and the 1-color mode carries its index in ``byte_a``.
Dimensions must be multiples of 4, as the format requires.

The paired encoder is a real (lossy-capable) MS Video 1 encoder: it
quantizes to RGB555, emits skip runs for blocks unchanged since the
previous frame, picks solid/2-color/8-color intra modes exactly, and
falls back to a deterministic 2-color luma split when a block exceeds
the format's palette. Solid colors whose code word would alias a skip
code (any color with red == 1) are emitted as an equal-pair 2-color
block — the standard encoder-side resolution of the format's one
ambiguity.

Determinism: decode is pure integer arithmetic; 5→8-bit expansion is
the standard ``(c << 3) | (c >> 2)`` replication, so features computed
from decoded pixels are hash-oracle-safe.
"""

from __future__ import annotations

import numpy as np

__all__ = ["decode_msvc_frame", "encode_msvc_frame",
           "decode_msvc_frame8", "encode_msvc_frame8",
           "rgb555_to_rgb888", "rgb888_to_rgb555"]


def rgb888_to_rgb555(frame: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 → (h, w) uint16 RGB555 (channel >> 3)."""
    f = frame.astype(np.uint16)
    return ((f[:, :, 0] >> 3) << 10) | ((f[:, :, 1] >> 3) << 5) \
        | (f[:, :, 2] >> 3)


def rgb555_to_rgb888(packed: np.ndarray) -> np.ndarray:
    """(h, w) uint16 RGB555 → (h, w, 3) uint8 with 5→8 bit replication
    ``(c << 3) | (c >> 2)`` (bit 15 ignored)."""
    v = packed & 0x7FFF
    out = np.empty(packed.shape + (3,), dtype=np.uint8)
    for i, shift in enumerate((10, 5, 0)):
        c = (v >> shift) & 0x1F
        out[:, :, i] = ((c << 3) | (c >> 2)).astype(np.uint8)
    return out


def _quadrant(py: int, px: int) -> int:
    return ((py & 2) << 1) | (px & 2)


def decode_msvc_frame(data: bytes, width: int, height: int,
                      prev: np.ndarray | None) -> np.ndarray:
    """One CRAM 16-bit frame → (h, w) uint16 RGB555 in BOTTOM-UP (DIB)
    row order. ``prev`` is the previous frame's bottom-up buffer (skip
    blocks copy from it); ``None`` for the first frame (skips then read
    as black, but a conformant keyframe contains none)."""
    if width % 4 or height % 4:
        raise NotImplementedError(
            "MS Video 1 requires dimensions that are multiples of 4 "
            f"(got {width}x{height})")
    bw, bh = width // 4, height // 4
    # bottom-up space: the DIB walk (left->right, bottom->top, rows
    # inside a block bottom->top) becomes plain raster order
    buf = (prev.copy() if prev is not None
           else np.zeros((height, width), dtype=np.uint16))
    pos, skip = 0, 0
    for bi in range(bw * bh):
        by, bx = divmod(bi, bw)
        if skip:
            skip -= 1
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated MS Video 1 stream")
        byte_a, byte_b = data[pos], data[pos + 1]
        pos += 2
        if (byte_b & 0xFC) == 0x84:
            count = ((byte_b - 0x84) << 8) + byte_a
            if count == 0:
                raise ValueError("corrupt MS Video 1 stream: skip of 0")
            if count > bw * bh - bi:
                raise ValueError(
                    "corrupt MS Video 1 stream: skip run of "
                    f"{count} exceeds the {bw * bh - bi} blocks remaining")
            skip = count - 1          # this block is the first skipped
            continue
        y0, x0 = by * 4, bx * 4
        if byte_b < 0x80:
            flags = (byte_b << 8) | byte_a
            if pos + 4 > len(data):
                raise ValueError("truncated MS Video 1 stream")
            c0 = int.from_bytes(data[pos:pos + 2], "little")
            c1 = int.from_bytes(data[pos + 2:pos + 4], "little")
            pos += 4
            if c0 & 0x8000:           # 8-color: one pair per quadrant
                if pos + 12 > len(data):
                    raise ValueError("truncated MS Video 1 stream")
                colors = [c0, c1]
                for _ in range(3):
                    colors.append(int.from_bytes(data[pos:pos + 2],
                                                 "little"))
                    colors.append(int.from_bytes(data[pos + 2:pos + 4],
                                                 "little"))
                    pos += 4
                for py in range(4):
                    for px in range(4):
                        q = _quadrant(py, px)
                        buf[y0 + py, x0 + px] = \
                            colors[q] if flags & 1 else colors[q + 1]
                        flags >>= 1
            else:                     # 2-color
                for py in range(4):
                    for px in range(4):
                        buf[y0 + py, x0 + px] = c0 if flags & 1 else c1
                        flags >>= 1
        else:                         # 1-color: the word is the color
            buf[y0:y0 + 4, x0:x0 + 4] = (byte_b << 8) | byte_a
    return buf


def _emit_word(out: bytearray, value: int) -> None:
    out += value.to_bytes(2, "little")


def _flush_skips(out: bytearray, n: int) -> None:
    while n > 0:
        run = min(n, 0x3FF)           # (0x87-0x84)*256 + 255
        out.append(run & 0xFF)
        out.append(0x84 + (run >> 8))
        n -= run


def _encode_two_color(out: bytearray, block: np.ndarray,
                      c_set: int, c_clear: int) -> None:
    """Emit a 2-color block. The flags word doubles as the mode marker
    (``byte_b < 0x80``), so bit 15 — the LAST walked pixel, (3, 3) —
    must be 0: callers order the pair so that pixel reads c_clear."""
    flags = 0
    if c_set != c_clear:
        for py in range(4):
            for px in range(4):
                if block[py, px] == c_set:
                    flags |= 1 << (py * 4 + px)
    assert flags < 0x8000, "pair not ordered for the bit-15 constraint"
    _emit_word(out, flags)
    _emit_word(out, int(c_set))
    _emit_word(out, int(c_clear))


def encode_msvc_frame(frame555: np.ndarray,
                      prev: np.ndarray | None) -> bytes:
    """(h, w) uint16 RGB555 bottom-up buffer → CRAM 16-bit frame bytes.
    Emits skip runs against ``prev``, exact solid/2-color/8-color intra
    blocks, and a deterministic lossy 2-color luma split for blocks the
    format cannot represent exactly."""
    h, w = frame555.shape
    if w % 4 or h % 4:
        raise NotImplementedError(
            "MS Video 1 requires dimensions that are multiples of 4 "
            f"(got {w}x{h})")
    out = bytearray()
    pending_skips = 0
    for bi in range((w // 4) * (h // 4)):
        by, bx = divmod(bi, w // 4)
        block = frame555[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]
        if prev is not None and np.array_equal(
                block, prev[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]):
            pending_skips += 1
            continue
        _flush_skips(out, pending_skips)
        pending_skips = 0
        uniq = np.unique(block)
        if len(uniq) == 1:
            color = int(uniq[0]) & 0x7FFF
            word = 0x8000 | color
            if ((word >> 8) & 0xFC) == 0x84:
                # red == 1 aliases a skip code: equal-pair 2-color instead
                _encode_two_color(out, block, color, color)
            else:
                _emit_word(out, word)
        elif len(uniq) == 2:
            # bit-15 constraint: the last walked pixel must be c_clear
            c_clear = int(block[3, 3])
            c_set = int(uniq[0]) if c_clear == int(uniq[1]) \
                else int(uniq[1])
            _encode_two_color(out, block, c_set, c_clear)
        else:
            quads = [block[qy:qy + 2, qx:qx + 2]
                     for qy in (0, 2) for qx in (0, 2)]
            if all(len(np.unique(q)) <= 2 for q in quads):
                # 8-color: pairs ordered (top-left, top-right,
                # bottom-left, bottom-right) in the walk's row space —
                # exactly the _quadrant() index order
                pairs = []
                for qi, q in enumerate(quads):
                    u = np.unique(q)
                    hi, lo = int(u[-1]), int(u[0])
                    if qi == 3:
                        # bit-15 constraint: pixel (3, 3) is quadrant 3's
                        # last pixel and must map to the pair's SECOND
                        # color, or the flags word stops being < 0x8000
                        if hi == lo:
                            # solid quadrant: make the first slot a
                            # never-matching dummy so all its bits stay 0
                            hi = lo ^ 1
                        elif int(block[3, 3]) == hi:
                            hi, lo = lo, hi
                    pairs.append((hi, lo))
                flags = 0
                for py in range(4):
                    for px in range(4):
                        if block[py, px] == pairs[_quadrant(py, px) // 2][0]:
                            flags |= 1 << (py * 4 + px)
                assert flags < 0x8000
                _emit_word(out, flags)
                for i, (hi, lo) in enumerate(pairs):
                    _emit_word(out, (0x8000 | hi) if i == 0 else hi)
                    _emit_word(out, lo)
            else:
                # lossy fallback: deterministic 2-color split on integer
                # RGB555 luma (2r+4g+b in 5-bit space), means floored
                v = block.astype(np.int64)
                luma = (2 * ((v >> 10) & 31) + 4 * ((v >> 5) & 31)
                        + (v & 31))
                hi_mask = luma > int(luma.mean())
                if not hi_mask.any() or hi_mask.all():
                    hi_mask = luma >= int(luma.mean())
                    if hi_mask.all():
                        hi_mask[0, 0] = False

                def mean_color(vals: np.ndarray) -> int:
                    r = int(((vals >> 10) & 31).mean())
                    g = int(((vals >> 5) & 31).mean())
                    b = int((vals & 31).mean())
                    return (r << 10) | (g << 5) | b

                c_hi = mean_color(v[hi_mask])
                c_lo = mean_color(v[~hi_mask])
                if c_hi == c_lo:
                    c_hi = min(c_hi + 1, 0x7FFF)
                if hi_mask[3, 3]:
                    # bit-15 constraint (see _encode_two_color)
                    hi_mask = ~hi_mask
                    c_hi, c_lo = c_lo, c_hi
                flags = 0
                for py in range(4):
                    for px in range(4):
                        if hi_mask[py, px]:
                            flags |= 1 << (py * 4 + px)
                _emit_word(out, flags)
                _emit_word(out, c_hi)
                _emit_word(out, c_lo)
    _flush_skips(out, pending_skips)
    return bytes(out)


def decode_msvc_frame8(data: bytes, width: int, height: int,
                       prev: np.ndarray | None) -> np.ndarray:
    """One CRAM 8-bit (PALETTIZED) frame → (h, w) uint8 palette indices
    in BOTTOM-UP (DIB) row order. Block modes (public MSDN / FourCC
    documentation; same walk as the 16-bit variant):

    =========== ======================================================
    code word   meaning
    =========== ======================================================
    skip        ``(byte_b & 0xFC) == 0x84`` — identical to 16-bit.
    2-color     ``byte_b < 0x80``: the word is the pixel mask; TWO
                index BYTES follow, mask bit set → first index.
    8-color     ``byte_b >= 0x90``: the word is the pixel mask; EIGHT
                index bytes follow, one (set, clear) pair per 2x2
                quadrant in :func:`_quadrant` order.
    1-color     anything else (``0x80-0x83``/``0x88-0x8F``): the fill
                index is ``byte_a``.
    =========== ======================================================
    """
    if width % 4 or height % 4:
        raise NotImplementedError(
            "MS Video 1 requires dimensions that are multiples of 4 "
            f"(got {width}x{height})")
    bw, bh = width // 4, height // 4
    buf = (prev.copy() if prev is not None
           else np.zeros((height, width), dtype=np.uint8))
    pos, skip = 0, 0
    for bi in range(bw * bh):
        by, bx = divmod(bi, bw)
        if skip:
            skip -= 1
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated MS Video 1 stream")
        byte_a, byte_b = data[pos], data[pos + 1]
        pos += 2
        if (byte_b & 0xFC) == 0x84:
            count = ((byte_b - 0x84) << 8) + byte_a
            if count == 0:
                raise ValueError("corrupt MS Video 1 stream: skip of 0")
            if count > bw * bh - bi:
                raise ValueError(
                    "corrupt MS Video 1 stream: skip run of "
                    f"{count} exceeds the {bw * bh - bi} blocks remaining")
            skip = count - 1
            continue
        y0, x0 = by * 4, bx * 4
        if byte_b < 0x80:             # 2-color: word is the mask
            flags = (byte_b << 8) | byte_a
            if pos + 2 > len(data):
                raise ValueError("truncated MS Video 1 stream")
            c0, c1 = data[pos], data[pos + 1]
            pos += 2
            for py in range(4):
                for px in range(4):
                    buf[y0 + py, x0 + px] = c0 if flags & 1 else c1
                    flags >>= 1
        elif byte_b >= 0x90:          # 8-color: word is the mask
            flags = (byte_b << 8) | byte_a
            if pos + 8 > len(data):
                raise ValueError("truncated MS Video 1 stream")
            colors = data[pos:pos + 8]
            pos += 8
            for py in range(4):
                for px in range(4):
                    q = _quadrant(py, px)
                    buf[y0 + py, x0 + px] = \
                        colors[q] if flags & 1 else colors[q + 1]
                    flags >>= 1
        else:                         # 1-color: byte_a is the index
            buf[y0:y0 + 4, x0:x0 + 4] = byte_a
    return buf


def encode_msvc_frame8(frame_idx: np.ndarray,
                       prev: np.ndarray | None) -> bytes:
    """(h, w) uint8 palette-index bottom-up buffer → CRAM 8-bit frame
    bytes. Emits skip runs against ``prev``, exact solid/2-color/8-color
    intra blocks, and a deterministic lossy 2-color split (on the raw
    index values) for blocks exceeding the format's per-quadrant
    palette. The 8-bit variant has NO skip-aliasing ambiguity (the
    1-color marker byte is free), but the mask words keep the 16-bit
    constraints: 2-color masks must stay ``< 0x8000`` (pixel (3, 3)
    reads the second index) and 8-color masks must reach ``>= 0x9000``
    (pixels (3, 3) and (3, 0) read their pair's FIRST index)."""
    h, w = frame_idx.shape
    if w % 4 or h % 4:
        raise NotImplementedError(
            "MS Video 1 requires dimensions that are multiples of 4 "
            f"(got {w}x{h})")
    out = bytearray()
    pending_skips = 0

    def emit_two_color(block: np.ndarray, c_set: int, c_clear: int) -> None:
        flags = 0
        if c_set != c_clear:
            for py in range(4):
                for px in range(4):
                    if block[py, px] == c_set:
                        flags |= 1 << (py * 4 + px)
        assert flags < 0x8000, "pair not ordered for the bit-15 constraint"
        _emit_word(out, flags)
        out.append(c_set)
        out.append(c_clear)

    for bi in range((w // 4) * (h // 4)):
        by, bx = divmod(bi, w // 4)
        block = frame_idx[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]
        if prev is not None and np.array_equal(
                block, prev[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]):
            pending_skips += 1
            continue
        _flush_skips(out, pending_skips)
        pending_skips = 0
        uniq = np.unique(block)
        if len(uniq) == 1:
            out.append(int(uniq[0]))  # byte_a = the palette index
            out.append(0x80)          # 1-color marker (never a skip code)
        elif len(uniq) == 2:
            c_clear = int(block[3, 3])
            c_set = int(uniq[0]) if c_clear == int(uniq[1]) \
                else int(uniq[1])
            emit_two_color(block, c_set, c_clear)
        else:
            quads = [block[qy:qy + 2, qx:qx + 2]
                     for qy in (0, 2) for qx in (0, 2)]
            if all(len(np.unique(q)) <= 2 for q in quads):
                pairs = []
                for qi, q in enumerate(quads):
                    u = np.unique(q)
                    hi, lo = int(u[-1]), int(u[0])
                    if qi in (2, 3):
                        # mask-marker constraint (>= 0x9000): bits 15
                        # and 12 — pixels (3, 3) and (3, 0) — must read
                        # their quadrant pair's FIRST index
                        anchor = int(block[3, 3] if qi == 3
                                     else block[3, 0])
                        if hi == lo:
                            hi, lo = anchor, anchor ^ 1
                        elif anchor != hi:
                            hi, lo = lo, hi
                    pairs.append((hi, lo))
                flags = 0
                for py in range(4):
                    for px in range(4):
                        if block[py, px] == pairs[_quadrant(py, px) // 2][0]:
                            flags |= 1 << (py * 4 + px)
                assert flags >= 0x9000, \
                    "pairs not ordered for the 8-color marker constraint"
                _emit_word(out, flags)
                for hi, lo in pairs:
                    out.append(hi)
                    out.append(lo)
            else:
                # lossy fallback: deterministic 2-color split on the
                # raw index values, means floored
                v = block.astype(np.int64)
                hi_mask = v > int(v.mean())
                if not hi_mask.any() or hi_mask.all():
                    hi_mask = v >= int(v.mean())
                    if hi_mask.all():
                        hi_mask[0, 0] = False
                c_hi = int(v[hi_mask].mean())
                c_lo = int(v[~hi_mask].mean())
                if c_hi == c_lo:
                    c_hi = min(c_hi + 1, 0xFF)
                if hi_mask[3, 3]:     # bit-15 constraint
                    hi_mask = ~hi_mask
                    c_hi, c_lo = c_lo, c_hi
                flags = 0
                for py in range(4):
                    for px in range(4):
                        if hi_mask[py, px]:
                            flags |= 1 << (py * 4 + px)
                _emit_word(out, flags)
                out.append(c_hi)
                out.append(c_lo)
    _flush_skips(out, pending_skips)
    return bytes(out)
