"""Pure-numpy PNG codec (decoder + spec-valid encoder for tests).

Closes the PNG half of the multimodal codec boundary the same way
functions/jpeg.py closed baseline JPEG: no codec libraries, only the
stdlib ``zlib`` (DEFLATE + CRC-32, both part of the PNG spec) and
numpy. Supports the formats that dominate web images:

* color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA)
* all five scanline filters (None/Sub/Up/Average/Paeth, RFC 2083 §6)
* multiple IDAT chunks, CRC verification, tRNS ignored by design
  (features are luminance-based)
* Adam7 interlacing: each of the seven passes is an independently
  filtered sub-image, consumed sequentially from the inflated stream
  and scattered into place with strided indexing
* bit depth 16 (non-palette): filters run over bytes with
  bpp = 2 x channels per the spec; samples reduce to their high byte
  (the standard 16 -> 8 reduction) to keep the uint8 decode contract
* sub-byte depths 1/2/4 (gray + palette, round 4): filters run over
  whole scanline bytes with bpp=1 per spec §6, samples unpack
  MSB-first (incl. Adam7, whose per-pass scanlines pad to byte
  boundaries independently); gray samples scale by 255/(2^d-1)

Filter reconstruction is vectorized where the data dependency allows:
Sub is a per-row cumulative sum over pixel strides, Up is a plain
vector add against the previous reconstructed row; Average and Paeth
carry a true sequential left-dependency, so they advance pixel-by-
pixel with all channels of a pixel updated in one numpy op.

The reference repo has no image handling at all (SURVEY.md §2 is
ER-only); this module extends the training-data surface exactly like
jpeg.py/multimodal.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 passes: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor over int32 channel vectors."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where(pa <= np.minimum(pb, pc), a, np.where(pb <= pc, b, c))


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters. raw is the decompressed byte
    stream shaped (h, 1 + w*bpp): filter byte + filtered row."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(raw[y, 0])
        cur = raw[y, 1:].copy()
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: cumulative sum over pixel strides
            rec = cur.reshape(w, bpp).astype(np.int64).cumsum(axis=0)
            rec = (rec % 256).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up
            rec = cur + prev  # uint8 wraps mod 256
        elif f == 3:  # Average: sequential left-dependency
            rec = np.zeros(stride, dtype=np.uint8)
            pi = prev.astype(np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            ci = cur.astype(np.int32)
            for x in range(w):
                s = slice(x * bpp, (x + 1) * bpp)
                px = (ci[s] + ((left + pi[s]) >> 1)) & 0xFF
                rec[s] = px
                left = px
        elif f == 4:  # Paeth: sequential left-dependency
            rec = np.zeros(stride, dtype=np.uint8)
            pi = prev.astype(np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            ul = np.zeros(bpp, dtype=np.int32)
            ci = cur.astype(np.int32)
            for x in range(w):
                s = slice(x * bpp, (x + 1) * bpp)
                px = (ci[s] + _paeth_vec(left, pi[s], ul)) & 0xFF
                rec[s] = px
                left = px
                ul = pi[s]
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = rec
        prev = out[y]
    return out


def _unpack_samples(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, row_bytes) filtered-out bytes -> (h, w) samples for sub-byte
    depths: PNG packs samples left-to-right starting at each byte's
    most significant bit."""
    bits = np.unpackbits(rows, axis=1)
    n = bits.shape[1] // depth
    grouped = bits[:, : n * depth].reshape(rows.shape[0], n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grouped * weights).sum(axis=2).astype(np.uint8)[:, :w]


def _decode_subbyte(
    raw: np.ndarray, h: int, w: int, depth: int, interlace: int
) -> np.ndarray:
    """Unfilter + unpack a 1/2/4-bit single-channel image (gray index
    or palette index), straight or Adam7."""
    if interlace == 0:
        row_bytes = -(-(w * depth) // 8)
        if raw.size != h * (1 + row_bytes):
            raise ValueError("PNG pixel data size mismatch")
        px = _unfilter(raw.reshape(h, 1 + row_bytes), h, row_bytes, 1)
        return _unpack_samples(px, w, depth)
    out = np.zeros((h, w), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, -(-(w - x0) // dx))
        ph = max(0, -(-(h - y0) // dy))
        if pw == 0 or ph == 0:
            continue
        row_bytes = -(-(pw * depth) // 8)
        size = ph * (1 + row_bytes)
        if pos + size > raw.size:
            raise ValueError("PNG pixel data size mismatch")
        sub = _unfilter(
            raw[pos : pos + size].reshape(ph, 1 + row_bytes), ph, row_bytes, 1
        )
        out[y0::dy, x0::dx] = _unpack_samples(sub, pw, depth)
        pos += size
    if pos != raw.size:
        raise ValueError("PNG pixel data size mismatch")
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG payload to uint8 (h, w) gray or (h, w, c) array.

    Full pipeline: signature -> chunk walk with CRC verification ->
    concatenated-IDAT inflate -> per-scanline unfilter -> palette
    expansion. Raises ValueError on corrupt/unsupported input."""
    if not payload or payload[:8] != _SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        crc_bytes = payload[pos + 8 + length : pos + 12 + length]
        if len(body) != length or len(crc_bytes) != 4:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", crc_bytes)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16) or (depth == 16 and ctype == 3):
        raise ValueError(f"PNG bit depth {depth} not supported")
    if depth < 8 and ctype not in (0, 3):
        raise ValueError(f"PNG bit depth {depth} invalid for color type {ctype}")
    if ctype not in _CHANNELS:
        raise ValueError(f"PNG color type {ctype} not supported")
    if comp != 0 or filt != 0:
        raise ValueError("PNG nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} unknown")
    if w == 0 or h == 0:
        raise ValueError("PNG zero dimension")
    nch = _CHANNELS[ctype]
    bpp = nch * (depth // 8)  # filter bpp is BYTES per pixel (spec §6)
    try:
        inflated = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream corrupt: {exc}") from exc
    raw = np.frombuffer(inflated, dtype=np.uint8)
    if depth < 8:
        # sub-byte depths (1/2/4 gray or palette): filters operate on
        # bytes with bpp=1 (spec §6: bpp rounds up to one byte), then
        # samples unpack MSB-first within each scanline byte
        samples = _decode_subbyte(raw, h, w, depth, interlace)
        if ctype == 3:
            if plte is None:
                raise ValueError("palette PNG missing PLTE")
            if int(samples.max(initial=0)) >= len(plte):
                raise ValueError("PNG palette index out of range")
            return plte[samples]
        return (samples * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if interlace == 1:
        px = np.zeros((h, w * bpp), dtype=np.uint8)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(w - x0) // dx))
            ph = max(0, -(-(h - y0) // dy))
            if pw == 0 or ph == 0:
                continue  # empty pass emits no scanlines at all
            size = ph * (1 + pw * bpp)
            if pos2 + size > raw.size:
                raise ValueError("PNG pixel data size mismatch")
            sub = _unfilter(
                raw[pos2 : pos2 + size].reshape(ph, 1 + pw * bpp), ph, pw, bpp
            ).reshape(ph, pw, bpp)
            view = px.reshape(h, w, bpp)
            view[y0::dy, x0::dx] = sub
            pos2 += size
        if pos2 != raw.size:
            raise ValueError("PNG pixel data size mismatch")
    else:
        if raw.size != h * (1 + w * bpp):
            raise ValueError("PNG pixel data size mismatch")
        px = _unfilter(raw.reshape(h, 1 + w * bpp), h, w, bpp)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = px.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if depth == 16:
        # big-endian samples -> high byte (standard 16 -> 8 reduction)
        px = np.ascontiguousarray(px.reshape(h, w, nch, 2)[..., 0])
    if nch == 1:
        return px.reshape(h, w)
    return px.reshape(h, w, nch)


def _filter_row(
    cur: np.ndarray, prev: np.ndarray, bpp: int, ftype: int
) -> np.ndarray:
    """Apply filter ``ftype`` to a reconstructed row (encoder side)."""
    c = cur.astype(np.int32)
    p = prev.astype(np.int32)
    left = np.concatenate([np.zeros(bpp, dtype=np.int32), c[:-bpp]])
    ul = np.concatenate([np.zeros(bpp, dtype=np.int32), p[:-bpp]])
    if ftype == 0:
        out = c
    elif ftype == 1:
        out = c - left
    elif ftype == 2:
        out = c - p
    elif ftype == 3:
        out = c - ((left + p) >> 1)
    elif ftype == 4:
        out = c - _paeth_vec(left, p, ul)
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return (out & 0xFF).astype(np.uint8)


def _filter_image(rows: np.ndarray, bpp: int, filter_type: int | str) -> bytes:
    """Filter a (h, stride) reconstructed sub-image into PNG scanline
    bytes (filter byte + filtered row each)."""
    out_rows = []
    prev = np.zeros(rows.shape[1], dtype=np.uint8)
    for y in range(rows.shape[0]):
        ft = (y % 5) if filter_type == "cycle" else int(filter_type)
        out_rows.append(bytes([ft]) + _filter_row(rows[y], prev, bpp, ft).tobytes())
        prev = rows[y]
    return b"".join(out_rows)


def encode_png(
    img: np.ndarray,
    filter_type: int | str = 0,
    level: int = 6,
    interlace: bool = False,
) -> bytes:
    """Encode uint8 gray (h, w) / RGB (h, w, 3) / gray+alpha (h, w, 2) /
    RGBA (h, w, 4) to a spec-valid PNG. ``filter_type`` is 0-4 for a
    fixed per-row filter or 'cycle' to rotate through all five (the
    decoder-exercise mode used by tests and the oracle query);
    ``interlace`` emits Adam7 passes. A uint16 input encodes at bit
    depth 16 (big-endian samples); anything else encodes at 8."""
    depth = 16 if np.asarray(img).dtype == np.uint16 else 8
    img = np.ascontiguousarray(img, dtype=np.uint16 if depth == 16 else np.uint8)
    if img.ndim == 2:
        ctype, nch = 0, 1
        flat = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        nch = img.shape[2]
        ctype = {2: 4, 3: 2, 4: 6}[nch]
        flat = img
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    if depth == 16:
        # expand to big-endian byte planes; filters below run on bytes
        flat = (
            flat[..., None] >> np.array([8, 0], dtype=np.uint16)
        ).astype(np.uint8).reshape(h, w, nch * 2)
    bpp = nch * (depth // 8)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = flat[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(
                _filter_image(
                    np.ascontiguousarray(sub).reshape(sub.shape[0], -1),
                    bpp,
                    filter_type,
                )
            )
        body = b"".join(parts)
    else:
        body = _filter_image(flat.reshape(h, w * bpp), bpp, filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, int(interlace))
    idat = zlib.compress(body, level)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def encode_png_palette(
    idx: np.ndarray, palette: np.ndarray, level: int = 6
) -> bytes:
    """Encode a (h, w) uint8 index image + (n, 3) palette as a color
    type 3 PNG (filter 0 rows) — decoder-test helper."""
    idx = np.ascontiguousarray(idx, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    h, w = idx.shape
    body = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib.compress(body, level))
        + _chunk(b"IEND", b"")
    )


def _pack_samples(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) sub-byte samples -> (h, row_bytes) packed scanline bytes
    (MSB-first, zero-padded to a byte boundary — the PNG convention)."""
    h, w = samples.shape
    per_byte = 8 // depth
    pad_w = -(-w // per_byte) * per_byte
    s = np.zeros((h, pad_w), dtype=np.uint8)
    s[:, :w] = samples
    bits = (
        (s[:, :, None] >> np.arange(depth - 1, -1, -1, dtype=np.uint8)) & 1
    ).astype(np.uint8).reshape(h, pad_w * depth)
    return np.packbits(bits, axis=1)


def encode_png_subbyte(
    samples: np.ndarray,
    depth: int,
    palette: np.ndarray | None = None,
    filter_type: int | str = 0,
    level: int = 6,
    interlace: bool = False,
) -> bytes:
    """Encode (h, w) samples at bit depth 1/2/4 as grayscale (palette
    None; sample n renders as n * 255/(2^depth-1)) or color-type-3
    palette PNG — decoder-exercise helper for the sub-byte paths."""
    if depth not in (1, 2, 4):
        raise ValueError("sub-byte depth must be 1, 2 or 4")
    samples = np.ascontiguousarray(samples, dtype=np.uint8)
    if samples.max(initial=0) >= (1 << depth):
        raise ValueError("sample out of range for depth")
    h, w = samples.shape
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(
                _filter_image(_pack_samples(sub, depth), 1, filter_type)
            )
        body = b"".join(parts)
    else:
        body = _filter_image(_pack_samples(samples, depth), 1, filter_type)
    ctype = 0 if palette is None else 3
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, int(interlace))
    out = _SIG + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", np.ascontiguousarray(palette, dtype=np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(body, level)) + _chunk(b"IEND", b"")


# ---------------------------------------------------------------------------
# APNG (animated PNG) — the acTL/fcTL/fdAT extension registered in the
# PNG specification (Third Edition, W3C; originally Mozilla's APNG
# spec). Round 5: the animated-image slice between static PNG and the
# video path — frames composite per fcTL dispose/blend ops and feed
# the same frame-sampling operator as GIF/AVI/IVF.
# ---------------------------------------------------------------------------

_APNG_DISPOSE_NONE, _APNG_DISPOSE_BACKGROUND, _APNG_DISPOSE_PREVIOUS = 0, 1, 2
_APNG_BLEND_SOURCE, _APNG_BLEND_OVER = 0, 1


def _png_chunks(payload: bytes):
    """Yield (tag, body) with CRC verification (shared chunk walk)."""
    if not payload or payload[:8] != _SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        crc_bytes = payload[pos + 8 + length : pos + 12 + length]
        if len(body) != length or len(crc_bytes) != 4:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", crc_bytes)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        yield tag, body
        if tag == b"IEND":
            return
        pos += 12 + length


def _to_rgba(img: np.ndarray) -> np.ndarray:
    """Lift any decode_png output to (h, w, 4) RGBA uint8."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c == 1:
        rgb, a = np.repeat(img, 3, axis=2), None
    elif c == 2:
        rgb, a = np.repeat(img[:, :, :1], 3, axis=2), img[:, :, 1:]
    elif c == 3:
        rgb, a = img, None
    else:
        rgb, a = img[:, :, :3], img[:, :, 3:]
    if a is None:
        a = np.full((h, w, 1), 255, dtype=np.uint8)
    return np.concatenate([rgb, a], axis=2)


def decode_apng(payload: bytes) -> tuple[np.ndarray, list[int]]:
    """Decode an APNG -> (frames uint8 (n, h, w, 4) RGBA, per-frame
    delays in ms).

    Full semantics: acTL frame count enforced; fcTL/fdAT sequence
    numbers must be consecutive from 0; each frame's data decodes
    through the SAME pipeline as a static PNG (a minimal per-frame
    PNG is synthesized around the fdAT payload, reusing IHDR
    parameters and the PLTE), then composites onto the canvas at its
    (x, y) offset per its blend op (SOURCE replaces, OVER
    alpha-composites) and disposes per its dispose op (NONE keeps,
    BACKGROUND clears the region to fully transparent black, PREVIOUS
    reverts the region).  An IDAT not preceded by an fcTL is the
    spec's non-animated default image and is excluded from the frame
    stack.  Raises ValueError on structural violations.
    """
    ihdr_body = None
    plte_body = None
    n_frames_decl = None
    seq_expected = 0
    frames_raw: list[tuple[tuple, list[bytes]]] = []  # (fctl, datas)
    pending_fctl = None
    idat_in_animation = False
    for tag, body in _png_chunks(payload):
        if tag == b"IHDR":
            ihdr_body = body
        elif tag == b"PLTE":
            plte_body = body
        elif tag == b"acTL":
            n_frames_decl, _plays = struct.unpack(">II", body)
        elif tag == b"fcTL":
            if len(body) != 26:
                raise ValueError("APNG fcTL length must be 26")
            seq = struct.unpack(">I", body[:4])[0]
            if seq != seq_expected:
                raise ValueError(
                    f"APNG sequence number {seq}, expected {seq_expected}"
                )
            seq_expected += 1
            pending_fctl = struct.unpack(">IIIIIHHBB", body)
            frames_raw.append((pending_fctl, []))
        elif tag == b"fdAT":
            if pending_fctl is None or not frames_raw:
                raise ValueError("APNG fdAT before any fcTL")
            seq = struct.unpack(">I", body[:4])[0]
            if seq != seq_expected:
                raise ValueError(
                    f"APNG sequence number {seq}, expected {seq_expected}"
                )
            seq_expected += 1
            frames_raw[-1][1].append(body[4:])
        elif tag == b"IDAT":
            if pending_fctl is not None and frames_raw and not frames_raw[-1][1]:
                frames_raw[-1][1].append(body)
                idat_in_animation = True
            elif idat_in_animation and frames_raw and frames_raw[-1][1]:
                frames_raw[-1][1].append(body)  # continued default-image IDAT
    if ihdr_body is None:
        raise ValueError("APNG missing IHDR")
    if n_frames_decl is None:
        raise ValueError("not an APNG (no acTL)")
    if n_frames_decl != len(frames_raw):
        raise ValueError(
            f"APNG declares {n_frames_decl} frames, found {len(frames_raw)}"
        )
    if not frames_raw:
        raise ValueError("APNG with zero frames")
    w, h = struct.unpack(">II", ihdr_body[:8])
    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    out: list[np.ndarray] = []
    delays: list[int] = []
    prev = None
    for fctl, datas in frames_raw:
        (_seq, fw, fh, x0, y0, dnum, dden, dispose, blend) = fctl
        if fw == 0 or fh == 0 or x0 + fw > w or y0 + fh > h:
            raise ValueError("APNG frame region outside canvas")
        if not datas:
            raise ValueError("APNG frame has no data chunks")
        sub_ihdr = struct.pack(">II", fw, fh) + ihdr_body[8:]
        mini = _SIG + _chunk(b"IHDR", sub_ihdr)
        if plte_body is not None:
            mini += _chunk(b"PLTE", plte_body)
        mini += _chunk(b"IDAT", b"".join(datas)) + _chunk(b"IEND", b"")
        region = _to_rgba(decode_png(mini))
        if len(out) == 0 and dispose == _APNG_DISPOSE_PREVIOUS:
            dispose = _APNG_DISPOSE_BACKGROUND  # spec: first frame rule
        if dispose == _APNG_DISPOSE_PREVIOUS:
            prev = canvas[y0 : y0 + fh, x0 : x0 + fw].copy()
        tgt = canvas[y0 : y0 + fh, x0 : x0 + fw]
        if blend == _APNG_BLEND_SOURCE:
            tgt[:] = region
        elif blend == _APNG_BLEND_OVER:
            fa = region[:, :, 3:].astype(np.float64) / 255.0
            ca = tgt[:, :, 3:].astype(np.float64) / 255.0
            oa = fa + ca * (1.0 - fa)
            safe = np.where(oa == 0.0, 1.0, oa)
            rgb = (
                region[:, :, :3] * fa + tgt[:, :, :3] * ca * (1.0 - fa)
            ) / safe
            tgt[:, :, :3] = np.round(rgb).astype(np.uint8)
            tgt[:, :, 3:] = np.round(oa * 255.0).astype(np.uint8)
        else:
            raise ValueError(f"APNG blend op {blend} unknown")
        out.append(canvas.copy())
        dden = dden or 100  # spec: denominator 0 means 1/100 s
        delays.append(round(1000 * dnum / dden))
        if dispose == _APNG_DISPOSE_BACKGROUND:
            canvas[y0 : y0 + fh, x0 : x0 + fw] = 0
        elif dispose == _APNG_DISPOSE_PREVIOUS:
            canvas[y0 : y0 + fh, x0 : x0 + fw] = prev
        elif dispose != _APNG_DISPOSE_NONE:
            raise ValueError(f"APNG dispose op {dispose} unknown")
    return np.stack(out), delays


def _idat_body(png: bytes) -> bytes:
    return b"".join(body for tag, body in _png_chunks(png) if tag == b"IDAT")


def encode_apng(
    frames,
    delays_ms=None,
    num_plays: int = 0,
    regions=None,
    dispose_ops=None,
    blend_ops=None,
    level: int = 6,
) -> bytes:
    """Encode a spec-valid APNG.

    ``frames[0]`` is the full-canvas first frame (uint8 RGB or RGBA);
    later entries are full frames by default, or sub-regions when
    ``regions[i] = (x0, y0)`` offsets are given (then ``frames[i]``
    may be smaller than the canvas).  ``dispose_ops``/``blend_ops``
    give the per-frame fcTL ops (default NONE/SOURCE).  Every frame's
    pixel data is produced by ``encode_png`` and re-wrapped, so the
    byte stream exercises exactly the static pipeline per frame.
    """
    n = len(frames)
    if n == 0:
        raise ValueError("APNG needs at least one frame")
    delays_ms = delays_ms or [100] * n
    dispose_ops = dispose_ops or [_APNG_DISPOSE_NONE] * n
    blend_ops = blend_ops or [_APNG_BLEND_SOURCE] * n
    f0 = np.asarray(frames[0], dtype=np.uint8)
    if f0.ndim != 3 or f0.shape[2] not in (3, 4):
        raise ValueError("APNG frames must be (h, w, 3|4) uint8")
    h, w = f0.shape[:2]
    nch = f0.shape[2]
    out = bytearray(_SIG)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {3: 2, 4: 6}[nch], 0, 0, 0)
    out += _chunk(b"IHDR", ihdr)
    out += _chunk(b"acTL", struct.pack(">II", n, num_plays))
    seq = 0

    def fctl(fw, fh, x0, y0, i):
        nonlocal seq
        dnum, dden = delays_ms[i], 1000
        body = struct.pack(
            ">IIIIIHHBB",
            seq, fw, fh, x0, y0, dnum, dden,
            dispose_ops[i], blend_ops[i],
        )
        seq += 1
        return _chunk(b"fcTL", body)

    out += fctl(w, h, 0, 0, 0)
    out += _chunk(b"IDAT", _idat_body(encode_png(f0, level=level)))
    for i in range(1, n):
        fi = np.asarray(frames[i], dtype=np.uint8)
        if fi.ndim != 3 or fi.shape[2] != nch:
            raise ValueError("APNG frames must share the channel count")
        x0, y0 = (regions[i] if regions and regions[i] else (0, 0))
        fh, fw = fi.shape[:2]
        if x0 + fw > w or y0 + fh > h:
            raise ValueError("APNG frame region outside canvas")
        out += fctl(fw, fh, x0, y0, i)
        body = struct.pack(">I", seq) + _idat_body(
            encode_png(fi, level=level)
        )
        seq += 1
        out += _chunk(b"fdAT", body)
    out += _chunk(b"IEND", b"")
    return bytes(out)
