"""Multimodal column plumbing: binary payloads + typed metadata.

Image/audio/video are opaque `binary` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
mapInPandas stages. Decode is REAL in pure numpy for netpbm (P5/P6),
baseline JPEG (functions/jpeg.py), PNG incl. Adam7/16-bit AND
animated APNG with dispose/blend compositing (functions/png.py —
round 5), GIF incl. animation (functions/gif.py), WebP
lossless VP8L (functions/webp.py) and lossy VP8 key frames
(functions/vp8.py), baseline AND progressive JPEG
(functions/jpeg.py), TIFF (functions/tiff.py), BMP + ICO
(functions/bmp.py), WAV audio incl. G.711/ADPCM (functions/wav.py),
FLAC compressed audio (functions/flac.py: Rice partitions, fixed+LPC
predictors, all stereo decorrelations, CRCs — round 5),
MJPEG-AVI video (functions/avi.py), and VP8 INTER frames
in IVF sequences (functions/vp8.py: motion compensation against
last/golden/altref reference buffers, incl. SPLITMV per-subblock
motion — round 5); the remaining psychoacoustic codecs
(MP3/AAC/H.264/VP9/...) need codec libraries absent from this
container and raise at a clearly-marked boundary. The Spark-side plumbing — schema, batch
shape, partition-size control, null propagation — is real and tested
for every kind.

At 100 TB the rules are: (1) binary columns ride their own tables
keyed by content hash so text-only stages never scan them; (2)
maxPartitionBytes sizes batches, not row counts; (3) extraction
emits fixed-width feature arrays, never re-emits payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "width int, height int, duration_ms long"
)

FEATURE_DIM = 16

_FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, feature array<float>"
)


def decode_netpbm(payload: bytes) -> np.ndarray:
    """REAL decoder for binary Netpbm images — P5 (PGM grayscale,
    HxW) and P6 (PPM RGB, HxWx3) — in pure numpy: header parse +
    frombuffer. Netpbm is the one mainstream raster format that needs
    no codec library, so this path is genuinely end-to-end; other
    formats (JPEG/PNG/...) still raise below."""
    if not payload or payload[:1] != b"P":
        raise ValueError("not a netpbm payload")
    # header: magic, width, height, maxval — whitespace/comment separated
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    i += 1  # single whitespace after maxval
    magic = payload[:2]
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    flat = np.frombuffer(payload, dtype=np.uint8, offset=i)
    if magic == b"P5":
        return flat[: width * height].reshape(height, width)
    if magic == b"P6":
        return flat[: width * height * 3].reshape(height, width, 3)
    raise ValueError(f"unsupported netpbm magic {magic!r}")


def encode_pgm(img: np.ndarray) -> bytes:
    """Inverse of decode_netpbm for P5 — test/generator helper."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize in pure numpy (index-map gather) — the
    standard cheap pre-featurization resize."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]


def _decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload. Netpbm (P5/P6), baseline JPEG
    (functions/jpeg.py: marker parse, Huffman entropy decode,
    vectorized IDCT, 4:2:0/4:2:2/4:4:4, restart markers) and PNG
    (functions/png.py: chunk walk + CRC, DEFLATE via stdlib zlib, all
    five scanline filters, gray/RGB/palette/alpha) decode FOR REAL in
    pure numpy (incl. Adam7 interlace), as do GIF (LZW) and WebP
    lossless (full VP8L) AND lossy VP8 key frames (functions/vp8.py:
    boolean coder + intra prediction + iDCT/iWHT); JPEG covers
    baseline AND progressive (SOF2) since round 4, and VP8 INTER
    frames decode in IVF sequences since round 5 (video path). The
    remaining frontier — H.264/VP9, MP3/AAC — raises at a
    clearly-marked boundary."""
    if payload and payload[:1] == b"P" and payload[1:2] in (b"5", b"6"):
        return decode_netpbm(payload)
    if payload and payload[:2] == b"\xff\xd8":
        from ..functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload and payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..functions.png import decode_png

        return decode_png(payload)
    if payload and payload[:4] == b"GIF8":
        from ..functions.gif import decode_gif

        return decode_gif(payload)[0][0]  # first frame
    if payload and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from ..functions.webp import decode_webp

        return decode_webp(payload)
    if payload and payload[:2] == b"BM":
        from ..functions.bmp import decode_bmp

        return decode_bmp(payload)
    if payload and payload[:4] in (b"II*\x00", b"MM\x00*"):
        from ..functions.tiff import decode_tiff

        return decode_tiff(payload)
    if payload and payload[:4] == b"\x00\x00\x01\x00":
        from ..functions.bmp import decode_ico

        return decode_ico(payload)
    if payload and payload[:4] == b"qoif":
        from ..functions.qoi import decode_qoi

        return decode_qoi(payload)
    raise NotImplementedError(
        "unsupported image payload: netpbm (P5/P6), JPEG (baseline + "
        "progressive), PNG (incl. the APNG default image), GIF, WebP "
        "(lossless VP8L + lossy VP8 key frames), TIFF, BMP, ICO and "
        "QOI decode natively; VP8 inter frames decode on the video path "
        "(decode_video_frames). The remaining frontier — H.264/VP9, "
        "JPEG 2000/AVIF — needs codec libraries absent from this "
        "container, or use extract_media_features("
        "deterministic_fake=True)"
    )


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic fake embedding: byte-histogram moments. Stands in
    for a real CNN/CLIP feature so partitioning/schema/batching are
    tested with real shapes."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float32)
    total = hist.sum()
    return hist / total if total else hist


def _image_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real image feature: decode -> grayscale -> nearest-resize to
    sqrt(dim)^2 thumbnail -> [0,1] floats. A stand-in for a CNN/CLIP
    embedding with the same fixed-width contract."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    img = _decode_image(payload)
    if img.ndim == 3:
        img = img.mean(axis=2)
    side = max(int(np.sqrt(dim)), 1)
    small = resize_nearest(img, side, side).astype(np.float32) / 255.0
    out = np.zeros(dim, dtype=np.float32)
    flat = small.reshape(-1)[:dim]
    out[: len(flat)] = flat
    return out


def _audio_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real audio feature: WAV/PCM (functions/wav.py), FLAC
    (functions/flac.py), AIFF, or Sun AU (functions/aiff.py) decode
    by magic dispatch, pure struct + numpy ->
    RMS/peak/ZCR/centroid + FFT bands, padded or truncated to the
    fixed feature width. FLAC samples normalize by 2^(bps-1) to the
    same [-1, 1] convention decode_wav uses."""
    from ..functions.wav import audio_features, decode_wav

    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    if payload[:4] == b"fLaC":
        from ..functions.flac import decode_flac

        raw, _rate, bps = decode_flac(payload)
        samples = raw.astype(np.float64) / float(1 << (bps - 1))
    elif payload[:4] == b"FORM":
        from ..functions.aiff import decode_aiff

        raw, _rate, bits = decode_aiff(payload)
        samples = raw.astype(np.float64) / float(1 << (bits - 1))
    elif payload[:4] == b".snd":
        from ..functions.aiff import decode_au

        raw, _rate, bits = decode_au(payload)
        samples = raw.astype(np.float64) / float(1 << (bits - 1))
    else:
        samples, _rate = decode_wav(payload)
    feat = audio_features(samples, n_bands=max(dim - 4, 1))
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, feat.size)] = feat[:dim]
    return out


def decode_video_frames(payload: bytes) -> np.ndarray:
    """Decode a video payload to a (n, h, w[, c]) uint8 frame stack.
    Real formats: MJPEG-AVI (functions/avi.py), animated GIF
    (functions/gif.py), animated PNG (functions/png.py:decode_apng —
    fcTL dispose/blend compositing, RGBA frames), and VP8-in-IVF with
    true INTER frames (functions/vp8.py: motion-vector entropy
    decode, near-MV survey, last/golden/altref reference buffers,
    quarter/eighth-pel six-tap motion compensation). IVF returns the
    luma plane per frame (gray). H.264/VP9/AV1 remain the marked
    boundary."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from ..functions.avi import decode_mjpeg_avi

        return decode_mjpeg_avi(payload)[0]
    if payload[:4] == b"GIF8":
        from ..functions.gif import decode_gif

        return decode_gif(payload)[0]
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..functions.png import decode_apng

        return decode_apng(payload)[0]
    if payload[:4] == b"DKIF":
        from ..functions.vp8 import decode_ivf

        planes, _fps = decode_ivf(payload)
        return np.stack([y for (y, _u, _v) in planes])
    raise ValueError(
        "video decode supports MJPEG-AVI, animated GIF, animated PNG, "
        "and VP8-in-IVF (key + inter frames); H.264/VP9/AV1 need "
        "libraries absent from this container"
    )


def _video_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real video feature: frame-stack decode (MJPEG-AVI, animated
    GIF, or VP8-in-IVF) -> per-frame gray mean in [0, 1] for up to dim
    frames. A stand-in for a per-frame embedding with the same
    fixed-width contract."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    frames = decode_video_frames(payload)
    if frames.ndim == 4:
        frames = frames.mean(axis=3)
    means = frames.reshape(frames.shape[0], -1).mean(axis=1) / 255.0
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, means.size)] = means[:dim]
    return out


def extract_media_features(
    media: DataFrame, deterministic_fake: bool = True, dim: int = FEATURE_DIM
) -> DataFrame:
    """media table -> (media_id, kind, n_bytes, feature[dim]).

    mapInPandas so each Arrow batch is one vectorized pass; payloads are
    dropped from the output (never re-shuffle binary). With
    deterministic_fake=False, image rows with netpbm/JPEG/PNG/GIF
    payloads, audio rows with WAV or FLAC payloads, and video rows with
    MJPEG-AVI or VP8-in-IVF payloads decode FOR REAL; other compressed
    formats fall back to the byte-histogram feature (codec libs absent
    here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                if (
                    not deterministic_fake
                    and kind == "image"
                    and payload
                    and (
                        payload[:1] == b"P"
                        or payload[:2] == b"\xff\xd8"
                        or payload[:8] == b"\x89PNG\r\n\x1a\n"
                        or payload[:4] == b"GIF8"
                        or (
                            payload[:4] == b"RIFF"
                            and payload[8:12] == b"WEBP"
                        )
                        or payload[:2] == b"BM"
                        or payload[:4] in (b"II*\x00", b"MM\x00*")
                        or payload[:4] == b"\x00\x00\x01\x00"
                        or payload[:4] == b"qoif"
                    )
                ):
                    feats.append(_image_feature(payload, dim))
                elif (
                    not deterministic_fake
                    and kind == "audio"
                    and payload
                    and payload[:4] in (b"RIFF", b"fLaC")
                ):
                    feats.append(_audio_feature(payload, dim))
                elif (
                    not deterministic_fake
                    and kind == "video"
                    and payload
                    and (
                        (payload[:4] == b"RIFF" and payload[8:12] == b"AVI ")
                        or payload[:4] == b"GIF8"
                        or payload[:4] == b"DKIF"
                        or payload[:8] == b"\x89PNG\r\n\x1a\n"
                    )
                ):
                    feats.append(_video_feature(payload, dim))
                else:
                    feats.append(_fake_feature(payload, dim))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=_FEATURE_SCHEMA)


_EXIF_SCHEMA = (
    "media_id string, make string, model string, orientation int, "
    "exif_datetime string, exposure_num long, exposure_den long, "
    "iso int, pixel_x long, pixel_y long"
)


def exif_metadata(media: DataFrame) -> DataFrame:
    """Extract EXIF provenance fields from JPEG payloads (APP1/Exif,
    functions/exif.py) -> one typed row per media row. Rows without
    EXIF come back all-NULL rather than being dropped, so the result
    left-aligns with the media table for downstream filters
    (orientation normalization, camera-make provenance, capture-time
    range cuts — the standard crawl-image cleaning predicates). One
    Arrow pass; payloads never re-emitted."""
    from ..functions.exif import parse_exif

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "make", "model", "orientation", "datetime",
            "exposure_num", "exposure_den", "iso", "pixel_x", "pixel_y",
        ]
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                meta = None
                if payload is not None and len(payload) >= 4:
                    meta = parse_exif(bytes(payload))
                rows.append(
                    [None] * len(cols)
                    if meta is None
                    else [meta[k] for k in cols]
                )
            out = pd.DataFrame(rows, columns=cols)
            out.insert(0, "media_id", pdf["media_id"].values)
            out = out.rename(columns={"datetime": "exif_datetime"})
            for c in ("orientation", "iso"):
                out[c] = pd.array(out[c], dtype="Int32")
            for c in ("exposure_num", "exposure_den", "pixel_x", "pixel_y"):
                out[c] = pd.array(out[c], dtype="Int64")
            yield out

    return media.mapInPandas(run, schema=_EXIF_SCHEMA)


_MP4_SCHEMA = (
    "media_id string, major_brand string, timescale int, "
    "duration_sec double, n_tracks int, track_id int, handler string, "
    "codec string, width double, height double, n_samples long, "
    "language string"
)


def mp4_metadata(media: DataFrame) -> DataFrame:
    """Structural MP4/ISO-BMFF metadata (functions/mp4.py parse_mp4)
    -> one typed row per media row: brand, movie duration, and the
    first track's layout (id, handler, codec fourcc, 16.16 fixed
    dimensions, sample count, ISO-639 language). The WAT philosophy
    for the video column: at crawl scale everything a filter needs
    (duration caps, resolution floors, codec allowlists) lives in a
    few KB of `moov` — `mdat` is never read. Unparseable payloads
    come back all-NULL, left-aligned with the media table. One Arrow
    pass."""
    from ..functions.mp4 import Mp4Error, parse_mp4

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "major_brand", "timescale", "duration_sec", "n_tracks",
            "track_id", "handler", "codec", "width", "height",
            "n_samples", "language",
        ]
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                row = [None] * len(cols)
                if payload is not None and len(payload) >= 8:
                    try:
                        m = parse_mp4(bytes(payload))
                        t = m.tracks[0] if m.tracks else None
                        row = [
                            m.major_brand,
                            m.timescale,
                            m.duration_seconds,
                            len(m.tracks),
                            t.track_id if t else None,
                            t.handler if t else None,
                            t.codec if t else None,
                            t.width if t else None,
                            t.height if t else None,
                            t.n_samples if t else None,
                            t.language if t else None,
                        ]
                    except Mp4Error:
                        pass
                rows.append(row)
            out = pd.DataFrame(rows, columns=cols)
            out.insert(0, "media_id", pdf["media_id"].values)
            for c in ("timescale", "n_tracks", "track_id"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["n_samples"] = pd.array(out["n_samples"], dtype="Int64")
            yield out

    return media.mapInPandas(run, schema=_MP4_SCHEMA)


_ID3_SCHEMA = (
    "media_id string, tag_version string, title string, artist string, "
    "album string, year string, track string, genre string"
)


def id3_metadata(media: DataFrame) -> DataFrame:
    """ID3v2.3/2.4 (+ ID3v1 fallback) tag fields from MP3 payloads
    (functions/id3.py) -> one typed row per media row; untagged or
    malformed payloads come back all-NULL, left-aligned with the
    media table. Structural only — MPEG audio frames are never
    decoded. One Arrow pass."""
    from ..functions.id3 import Id3Error, parse_id3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["tag_version", "title", "artist", "album", "year",
                "track", "genre"]
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                row = [None] * len(cols)
                if payload is not None:
                    try:
                        m = parse_id3(bytes(payload))
                    except Id3Error:
                        m = None
                    if m is not None:
                        row = [m.version, m.title, m.artist, m.album,
                               m.year, m.track, m.genre]
                rows.append(row)
            out = pd.DataFrame(rows, columns=cols)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(run, schema=_ID3_SCHEMA)


_MP3_SCHEMA = (
    "media_id string, n_frames long, duration_sec double, "
    "samplerate int, mode string, layer int, mpeg_version string, "
    "mean_bitrate_kbps double, is_cbr boolean"
)


def mp3_stats(media: DataFrame) -> DataFrame:
    """MPEG audio stream statistics (functions/mpeg_audio.py): walk
    the 4-byte frame headers (skipping ID3 tags) and aggregate
    duration / bitrate / CBR-ness / channel mode — the audio analog
    of mp4_metadata's moov-only philosophy: every curation filter a
    100 TB audio sweep needs, with zero subband/huffman decode.
    Unparseable payloads come back all-NULL. One Arrow pass."""
    from ..functions.mpeg_audio import MpegAudioError, stream_stats

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["n_frames", "duration_sec", "samplerate", "mode",
                "layer", "mpeg_version", "mean_bitrate_kbps", "is_cbr"]
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                row = [None] * len(cols)
                if payload is not None and len(payload) >= 4:
                    try:
                        s = stream_stats(bytes(payload))
                        row = [s.n_frames, s.duration_sec, s.samplerate,
                               s.mode, s.layer, s.version,
                               s.mean_bitrate_kbps, s.is_cbr]
                    except MpegAudioError:
                        pass
                rows.append(row)
            out = pd.DataFrame(rows, columns=cols)
            out.insert(0, "media_id", pdf["media_id"].values)
            out["n_frames"] = pd.array(out["n_frames"], dtype="Int64")
            for c in ("samplerate", "layer"):
                out[c] = pd.array(out[c], dtype="Int32")
            out["is_cbr"] = pd.array(out["is_cbr"], dtype="boolean")
            yield out

    return media.mapInPandas(run, schema=_MP3_SCHEMA)
