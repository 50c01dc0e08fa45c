"""APNG (animated PNG) codec: acTL/fcTL/fdAT parse, per-frame
dispose/blend compositing, sequence-number enforcement, and the
multimodal video-path integration.  Frame data reuses the static PNG
pipeline end-to-end (each fdAT body is a real encode_png IDAT)."""

import numpy as np
import pytest

from aml_entity_resolution_assignment_spark.functions.png import (
    decode_apng,
    decode_png,
    encode_apng,
    encode_png,
)


def _rgba(frame_rgb):
    a = np.full(frame_rgb.shape[:2] + (1,), 255, np.uint8)
    return np.concatenate([frame_rgb, a], axis=2)


class TestRoundtrip:
    def test_full_frames(self):
        rng = np.random.RandomState(3)
        frames = [rng.randint(0, 256, (9, 7, 3), np.uint8) for _ in range(4)]
        p = encode_apng(frames, delays_ms=[10, 20, 30, 40])
        out, delays = decode_apng(p)
        assert out.shape == (4, 9, 7, 4)
        assert delays == [10, 20, 30, 40]
        assert np.array_equal(out, np.stack([_rgba(f) for f in frames]))

    def test_rgba_frames_and_default_image_compat(self):
        rng = np.random.RandomState(4)
        frames = [rng.randint(0, 256, (5, 5, 4), np.uint8) for _ in range(2)]
        p = encode_apng(frames)
        out, _ = decode_apng(p)
        # frame 0 doubles as the PNG default image: static decoders
        # (and our decode_png) must read it unchanged
        assert np.array_equal(decode_png(p), frames[0])
        assert np.array_equal(out[0], frames[0])

    def test_static_png_is_not_apng(self):
        img = np.zeros((4, 4, 3), np.uint8)
        with pytest.raises(ValueError, match="acTL"):
            decode_apng(encode_png(img))


class TestCompositing:
    def test_region_update_with_source_blend(self):
        base = np.full((6, 8, 3), 10, np.uint8)
        patch = np.full((2, 3, 3), 200, np.uint8)
        p = encode_apng([base, patch], regions=[None, (4, 1)])
        out, _ = decode_apng(p)
        exp = _rgba(base).copy()
        exp[1:3, 4:7, :3] = 200
        assert np.array_equal(out[1], exp)
        # untouched pixels persist (dispose NONE)
        assert np.array_equal(out[1][0, 0], [10, 10, 10, 255])

    def test_over_blend_alpha_composite(self):
        base = np.zeros((4, 4, 4), np.uint8)
        base[..., :3], base[..., 3] = 100, 255
        ov = np.zeros((4, 4, 4), np.uint8)
        ov[..., 0], ov[..., 3] = 200, 128
        p = encode_apng([base, ov], blend_ops=[0, 1])
        out, _ = decode_apng(p)
        fa = 128 / 255
        r = round((200 * fa + 100 * (1 - fa)) / 1.0)
        g = round(100 * (1 - fa) / 1.0)
        assert np.array_equal(out[1][0, 0], [r, g, g, 255])

    def test_dispose_background_clears_region(self):
        base = np.full((4, 4, 3), 50, np.uint8)
        patch = np.full((2, 2, 3), 250, np.uint8)
        tail = np.full((1, 1, 3), 7, np.uint8)
        p = encode_apng(
            [base, patch, tail],
            regions=[None, (0, 0), (3, 3)],
            dispose_ops=[0, 1, 0],  # frame 1 clears its region after
        )
        out, _ = decode_apng(p)
        assert np.array_equal(out[1][0, 0], [250, 250, 250, 255])
        # frame 2: patch region reset to transparent black
        assert np.array_equal(out[2][0, 0], [0, 0, 0, 0])
        assert np.array_equal(out[2][3, 3], [7, 7, 7, 255])

    def test_dispose_previous_reverts_region(self):
        base = np.full((4, 4, 3), 50, np.uint8)
        patch = np.full((2, 2, 3), 250, np.uint8)
        tail = np.full((1, 1, 3), 7, np.uint8)
        p = encode_apng(
            [base, patch, tail],
            regions=[None, (0, 0), (3, 3)],
            dispose_ops=[0, 2, 0],  # frame 1 reverts its region after
        )
        out, _ = decode_apng(p)
        assert np.array_equal(out[2][0, 0], [50, 50, 50, 255])


class TestValidation:
    def _break_seq(self, p: bytes) -> bytes:
        # find the second fcTL and bump its sequence number field
        import struct as s
        import zlib

        pos = p.index(b"fcTL", p.index(b"fcTL") + 4) - 4
        (length,) = s.unpack(">I", p[pos : pos + 4])
        body = bytearray(p[pos + 8 : pos + 8 + length])
        body[:4] = s.pack(">I", 99)
        crc = s.pack(">I", zlib.crc32(b"fcTL" + bytes(body)) & 0xFFFFFFFF)
        return p[: pos + 8] + bytes(body) + crc + p[pos + 12 + length :]

    def test_bad_sequence_number_raises(self):
        frames = [np.zeros((3, 3, 3), np.uint8)] * 2
        p = self._break_seq(encode_apng(frames))
        with pytest.raises(ValueError, match="sequence"):
            decode_apng(p)

    def test_frame_count_mismatch_raises(self):
        frames = [np.zeros((3, 3, 3), np.uint8)] * 2
        p = bytearray(encode_apng(frames))
        import struct as s
        import zlib

        pos = p.index(b"acTL") - 4
        body = s.pack(">II", 5, 0)
        p[pos + 8 : pos + 16] = body
        p[pos + 16 : pos + 20] = s.pack(
            ">I", zlib.crc32(b"acTL" + body) & 0xFFFFFFFF
        )
        with pytest.raises(ValueError, match="declares"):
            decode_apng(bytes(p))

    def test_region_outside_canvas_raises(self):
        base = np.zeros((4, 4, 3), np.uint8)
        patch = np.zeros((3, 3, 3), np.uint8)
        with pytest.raises(ValueError, match="region"):
            encode_apng([base, patch], regions=[None, (2, 2)])

    def test_corrupt_crc_raises(self):
        p = bytearray(encode_apng([np.zeros((3, 3, 3), np.uint8)] * 2))
        p[p.index(b"fdAT") + 8] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            decode_apng(bytes(p))


class TestMultimodalIntegration:
    def test_video_path_decodes_apng(self):
        from aml_entity_resolution_assignment_spark.operators.multimodal import (
            decode_video_frames,
        )

        rng = np.random.RandomState(5)
        frames = [rng.randint(0, 256, (6, 6, 3), np.uint8) for _ in range(3)]
        out = decode_video_frames(encode_apng(frames))
        assert out.shape == (3, 6, 6, 4)
        assert np.array_equal(out[2, :, :, :3], frames[2])
