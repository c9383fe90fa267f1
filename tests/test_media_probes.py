"""Codec-free audio/image container probes (r10): MP3 frame walk, ADTS
AAC frame walk, WebP dimensions — fixtures hand-assembled from the spec
bit layouts (independent of any repo encoder), expectations recomputed
from the generation arithmetic."""

from __future__ import annotations

import struct

import pytest

from firepit_spark.functions import multimodal as mm


def _mp3_frame(version=3, layer=3, br_idx=9, sr_idx=0, mode=0, pad=0):
    """One MPEG audio frame with zero payload, built from the spec bit
    layout (11-bit sync, version, layer, bitrate/rate indices)."""
    b1 = 0xE0 | (version << 3) | ((4 - layer) << 1) | 0x01
    b2 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
    b3 = mode << 6
    vgroup = 0 if version == 3 else 1
    bitrate = mm._MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = mm._MP3_RATES[version][sr_idx]
    if layer == 1:
        flen = (12 * bitrate // rate + pad) * 4
    else:
        coef = 144 if (layer == 2 or version == 3) else 72
        flen = coef * bitrate // rate + pad
    return (bytes([0xFF, b1, b2, b3]) + b"\x00" * (flen - 4), flen, rate)


def test_mp3_probe_cbr_stereo():
    frame, flen, rate = _mp3_frame()  # MPEG1 L3 128k 44100 stereo
    blob = frame * 5
    p = mm.mp3_probe(blob)
    assert p["version"] == "MPEG1" and p["layer"] == 3
    assert p["bitrate"] == 128000 and p["sample_rate"] == 44100
    assert p["channels"] == 2 and p["n_frames"] == 5
    assert p["duration_ms"] == 5 * 1152 * 1000 // 44100
    assert p["vbr_declared_frames"] is None
    assert mm.sniff_mime(blob) == "audio/mpeg"


def test_mp3_probe_mpeg25_mono_and_id3():
    # MPEG2.5 L3 64k 11025 mono: 576 samples/frame, 72-coefficient length
    frame, flen, rate = _mp3_frame(version=0, br_idx=8, sr_idx=0, mode=3)
    assert flen == 72 * 64000 // 11025
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 12]) + b"\x00" * 12
    p = mm.mp3_probe(id3 + frame * 3)
    assert p["version"] == "MPEG2.5" and p["channels"] == 1
    assert p["sample_rate"] == 11025 and p["n_frames"] == 3
    assert p["duration_ms"] == 3 * 576 * 1000 // 11025


def test_mp3_probe_xing_vbr_tag_and_vbr_walk():
    # frame 1 carries a Xing tag declaring 99 frames; the walk itself
    # sees mixed bitrates (VBR) and counts what is actually there
    f1, flen1, _ = _mp3_frame(br_idx=9)
    body = bytearray(f1)
    side = 32  # MPEG1 stereo side-info size
    tag_at = 4 + side
    body[tag_at:tag_at + 12] = b"Xing" + struct.pack(">I", 1) + struct.pack(
        ">I", 99
    )
    f2, _, _ = _mp3_frame(br_idx=11)  # 192k frame: different length
    p = mm.mp3_probe(bytes(body) + f2 + f2)
    assert p["vbr_declared_frames"] == 99
    assert p["n_frames"] == 3
    # trailing garbage (ID3v1-ish) stops the walk instead of erroring
    p = mm.mp3_probe(bytes(body) + b"TAGxxxxxxx")
    assert p["n_frames"] == 1


def test_mp3_probe_rejects_garbage():
    with pytest.raises(ValueError):
        mm.mp3_probe(b"")
    with pytest.raises(ValueError):
        mm.mp3_probe(b"RIFFxxxxWAVE")
    # sync bytes but reserved layer (an ADTS header) is not MPEG audio
    with pytest.raises(ValueError):
        mm.mp3_probe(bytes([0xFF, 0xF1, 0x50, 0x80, 0x00, 0xFF, 0xFC]))


def _adts_frame(payload=24, profile=1, sr_idx=4, channels=2):
    flen = 7 + payload
    h = bytearray(7)
    h[0] = 0xFF
    h[1] = 0xF1  # MPEG-4, layer 00, no CRC
    h[2] = (profile << 6) | (sr_idx << 2) | ((channels >> 2) & 0x01)
    h[3] = ((channels & 0x03) << 6) | ((flen >> 11) & 0x03)
    h[4] = (flen >> 3) & 0xFF
    h[5] = ((flen & 0x07) << 5) | 0x1F
    h[6] = 0xFC
    return bytes(h) + b"\x00" * payload


def test_aac_adts_probe():
    blob = b"".join(_adts_frame(payload=20 + i) for i in range(7))
    p = mm.aac_adts_probe(blob)
    assert p["profile"] == "LC" and p["sample_rate"] == 44100
    assert p["channels"] == 2 and p["crc_absent"]
    assert p["n_frames"] == 7
    assert p["duration_ms"] == 7 * 1024 * 1000 // 44100
    assert mm.sniff_mime(blob) == "audio/aac"
    # truncated tail: stop, don't error
    assert mm.aac_adts_probe(blob + b"\xde\xad")["n_frames"] == 7
    with pytest.raises(ValueError):
        mm.aac_adts_probe(b"\xff\xfb\x90\x00")  # MPEG1 L3, not ADTS
    with pytest.raises(ValueError):
        mm.aac_adts_probe(b"")


def _webp(fourcc: bytes, body: bytes) -> bytes:
    chunk = fourcc + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def test_webp_dims_all_three_layouts():
    # VP8 (lossy): 3-byte frame tag, keyframe start code, 14-bit dims
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240)
    assert mm.image_dims(_webp(b"VP8 ", body)) == (320, 240)
    # VP8L (lossless): signature byte + LSB-packed (w-1, h-1)
    bits = (100 - 1) | ((50 - 1) << 14)
    body = b"\x2f" + struct.pack("<I", bits)
    assert mm.image_dims(_webp(b"VP8L", body)) == (100, 50)
    # VP8X (extended): 24-bit canvas dims
    body = b"\x00\x00\x00\x00" + (640 - 1).to_bytes(3, "little") + (
        480 - 1
    ).to_bytes(3, "little")
    assert mm.image_dims(_webp(b"VP8X", body)) == (640, 480)
    # corrupt start code -> None, not a crash
    body = b"\x00\x00\x00" + b"\xde\xad\x2a" + struct.pack("<HH", 1, 1)
    assert mm.image_dims(_webp(b"VP8 ", body)) is None


def test_probe_media_includes_webp_dims(spark):
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 64, 32)
    media = spark.createDataFrame(
        [(1, _webp(b"VP8 ", body))], "media_id LONG, content BINARY"
    )
    row = mm.probe_media(media).collect()[0]
    assert row["mime_sniffed"] == "image/webp"
    assert (row["width"], row["height"]) == (64, 32)
