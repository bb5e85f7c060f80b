"""PCM WAV kernel tests: bit depths, chunk walking, guards, pipeline."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sparktika.kernels.audio import audio_features, decode_wav, sniff_wav
from sparktika.kernels.errors import KernelError


def _wav(samples: np.ndarray, rate: int = 8000, channels: int = 1,
         bits: int = 16, fmt_code: int = 1, extra_chunk: bytes = b"") -> bytes:
    if bits == 16:
        pcm = samples.astype("<i2").tobytes()
    elif bits == 8:
        pcm = (samples.astype(np.int64) + 128).astype(np.uint8).tobytes()
    else:
        pcm = samples.astype("<i4").tobytes()
    balign = channels * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_code, channels, rate,
                      rate * balign, balign, bits)
    return (b"RIFF" + struct.pack("<I", 36 + len(extra_chunk) + len(pcm))
            + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + extra_chunk
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def test_wav_16bit_roundtrip():
    s = np.array([0, 16384, -16384, 32767, -32768], dtype=np.int64)
    a = decode_wav(_wav(s))
    assert (a.sample_rate, a.n_channels, a.bits, a.n_frames) == (8000, 1, 16, 5)
    assert np.allclose(a.samples * 32768, s)


def test_wav_8bit_and_32bit():
    a8 = decode_wav(_wav(np.array([-128, 0, 127], dtype=np.int64), bits=8))
    assert a8.bits == 8 and a8.n_frames == 3
    assert a8.samples[0] == -1.0 and a8.samples[1] == 0.0
    a32 = decode_wav(_wav(np.array([1 << 30, -(1 << 30)], dtype=np.int64), bits=32))
    assert np.allclose(a32.samples, [0.5, -0.5])


def test_wav_stereo_frames_and_features():
    s = np.array([1000, -1000] * 10, dtype=np.int64)  # 10 stereo frames
    a = decode_wav(_wav(s, channels=2, rate=16000))
    assert (a.n_channels, a.n_frames) == (2, 10)
    f = audio_features(a)
    assert f["duration_ms"] == round(10 * 1000 / 16000)
    assert round(f["rms"] * 32768) == 1000
    assert f["dc_mean"] == 0.0


def test_wav_unknown_chunks_skipped():
    junk = b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # word-aligned
    a = decode_wav(_wav(np.array([7], dtype=np.int64), extra_chunk=junk))
    assert a.n_frames == 1


def test_wav_guards():
    assert not sniff_wav(b"not audio")
    with pytest.raises(KernelError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no chunks
    with pytest.raises(KernelError):  # float format
        decode_wav(_wav(np.array([1], dtype=np.int64), fmt_code=3))
    with pytest.raises(KernelError):  # 24-bit unsupported
        bad = _wav(np.array([1], dtype=np.int64))
        bad = bad.replace(struct.pack("<HH", 2, 16), struct.pack("<HH", 2, 24))
        decode_wav(bad)


def test_audio_pipeline_contains_failures(spark=None):
    from sparktika.pipeline.session import build_session
    from sparktika.pipeline.multimodal import extract_audio_features
    from sparktika.synth import build_wav

    s = build_session(master="local[2]", shuffle_partitions=2)
    try:
        rows = [(i, build_wav(i)) for i in range(6)]
        rows.append((100, b"RIFFjunkWAVEtrash"))
        rows.append((101, b"not audio at all"))
        df = s.createDataFrame(rows, "media_id long, payload binary")
        out = {r.media_id: r for r in extract_audio_features(df).collect()}
        for i in range(6):
            assert out[i].status == "ok"
            assert round(out[i].rms * 32768) == 1000 + (i % 100) * 300
        assert out[100].status == "failed"
        assert out[101].status == "failed"
    finally:
        s.stop()


# ------------------------------------------------------------------ MP4

def test_mp4_box_walk_and_guards():
    import struct as _s
    from sparktika.kernels.video import parse_mp4, sample_frames
    from sparktika.synth import build_mp4

    m = parse_mp4(build_mp4(5))
    assert m.track_kinds == ["vide"] and m.brand == "isom"
    with pytest.raises(KernelError):
        parse_mp4(b"not a video")
    # crafted box size larger than the file
    bad = bytearray(build_mp4(0))
    bad[0:4] = _s.pack(">I", 1 << 30)
    with pytest.raises(KernelError):
        parse_mp4(bytes(bad))
    # ftyp but no moov
    with pytest.raises(KernelError):
        parse_mp4(_s.pack(">I", 16) + b"ftypisom\x00\x00\x02\x00")
    # metadata-only MP4 carries no sample tables -> KernelError, not a hang
    with pytest.raises(KernelError):
        sample_frames(build_mp4(0))


def test_mjpeg_frame_sampling():
    """Sample-table walk + per-frame JPEG decode: every 2nd frame of the
    synth MJPEG track decodes to its exact solid gray; non-MJPEG codecs
    and out-of-bounds sample extents raise KernelError."""
    import struct as _s
    from sparktika.kernels.video import sample_frames
    from sparktika.synth import build_mjpeg_mp4

    for mid in (0, 3, 8, 254):
        n_frames = 4 + mid % 5
        out = sample_frames(build_mjpeg_mp4(mid), every_n=2)
        assert out == [(f, 16, 16, round(((mid * 37 + f * 11) % 256) / 255.0, 6))
                       for f in range(0, n_frames, 2)]
    # every_n=1 samples everything; large every_n yields just frame 0
    assert len(sample_frames(build_mjpeg_mp4(1), every_n=1)) == 5
    assert [f for f, *_ in sample_frames(build_mjpeg_mp4(1), every_n=99)] == [0]
    # inter-coded codec: honest degrade
    avc = build_mjpeg_mp4(3).replace(b"jpeg", b"avc1", 1)
    with pytest.raises(KernelError):
        sample_frames(avc, 2)
    # crafted stco pointing past EOF
    good = build_mjpeg_mp4(2)
    off = good.rindex(b"stco")
    bad = bytearray(good)
    bad[off + 12 : off + 16] = _s.pack(">I", len(good) + 100)
    with pytest.raises(KernelError):
        sample_frames(bytes(bad), 2)
    with pytest.raises(KernelError):
        sample_frames(good, 0)


def test_mp4_version1_mvhd():
    import struct as _s
    from sparktika.kernels.video import parse_mp4

    def box(t, b):
        return _s.pack(">I", 8 + len(b)) + t + b

    mvhd = box(b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 16
               + _s.pack(">IQ", 90000, 90000 * 3) + b"\x00" * 80)
    data = box(b"ftyp", b"mp42\x00\x00\x00\x00") + box(b"moov", mvhd)
    m = parse_mp4(data)
    assert m.duration_ms == 3000 and m.brand == "mp42"


def test_video_pipeline_contains_failures():
    from sparktika.pipeline.session import build_session
    from sparktika.pipeline.multimodal import extract_video_meta
    from sparktika.synth import build_mp4, media_dims

    s = build_session(master="local[2]", shuffle_partitions=2)
    try:
        rows = [(i, build_mp4(i)) for i in range(4)]
        rows.append((100, b"\x00\x00\x00\x08ftypcorrupt-rest"))
        df = s.createDataFrame(rows, "media_id long, payload binary")
        out = {r.media_id: r for r in extract_video_meta(df).collect()}
        for i in range(4):
            w, h = media_dims(i)
            assert (out[i].status, out[i].width, out[i].height) == ("ok", w * 16, h * 16)
        assert out[100].status == "failed"
    finally:
        s.stop()


def test_header_fields_outside_the_column_range_fail_one_row():
    """Unsigned 32/64-bit header fields that overflow their int columns
    degrade that one row to status='failed'; the task still succeeds."""
    from sparktika.kernels.video import build_avi
    from sparktika.pipeline.session import build_session
    from sparktika.pipeline.multimodal import (
        extract_audio_features, extract_container_meta, extract_video_meta)
    from sparktika.synth import build_mp4

    def box(t, b):
        return struct.pack(">I", 8 + len(b)) + t + b

    long_mp4 = box(b"ftyp", b"mp42\x00\x00\x00\x00") + box(b"moov", box(
        b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 16
        + struct.pack(">IQ", 1, 1 << 40) + b"\x00" * 80))
    s = build_session(master="local[1]", shuffle_partitions=1)
    try:
        def run(op, *payloads):
            df = s.createDataFrame(list(enumerate(payloads)),
                                   "media_id long, payload binary")
            return [(r.media_id, r.status, r.error) for r in
                    op(df).orderBy("media_id").collect()]

        for op, good, bad in [
            (extract_container_meta, build_avi(64, 48, 10, 25),
             build_avi(0xFFFFFFFF, 48, 10, 25)),
            (extract_audio_features, _wav(np.array([1, 2, 3]), bits=8),
             _wav(np.array([1, 2, 3]), rate=0xFFFFFFFF, bits=8)),
            (extract_video_meta, build_mp4(0), long_mp4),
        ]:
            (_, ok, _), (_, failed, err) = run(op, good, bad)
            assert (ok, failed) == ("ok", "failed"), op.__name__
            assert err.startswith("ValueError: ") and "32-bit" in err, err
    finally:
        s.stop()


def test_flac_streaminfo_metadata_route():
    from sparktika.kernels.extract import extract_document

    sr, ch, bps, total = 48000, 1, 24, 96000  # 2s mono 24-bit
    b = bytearray(34)
    b[10] = (sr >> 12) & 0xFF; b[11] = (sr >> 4) & 0xFF
    b[12] = ((sr & 0xF) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4)
    b[13] = (((bps - 1) & 0xF) << 4) | ((total >> 32) & 0x0F)
    b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    flac = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(b)
    r = extract_document("a.flac", None, flac)
    assert r.status == "ok"
    assert r.metadata["samplerate"] == ["48000"]
    assert r.metadata["channels"] == ["1"]
    assert r.metadata["bits"] == ["24"]
    assert r.metadata["duration-ms"] == ["2000"]
    # truncated/garbage stays unsupported, never fabricated metadata
    r2 = extract_document("b.flac", None, b"fLaC\x00\x00")
    assert r2.status == "unsupported"


def test_mp3_frame_header_metadata_route():
    from sparktika.kernels.extract import extract_document

    # ID3v2 (empty) + MPEG-1 Layer III, 128 kbps, 44100 Hz, stereo
    mp3 = (b"ID3" + bytes([4, 0, 0, 0, 0, 0, 0])
           + bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 32000)
    r = extract_document("a.mp3", None, mp3)
    assert r.status == "ok"
    assert r.metadata["samplerate"] == ["44100"]
    assert r.metadata["channels"] == ["2"]
    assert r.metadata["bitrate-kbps"] == ["128"]
    assert r.metadata["duration-ms"] == ["2000"]  # 32004 B @ 128 kbps
    r2 = extract_document("b.mp3", None, b"ID3" + bytes(100))
    assert r2.status == "unsupported"


def test_ogg_vorbis_and_opus_headers():
    from sparktika.kernels.extract import extract_document

    def ogg_page(packet: bytes) -> bytes:
        segs = []
        n = len(packet)
        while n >= 255:
            segs.append(255); n -= 255
        segs.append(n)
        return (b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
                + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
                + bytes([len(segs)]) + bytes(segs) + packet)

    vorbis = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
              + (44100).to_bytes(4, "little") + b"\x00" * 13)
    r = extract_document("a.ogg", None, ogg_page(vorbis))
    assert r.status == "ok"
    assert r.content_type_detected == "audio/vorbis"
    assert r.metadata["samplerate"] == ["44100"]
    assert r.metadata["channels"] == ["2"]

    opus = (b"OpusHead" + bytes([1, 1]) + (312).to_bytes(2, "little")
            + (48000).to_bytes(4, "little") + b"\x00" * 3)
    r = extract_document("a.opus", None, ogg_page(opus))
    assert r.status == "ok"
    assert r.content_type_detected == "audio/opus"
    assert r.metadata["samplerate"] == ["48000"]
    assert r.metadata["channels"] == ["1"]

    # unknown codec in Ogg framing: honest unsupported
    r = extract_document("a.ogg", None, ogg_page(b"\x80theora" + bytes(20)))
    assert r.status == "unsupported"


def test_id3_tags_versions_and_encodings():
    import struct

    from sparktika.kernels.audio import parse_id3_tags

    def tag(ver, frames):
        sz = len(frames)
        return (b"ID3" + bytes([ver, 0, 0])
                + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                         (sz >> 7) & 0x7F, sz & 0x7F]) + frames)

    # v2.4 syncsafe frame sizes, utf-8 encoding
    body = b"\x03" + "Tïtle ünïcode".encode("utf-8")
    f24 = (b"TIT2" + bytes([(len(body) >> 21) & 0x7F,
                            (len(body) >> 14) & 0x7F,
                            (len(body) >> 7) & 0x7F, len(body) & 0x7F])
           + b"\x00\x00" + body)
    assert parse_id3_tags(tag(4, f24))["title"] == "Tïtle ünïcode"
    # v2.2 three-byte ids/sizes
    b22 = b"\x00Old Title"
    f22 = b"TT2" + len(b22).to_bytes(3, "big") + b22
    assert parse_id3_tags(tag(2, f22))["title"] == "Old Title"
    # utf-16 with BOM (v2.3)
    b16 = b"\x01" + "utf16 name".encode("utf-16")
    f16 = b"TPE1" + struct.pack(">I", len(b16)) + b"\x00\x00" + b16
    assert parse_id3_tags(tag(3, f16))["xmpDM:artist"] == "utf16 name"
    # garbage: empty dict, no raise (r4 review: the old assert compared
    # two identical calls — a tautology)
    assert parse_id3_tags(
        b"ID3\x03\x00\x00\x7f\x7f\x7f\x7f" + b"\xff" * 64) == {}
    assert parse_id3_tags(b"not id3") == {}


def test_id3_lying_frame_size_never_slices_audio():
    """r4 review repro: a frame declaring a huge size must be clamped to
    the TAG end — the audio payload can never become a metadata value."""
    import struct

    from sparktika.kernels.audio import parse_id3_tags

    body = b"\x00Hi"
    frame = b"TIT2" + struct.pack(">I", 0x0FFFFFFF) + b"\x00\x00" + body
    sz = len(frame)
    tag = (b"ID3" + bytes([3, 0, 0])
           + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                    (sz >> 7) & 0x7F, sz & 0x7F]) + frame)
    audio = b"AUDIODATA-NOT-TEXT" * 64
    tags = parse_id3_tags(tag + audio)
    title = tags.get("title", "")
    assert "AUDIODATA" not in title
    assert len(title) <= 4096


def test_id3_unsync_and_flagged_frames():
    import struct

    from sparktika.kernels.audio import parse_id3_tags

    # v2.3 tag-level unsynchronisation: 0xFF 0x00 stuffing reversed
    raw_body = b"\x00Caf\xff\x00e title"   # stuffed form of b"Caf\xffe"
    frame = b"TIT2" + struct.pack(">I", len(raw_body)) + b"\x00\x00" + raw_body
    sz = len(frame)
    tag = (b"ID3" + bytes([3, 0, 0x80])
           + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                    (sz >> 7) & 0x7F, sz & 0x7F]) + frame)
    assert parse_id3_tags(tag)["title"] == "Caf\xffe title"
    # v2.3 compressed frame (format flag 0x80): skipped, not garbage
    cbody = b"\x00zlibgarbage"
    cframe = (b"TIT2" + struct.pack(">I", len(cbody)) + b"\x00\x80" + cbody)
    sz = len(cframe)
    tag2 = (b"ID3" + bytes([3, 0, 0])
            + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                     (sz >> 7) & 0x7F, sz & 0x7F]) + cframe)
    assert "title" not in parse_id3_tags(tag2)


def test_mp3_id3_dispatch_title():
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_mp3_id3

    r = extract_document("u/9.mp3", None, build_mp3_id3(9))
    assert r.status == "ok"
    assert r.title == "Track 9"
    assert r.metadata["xmpDM:artist"] == ["Artist 4"]
    assert r.metadata["xmpDM:album"] == ["Album 2"]
    assert r.metadata["samplerate"][0] != "0"


def test_flac_vorbis_comments():
    from sparktika.kernels.audio import parse_flac_comments
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_flac, build_flac_tags

    tags = parse_flac_comments(build_flac_tags(3))
    assert tags == {"title": "Flac 3", "xmpDM:artist": "Artist 3",
                    "xmpDM:album": "Album 3"}
    # STREAMINFO-only file: no tags, no raise
    assert parse_flac_comments(build_flac(3)) == {}
    # truncated comment block: whatever parsed, never a raise
    data = build_flac_tags(3)
    for cut in (10, 50, len(data) - 4):
        parse_flac_comments(data[:cut])
    r = extract_document("u/3.flac", None, build_flac_tags(3))
    assert r.title == "Flac 3" and r.status == "ok"


def test_ogg_comment_tags():
    from sparktika.kernels.audio import parse_ogg_comments
    from sparktika.synth import _ogg_page, build_ogg, build_ogg_tags

    assert parse_ogg_comments(build_ogg_tags(4)) == {
        "title": "Ogg 4", "xmpDM:artist": "Artist 4"}
    assert parse_ogg_comments(build_ogg_tags(7)) == {
        "title": "Ogg 7", "xmpDM:artist": "Artist 2"}
    # identification-only stream: no tags, no raise
    assert parse_ogg_comments(build_ogg(4)) == {}
    # packet spanning pages via 255-lacing continuation
    big_comment = (b"\x03vorbis" + (0).to_bytes(4, "little")
                   + (1).to_bytes(4, "little")
                   + (600).to_bytes(4, "little")
                   + b"TITLE=" + b"x" * 594)
    page1 = _ogg_page([b"\x01vorbis" + b"\x00" * 22], 0)
    # manual split: first 255*2 bytes with lacing [255,255] (no
    # terminator), remainder on the next page
    head = (b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
            + (1).to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + bytes([2, 255, 255]) + big_comment[:510])
    tail = _ogg_page([big_comment[510:]], 2)
    tags = parse_ogg_comments(page1 + head + tail)
    assert tags["title"] == "x" * 594
    # truncated mid-page: never raises
    for cut in (10, 40, 100):
        parse_ogg_comments(build_ogg_tags(4)[:cut])


def test_id3v24_tag_unsync_not_globally_destuffed():
    """r5 (r4 advice): v2.4 unsync is per-frame and syncsafe frame
    sizes count the STORED bytes — a global 0xFF00->0xFF removal would
    shift every later frame. A v2.4 tag with the tag unsync flag set
    and an 0xFF,0x00 sequence inside frame 1 must still parse frame 2."""
    from sparktika.kernels.audio import parse_id3_tags

    def ss(n, w=4):
        return bytes((n >> (7 * i)) & 0x7F for i in reversed(range(w)))

    b1 = b"\x00A\xff\x00B"                      # contains the stuffing pair
    f1 = b"TIT2" + ss(len(b1)) + b"\x00\x00" + b1
    b2 = b"\x00Album Two"
    f2 = b"TALB" + ss(len(b2)) + b"\x00\x00" + b2
    frames = f1 + f2
    tag = b"ID3" + bytes([4, 0, 0x80]) + ss(len(frames)) + frames
    out = parse_id3_tags(tag)
    assert out.get("xmpDM:album") == "Album Two"


def test_id3v24_extended_header_syncsafe_size():
    """r5 (r4 advice): the v2.4 extended-header size is syncsafe and
    includes its own 4 size bytes; reading it big-endian overshoots for
    sizes >= 128 and the first frame is skipped."""
    from sparktika.kernels.audio import parse_id3_tags

    def ss(n, w=4):
        return bytes((n >> (7 * i)) & 0x7F for i in reversed(range(w)))

    ext_total = 134                              # syncsafe 134 = BE 262
    ext = ss(ext_total) + b"\x01\x00" + b"\x00" * (ext_total - 6)
    body = b"\x03" + "After Ext".encode()
    frame = b"TIT2" + ss(len(body)) + b"\x00\x00" + body
    payload = ext + frame
    tag = b"ID3" + bytes([4, 0, 0x40]) + ss(len(payload)) + payload
    assert parse_id3_tags(tag)["title"] == "After Ext"
