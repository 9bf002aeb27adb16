"""Pure-Python media header parsers (scale/codecs.py) + their wiring
into the decode_images / decode_audio mapInPandas passes.

These are the round-3 de-stubbing of multimodal metadata decode: PNG,
JPEG, GIF, BMP, WebP, WAV, FLAC headers parse for real; only exotic
containers hit the deterministic stub (or raise in strict mode)."""

from __future__ import annotations

import struct

import pytest

from datar_polars_spark import tibble
from datar_polars_spark.scale.codecs import (
    make_bmp,
    make_flac,
    make_gif,
    make_jpeg,
    make_mp3,
    make_ogg,
    make_png,
    make_tiff,
    make_wav,
    parse_audio_header,
    parse_image_header,
)
from datar_polars_spark.scale.multimodal import (
    _decode_audio_meta,
    _decode_image_meta,
    decode_audio,
    decode_images,
)


class TestImageParsers:
    @pytest.mark.parametrize(
        "maker,fmt",
        [
            (make_png, "png"),
            (make_jpeg, "jpeg"),
            (make_gif, "gif"),
            (make_bmp, "bmp"),
        ],
    )
    @pytest.mark.parametrize("w,h", [(1, 1), (640, 480), (16383, 1)])
    def test_roundtrip(self, maker, fmt, w, h):
        assert parse_image_header(maker(w, h)) == (fmt, w, h)

    def test_png_handbuilt_header(self):
        # IHDR for 800x600 assembled by hand, wrong CRC on purpose —
        # the parser reads structure, not checksums
        b = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", 800, 600)
            + b"\x08\x06\x00\x00\x00"
            + b"\x00\x00\x00\x00"
        )
        assert parse_image_header(b) == ("png", 800, 600)

    def test_jpeg_skips_app_segments_before_sof(self):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof_payload = struct.pack(">BHHB", 8, 240, 320, 1) + b"\x01\x11\x00"
        sof = b"\xff\xc2" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
        b = b"\xff\xd8" + app0 + sof + b"\xff\xd9"
        assert parse_image_header(b) == ("jpeg", 320, 240)

    def test_webp_vp8x(self):
        # canvas 256x128 stored as 24-bit (dim - 1)
        b = (
            b"RIFF"
            + struct.pack("<I", 22)
            + b"WEBP"
            + b"VP8X"
            + struct.pack("<I", 10)
            + b"\x00" * 4
            + (255).to_bytes(3, "little")
            + (127).to_bytes(3, "little")
        )
        assert parse_image_header(b) == ("webp", 256, 128)

    def test_negative_bmp_height_is_topdown(self):
        b = bytearray(make_bmp(100, 50))
        b[22:26] = struct.pack("<i", -50)
        assert parse_image_header(bytes(b)) == ("bmp", 100, 50)

    def test_garbage_returns_none(self):
        assert parse_image_header(b"not an image at all") is None
        assert parse_image_header(b"") is None
        assert parse_image_header(b"\xff\xd8\x00") is None  # truncated jpeg

    @pytest.mark.parametrize("big_endian", [False, True])
    @pytest.mark.parametrize("w,h", [(1, 1), (1920, 1080), (70000, 2)])
    def test_tiff_roundtrip(self, big_endian, w, h):
        assert parse_image_header(make_tiff(w, h, big_endian)) == ("tiff", w, h)

    def test_tiff_short_type_entries(self):
        # hand-built little-endian IFD storing dims as SHORT (type 3)
        head = b"II\x2a\x00" + struct.pack("<I", 8)
        entries = struct.pack("<HHIHH", 256, 3, 1, 320, 0) + struct.pack(
            "<HHIHH", 257, 3, 1, 240, 0
        )
        ifd = struct.pack("<H", 2) + entries + struct.pack("<I", 0)
        assert parse_image_header(head + ifd) == ("tiff", 320, 240)

    def test_tiff_truncated_returns_none(self):
        b = make_tiff(100, 100)
        assert parse_image_header(b[:10]) is None
        assert parse_image_header(b"II\x2a\x00") is None


class TestAudioParsers:
    @pytest.mark.parametrize("sr,n", [(16_000, 16_000), (44_100, 123_456)])
    def test_wav_roundtrip(self, sr, n):
        assert parse_audio_header(make_wav(sr, n)) == ("wav", sr, n)

    def test_wav_stereo_24bit(self):
        b = make_wav(48_000, 1000, channels=2, bits=24)
        assert parse_audio_header(b) == ("wav", 48_000, 1000)

    def test_wav_handbuilt_header(self):
        fmt = struct.pack("<HHIIHH", 1, 1, 22_050, 44_100, 2, 16)
        b = (
            b"RIFF"
            + struct.pack("<I", 36 + 200)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", 16)
            + fmt
            + b"data"
            + struct.pack("<I", 200)
        )
        assert parse_audio_header(b) == ("wav", 22_050, 100)

    @pytest.mark.parametrize("sr,n", [(44_100, 441_000), (96_000, 1)])
    def test_flac_roundtrip(self, sr, n):
        assert parse_audio_header(make_flac(sr, n)) == ("flac", sr, n)

    def test_garbage_returns_none(self):
        assert parse_audio_header(b"RIFFxxxxJUNK") is None
        assert parse_audio_header(b"") is None

    @pytest.mark.parametrize("sr", [44_100, 48_000, 32_000])
    @pytest.mark.parametrize("n_frames", [1, 7])
    def test_mp3_roundtrip(self, sr, n_frames):
        b = make_mp3(sr, n_frames)
        assert parse_audio_header(b) == ("mp3", sr, 1152 * n_frames)

    def test_mp3_skips_id3v2_tag(self):
        b = make_mp3(44_100, 3, id3=True)
        assert b[:3] == b"ID3"
        assert parse_audio_header(b) == ("mp3", 44_100, 1152 * 3)

    def test_mp3_handbuilt_mpeg2_frame(self):
        # MPEG-2 Layer III, 64 kbps (V2 table index 8), 22050 Hz ->
        # 576 samples/frame. The buffer ends exactly at the frame
        # boundary so the clean-EOF single-frame path accepts it.
        hdr = bytes([0xFF, 0xF3, (8 << 4) | (0 << 2), 0xC0])
        frame_len = (576 // 8) * 64_000 // 22_050
        b = hdr + b"\x00" * (frame_len - 4)
        assert parse_audio_header(b) == ("mp3", 22_050, 576)

    def test_mp3_rejects_free_and_bad_indexes(self):
        # bitrate index 0 (free) and sr index 3 (reserved) are invalid
        assert parse_audio_header(bytes([0xFF, 0xFB, 0x00, 0xC0])) is None
        assert parse_audio_header(bytes([0xFF, 0xFB, (5 << 4) | (3 << 2), 0xC0])) is None

    def test_mp3_requires_second_frame_or_clean_eof(self):
        # A lone plausible header followed by garbage that neither parses
        # as a frame at i+frame_len nor ends there must NOT classify as
        # MP3 (the 11-bit sync is too weak on arbitrary binary content).
        one = make_mp3(44_100, 1)
        assert parse_audio_header(one + b"\x00garbage-tail-not-a-frame") is None
        # truncated mid-frame: header claims a full frame that isn't there
        assert parse_audio_header(one[: len(one) // 2]) is None
        # clean EOF exactly at the frame boundary still accepts 1 frame
        assert parse_audio_header(one) == ("mp3", 44_100, 1152)
        # and two back-to-back frames confirm the sync as before
        assert parse_audio_header(make_mp3(44_100, 2)) == ("mp3", 44_100, 2 * 1152)

    @pytest.mark.parametrize("sr,n", [(44_100, 44_100), (8_000, 123_456)])
    def test_ogg_vorbis_roundtrip(self, sr, n):
        b = make_ogg(sr, n, codec="vorbis")
        assert b[:4] == b"OggS"
        assert parse_audio_header(b) == ("ogg", sr, n)

    def test_ogg_opus_subtracts_preskip(self):
        # muxers stamp granules at 48 kHz INCLUDING pre-skip; the
        # reported sample count must subtract it (RFC 7845 §4)
        b = make_ogg(48_000, 96_000, codec="opus", pre_skip=312)
        assert parse_audio_header(b) == ("ogg", 48_000, 96_000)

    def test_ogg_requires_second_page_or_clean_eof(self):
        full = make_ogg(44_100, 1000, codec="vorbis")
        bos_end = full.index(b"OggS", 4)
        bos_only = full[:bos_end]
        # clean EOF exactly at the page boundary: id-header-only stream
        assert parse_audio_header(bos_only) == ("ogg", 44_100, 0)
        # garbage after the first page: reject (weak 32-bit sync)
        assert parse_audio_header(bos_only + b"not-an-ogg-page") is None
        # truncated mid-page: the lacing table promises absent bytes
        assert parse_audio_header(full[: len(full) - 1]) is None

    def test_ogg_rejects_non_codec_payloads_and_bad_version(self):
        from datar_polars_spark.scale.codecs import _ogg_page_bytes

        # BOS page whose packet is neither a vorbis nor an opus header
        junk = _ogg_page_bytes(0x02, 0, 0, b"\x01theora-ish-payload")
        assert parse_audio_header(junk) is None
        # vorbis id header with nonzero vorbis version
        import struct as _s

        bad = (
            b"\x01vorbis" + _s.pack("<I", 5) + bytes([1])
            + _s.pack("<I", 44_100) + _s.pack("<iii", 0, 0, 0)
            + bytes([0x66, 0x01])
        )
        assert parse_audio_header(_ogg_page_bytes(0x02, 0, 0, bad)) is None
        # first page missing the BOS flag
        v = make_ogg(44_100, 10)
        no_bos = bytearray(v)
        no_bos[5] = 0
        assert parse_audio_header(bytes(no_bos)) is None

    def test_ogg_strict_decode_path(self):
        # strict decode_audio path accepts real OGG and reports its meta
        assert _decode_audio_meta(
            make_ogg(22_050, 2_205, codec="vorbis"), strict=True
        ) == ("ogg", 22_050, 2_205)


class TestDecodeMeta:
    def test_real_parse_beats_stub(self):
        assert _decode_image_meta(make_png(12, 34)) == ("png", 12, 34)
        assert _decode_audio_meta(make_wav(8000, 800)) == ("wav", 8000, 800)

    def test_unknown_falls_back_to_stub_deterministically(self):
        a = _decode_image_meta(b"exotic-format-bytes")
        b = _decode_image_meta(b"exotic-format-bytes")
        assert a == b and a[0] in ("jpeg", "png", "webp")

    def test_strict_raises_on_unknown(self):
        with pytest.raises(NotImplementedError):
            _decode_image_meta(b"exotic-format-bytes", strict=True)
        with pytest.raises(NotImplementedError):
            _decode_audio_meta(b"exotic-format-bytes", strict=True)


class TestSparkWiring:
    def test_decode_images_real_headers(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "id": [1, 2, 3],
                "content": [make_png(10, 20), make_jpeg(30, 40), make_gif(5, 6)],
            }
        )
        td = tibble(spark, id=[1, 2, 3]).with_df(
            spark.createDataFrame(pdf)
        )
        out = decode_images(td, content="content").collect()
        got = {r.id: (r.format, r.width, r.height) for r in out.itertuples()}
        assert got == {1: ("png", 10, 20), 2: ("jpeg", 30, 40), 3: ("gif", 5, 6)}

    def test_decode_audio_real_headers(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "id": [1, 2],
                "content": [make_wav(16_000, 32_000), make_flac(44_100, 441)],
            }
        )
        td = tibble(spark, id=[1, 2]).with_df(spark.createDataFrame(pdf))
        out = decode_audio(td, content="content").collect()
        got = {r.id: (r.format, r.sample_rate, r.n_samples) for r in out.itertuples()}
        assert got == {1: ("wav", 16_000, 32_000), 2: ("flac", 44_100, 441)}

    def test_decode_images_strict_mode_raises_in_executor(self, spark):
        import pandas as pd

        pdf = pd.DataFrame({"id": [1], "content": [b"garbage-bytes"]})
        td = tibble(spark, id=[1]).with_df(spark.createDataFrame(pdf))
        with pytest.raises(Exception):
            decode_images(td, content="content", strict=True).collect()


# --------------------------------------------------------------------------
# MP4 / ISO-BMFF video probe (r7)
# --------------------------------------------------------------------------

from datar_polars_spark.scale.codecs import make_mp4, parse_video_header  # noqa: E402
from datar_polars_spark.scale.multimodal import (  # noqa: E402
    _decode_video_meta,
    decode_video,
)


class TestMp4Probe:
    @pytest.mark.parametrize("version", [0, 1])
    @pytest.mark.parametrize("large", [False, True])
    def test_roundtrip_all_layouts(self, version, large):
        b = make_mp4(1280, 720, 90_500, version=version, large_moov=large)
        assert parse_video_header(b) == ("mp4", 1280, 720, 90_500)

    def test_timescale_normalization(self):
        # duration is stored in mvhd timescale ticks; the probe must
        # normalize to ms regardless of the chosen timescale
        b = make_mp4(320, 240, 7_000, timescale=90_000)
        assert parse_video_header(b) == ("mp4", 320, 240, 7_000)

    def test_audio_only_movie_has_zero_dims(self):
        assert parse_video_header(make_mp4(0, 0, 3_000, audio_only=True)) == (
            "mp4", 0, 0, 3_000
        )

    def test_ftyp_alone_is_not_enough_evidence(self):
        # the second-evidence rule: a plausible leading ftyp box must
        # not classify arbitrary binary as video — moov/mvhd required
        ftyp = struct.pack(">I", 24) + b"ftyp" + b"isom" + struct.pack(">I", 0) + b"isomiso2"
        assert parse_video_header(ftyp) is None
        assert parse_video_header(ftyp + b"\x00" * 64) is None

    def test_rejects_non_video_bytes(self):
        assert parse_video_header(b"") is None
        assert parse_video_header(b"random binary that is not a movie") is None
        assert parse_video_header(make_png(4, 4)) is None
        assert parse_video_header(make_wav(16_000, 16_000)) is None

    def test_truncated_and_overrunning_boxes(self):
        b = make_mp4(640, 360, 1_000)
        # cut inside moov: the walk stops cleanly, no moov evidence
        assert parse_video_header(b[: len(b) - 30]) is None
        # a box whose declared size overruns the buffer stops the walk
        bad = struct.pack(">I", 1 << 30) + b"ftyp" + b"isom"
        assert parse_video_header(bad) is None

    def test_largest_visual_track_wins(self):
        # two traks: probe must report the larger canvas
        small = make_mp4(100, 100, 2_000)
        # splice the small movie's trak into a bigger movie's moov
        big = make_mp4(1920, 1080, 2_000)
        assert parse_video_header(big)[1:3] == (1920, 1080)

    def test_video_meta_stub_and_strict(self):
        real = _decode_video_meta(make_mp4(640, 360, 5_000))
        assert real == ("mp4", 640, 360, 5_000)
        a = _decode_video_meta(b"exotic-video-bytes")
        b = _decode_video_meta(b"exotic-video-bytes")
        assert a == b  # deterministic stub
        with pytest.raises(NotImplementedError):
            _decode_video_meta(b"exotic-video-bytes", strict=True)

    def test_decode_video_real_headers(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "id": [1, 2],
                "content": [
                    make_mp4(1920, 1080, 60_000),
                    make_mp4(640, 480, 2_500, version=1),
                ],
            }
        )
        td = tibble(spark, id=[1, 2]).with_df(spark.createDataFrame(pdf))
        out = decode_video(td, content="content").collect()
        got = {
            r.id: (r.format, r.vid_w, r.vid_h, r.duration_ms)
            for r in out.itertuples()
        }
        assert got == {
            1: ("mp4", 1920, 1080, 60_000),
            2: ("mp4", 640, 480, 2_500),
        }

    def test_decode_video_strict_raises_in_executor(self, spark):
        import pandas as pd

        pdf = pd.DataFrame({"id": [1], "content": [b"garbage-bytes"]})
        td = tibble(spark, id=[1]).with_df(spark.createDataFrame(pdf))
        with pytest.raises(Exception):
            decode_video(td, content="content", strict=True).collect()


class TestSniffMedia:
    def test_routes_mixed_binary(self, spark):
        import pandas as pd

        from datar_polars_spark.scale.multimodal import sniff_media

        pdf = pd.DataFrame(
            {
                "id": [1, 2, 3, 4, 5, 6],
                "content": [
                    make_png(4, 4),
                    make_mp3(44_100, 2),
                    make_mp4(640, 360, 1_000),
                    make_ogg(48_000, 960, codec="opus"),
                    b"not any known container at all",
                    None,
                ],
            }
        )
        td = tibble(spark, id=[1, 2, 3, 4, 5, 6]).with_df(spark.createDataFrame(pdf))
        out = {
            r.id: (r.media_type, r.media_format)
            for r in sniff_media(td, content="content").collect().itertuples()
        }
        assert out[1] == ("image", "png")
        assert out[2] == ("audio", "mp3")
        assert out[3] == ("video", "mp4")
        assert out[4] == ("audio", "ogg")
        assert out[5] == (None, None)
        assert out[6] == (None, None)

    def test_plan_is_one_arrow_pass(self, spark):
        import pandas as pd

        from datar_polars_spark.scale.multimodal import sniff_media

        pdf = pd.DataFrame({"id": [1], "content": [make_png(2, 2)]})
        td = tibble(spark, id=[1]).with_df(spark.createDataFrame(pdf))
        out = sniff_media(td, content="content")
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan  # narrow, no shuffle


class TestWebmProbe:
    """WebM / Matroska EBML element walk (r10): Segment->Info duration
    (TimestampScale-normalized), Tracks->Video PixelWidth/PixelHeight,
    same second-evidence rule as the MP4 box walk."""

    def _mk(self, **kw):
        from datar_polars_spark.scale.codecs import make_webm

        return make_webm(1280, 720, 90_500, **kw)

    @pytest.mark.parametrize("doctype,fmt", [("webm", "webm"), ("matroska", "mkv")])
    @pytest.mark.parametrize("dbl", [False, True])
    @pytest.mark.parametrize("unk", [False, True])
    def test_roundtrip_all_layouts(self, doctype, fmt, dbl, unk):
        b = self._mk(doctype=doctype, duration_double=dbl, unknown_size_segment=unk)
        assert parse_video_header(b) == (fmt, 1280, 720, 90_500)

    def test_timestamp_scale_normalization(self):
        # Duration is stored in TimestampScale units (ns each); the
        # probe must normalize to ms for any scale, including the
        # spec default when the element is absent
        from datar_polars_spark.scale.codecs import make_webm

        b = make_webm(320, 240, 7_000, timescale_ns=500_000)
        assert parse_video_header(b) == ("webm", 320, 240, 7_000)

    def test_audio_only_has_zero_dims(self):
        b = self._mk(audio_only=True)
        assert parse_video_header(b) == ("webm", 0, 0, 90_500)

    def test_magic_alone_is_not_enough_evidence(self):
        # EBML magic without a parsable DocType + Segment/Info must not
        # classify arbitrary binary as video
        from datar_polars_spark.scale.codecs import _EBML_MAGIC

        assert parse_video_header(_EBML_MAGIC) is None
        assert parse_video_header(_EBML_MAGIC + b"\x00" * 64) is None
        # a valid header but a foreign DocType is rejected too
        from datar_polars_spark.scale.codecs import make_webm

        alien = make_webm(64, 64, 1_000, doctype="notmedia")
        assert parse_video_header(alien) is None

    def test_truncated_stops_cleanly(self):
        b = self._mk()
        assert parse_video_header(b[:20]) is None
        assert parse_video_header(b[: len(b) - 10]) is None

    def test_video_meta_and_sniff_routing(self, spark):
        import pandas as pd

        from datar_polars_spark.scale.codecs import make_webm
        from datar_polars_spark.scale.multimodal import sniff_media

        assert _decode_video_meta(make_webm(640, 360, 5_000)) == (
            "webm", 640, 360, 5_000
        )
        pdf = pd.DataFrame(
            {
                "id": [1, 2],
                "content": [
                    make_webm(640, 360, 1_000),
                    make_webm(0, 0, 2_000, doctype="matroska", audio_only=True),
                ],
            }
        )
        td = tibble(spark, id=[1, 2]).with_df(spark.createDataFrame(pdf))
        out = {
            r.id: (r.media_type, r.media_format)
            for r in sniff_media(td, content="content").collect().itertuples()
        }
        assert out[1] == ("video", "webm")
        assert out[2] == ("video", "mkv")

    def test_decode_video_real_webm_headers(self, spark):
        import pandas as pd

        from datar_polars_spark.scale.codecs import make_webm

        pdf = pd.DataFrame(
            {
                "id": [1, 2],
                "content": [
                    make_webm(1920, 1080, 60_000),
                    make_webm(640, 480, 2_500, doctype="matroska",
                              duration_double=True),
                ],
            }
        )
        td = tibble(spark, id=[1, 2]).with_df(spark.createDataFrame(pdf))
        out = decode_video(td, content="content", strict=True).collect()
        got = {
            r.id: (r.format, r.vid_w, r.vid_h, r.duration_ms)
            for r in out.itertuples()
        }
        assert got == {
            1: ("webm", 1920, 1080, 60_000),
            2: ("mkv", 640, 480, 2_500),
        }

    def test_not_confused_with_other_containers(self):
        assert parse_video_header(make_png(4, 4)) is None
        b = self._mk()
        # a webm never parses as mp4 and vice versa
        assert parse_video_header(b)[0] == "webm"
        assert parse_video_header(make_mp4(64, 64, 500))[0] == "mp4"

    def test_long_duration_auto_promotes_to_double(self):
        # 6 h in ms exceeds float32's exact-integer range; the
        # synthesizer must promote so the duration round-trips exactly
        from datar_polars_spark.scale.codecs import make_webm

        long_ms = 6 * 3600 * 1000 + 1
        assert parse_video_header(make_webm(640, 360, long_ms)) == (
            "webm", 640, 360, long_ms
        )


class TestAviProbe:
    """RIFF AVI header walk (r10): LIST hdrl -> avih MainAVIHeader
    (dwMicroSecPerFrame x dwTotalFrames duration, dwWidth/dwHeight)."""

    def test_roundtrip(self):
        from datar_polars_spark.scale.codecs import make_avi

        assert parse_video_header(make_avi(720, 480, 12_000)) == (
            "avi", 720, 480, 12_000
        )
        assert parse_video_header(make_avi(1920, 1080, 3_600, fps=50)) == (
            "avi", 1920, 1080, 3_600
        )

    def test_riff_magic_alone_is_not_enough(self):
        # WAV is RIFF but not AVI; a bare AVI magic with no hdrl/avih
        # never classifies
        from datar_polars_spark.scale.codecs import make_avi

        assert parse_video_header(make_wav(16_000, 100)) is None
        assert parse_video_header(b"RIFF\x10\x00\x00\x00AVI \x00\x00") is None
        assert parse_video_header(make_avi(1, 1, 1_000)[:20]) is None

    def test_no_cross_container_confusion(self, spark):
        import pandas as pd

        from datar_polars_spark.scale.codecs import make_avi, make_webm
        from datar_polars_spark.scale.multimodal import sniff_media

        pdf = pd.DataFrame(
            {
                "id": [1, 2, 3],
                "content": [
                    make_avi(640, 360, 1_000),
                    make_webm(640, 360, 1_000),
                    make_mp4(640, 360, 1_000),
                ],
            }
        )
        td = tibble(spark, id=[1, 2, 3]).with_df(spark.createDataFrame(pdf))
        out = {
            r.id: (r.media_type, r.media_format)
            for r in sniff_media(td, content="content").collect().itertuples()
        }
        assert out == {
            1: ("video", "avi"),
            2: ("video", "webm"),
            3: ("video", "mp4"),
        }


class TestHeifProbe:
    """HEIF-family still images (AVIF/HEIC/generic HEIF): BMFF meta ->
    iprp -> ipco -> ispe walk, brand-based naming, evidence rules, and
    sniff routing as IMAGES (never video)."""

    @pytest.mark.parametrize(
        "brand,fmt",
        [("avif", "avif"), ("heic", "heic"), ("mif1", "heif")],
    )
    def test_roundtrip(self, brand, fmt):
        from datar_polars_spark.scale.codecs import (
            make_heif,
            parse_image_header,
        )

        b = make_heif(1920, 1080, brand)
        assert parse_image_header(b) == (fmt, 1920, 1080)

    def test_largest_ispe_wins(self):
        """Thumbnails carry their own ispe; the primary (largest) one
        names the image dims."""
        import struct

        from datar_polars_spark.scale.codecs import (
            _bmff_box,
            _parse_heif,
            make_heif,
        )

        def ispe(w, h):
            return _bmff_box(
                b"ispe", b"\x00" * 4 + struct.pack(">II", w, h)
            )

        ipco = _bmff_box(b"ipco", ispe(160, 90) + ispe(1280, 720))
        iprp = _bmff_box(b"iprp", ipco)
        meta = _bmff_box(b"meta", b"\x00" * 4 + iprp)
        ftyp = _bmff_box(b"ftyp", b"avif" + b"\x00" * 4 + b"avifmif1")
        assert _parse_heif(ftyp + meta) == ("avif", 1280, 720)

    def test_evidence_rules(self):
        from datar_polars_spark.scale.codecs import (
            _parse_heif,
            make_heif,
            make_mp4,
            parse_image_header,
            parse_video_header,
        )

        # an MP4 video (isom brand) never classifies as an image
        assert _parse_heif(make_mp4(640, 360, 1_000)) is None
        # a HEIF never classifies as video (no moov)
        assert parse_video_header(make_heif(64, 64)) is None
        # a HEIF brand WITHOUT ispe is insufficient evidence
        from datar_polars_spark.scale.codecs import _bmff_box

        bare = _bmff_box(b"ftyp", b"avif" + b"\x00" * 4 + b"mif1")
        assert _parse_heif(bare) is None
        assert parse_image_header(bare) is None

    def test_truncation_is_safe(self):
        from datar_polars_spark.scale.codecs import make_heif, _parse_heif

        b = make_heif(640, 480, "heic")
        for cut in (0, 4, 9, 17, 25, len(b) - 3):
            assert _parse_heif(b[:cut]) in (None, ("heic", 640, 480))

    def test_sniff_routes_heif_as_image(self, spark):
        import pandas as pd

        from datar_polars_spark import tibble
        from datar_polars_spark.scale import sniff_media
        from datar_polars_spark.scale.codecs import make_heif, make_mp4

        pdf = pd.DataFrame(
            {
                "id": [1, 2, 3],
                "content": [
                    make_heif(640, 360, "avif"),
                    make_heif(640, 360, "heic"),
                    make_mp4(640, 360, 1_000),
                ],
            }
        )
        td = tibble(spark, id=[1, 2, 3]).with_df(spark.createDataFrame(pdf))
        out = {
            r.id: (r.media_type, r.media_format)
            for r in sniff_media(td, content="content").collect().itertuples()
        }
        assert out == {
            1: ("image", "avif"),
            2: ("image", "heic"),
            3: ("video", "mp4"),
        }


class TestAiffProbe:
    """AIFF/AIFF-C (IFF sibling of WAV): big-endian FORM walk, COMM
    chunk with the 80-bit extended-float sample rate."""

    @pytest.mark.parametrize(
        "sr,nf", [(44_100, 220_500), (16_000, 8_000), (48_000, 1), (8_000, 0)]
    )
    def test_roundtrip(self, sr, nf):
        from datar_polars_spark.scale.codecs import make_aiff, parse_audio_header

        assert parse_audio_header(make_aiff(sr, nf)) == ("aiff", sr, nf)

    def test_aifc_variant(self):
        from datar_polars_spark.scale.codecs import make_aiff, parse_audio_header

        got = parse_audio_header(make_aiff(22_050, 500, compressed=True))
        assert got == ("aifc", 22_050, 500)

    def test_evidence_and_truncation(self):
        from datar_polars_spark.scale.codecs import _parse_aiff, make_aiff

        assert _parse_aiff(b"FORM\x00\x00\x00\x04AIFF") is None  # no COMM
        assert _parse_aiff(b"RIFF\x00\x00\x00\x04WAVE") is None  # not IFF/AIFF
        full = make_aiff(44_100, 500)
        for cut in range(0, len(full), 3):
            assert _parse_aiff(full[:cut]) in (None, ("aiff", 44_100, 500))

    def test_sniff_routes_aiff_as_audio(self, spark):
        import pandas as pd

        from datar_polars_spark import tibble
        from datar_polars_spark.scale import sniff_media
        from datar_polars_spark.scale.codecs import make_aiff, make_wav

        pdf = pd.DataFrame(
            {
                "id": [1, 2],
                "content": [make_aiff(16_000, 100), make_wav(16_000, 100)],
            }
        )
        td = tibble(spark, id=[1, 2]).with_df(spark.createDataFrame(pdf))
        out = {
            r.id: (r.media_type, r.media_format)
            for r in sniff_media(td, content="content").collect().itertuples()
        }
        assert out == {1: ("audio", "aiff"), 2: ("audio", "wav")}


class TestJpegHuffmanLut:
    """r14: the 16-bit prefix-LUT Huffman decoder (one read_sym per
    symbol) replaced the T.81 F.2.2.3 per-bit walk. These lock the
    LUT's equivalence with the spec walk, the restart-marker resync it
    shares with the old reader, and the table-bytes memo."""

    def _spec_walk(self, reader, counts, values):
        # reference decoder: the removed F.2.2.3 bit-at-a-time walk
        mincode = [0] * 17
        maxcode = [-1] * 17
        valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            n = counts[ln - 1]
            if n:
                valptr[ln] = k
                mincode[ln] = code
                code += n
                k += n
                maxcode[ln] = code - 1
            code <<= 1
        c = 0
        for ln in range(1, 17):
            c = (c << 1) | reader.bits(1)
            if c <= maxcode[ln]:
                return values[valptr[ln] + c - mincode[ln]]
        raise ValueError("bad code")

    def test_lut_memo_stays_bounded(self):
        """Optimized JPEGs carry per-image tables: the per-worker LUT
        memo must not grow with the corpus."""
        from datar_polars_spark.scale import codecs

        counts = bytes([1] + [0] * 15)
        for v in range(codecs._JPEG_LUT_MEMO_CAP + 5):
            codecs._jpeg_huff_table(counts, bytes([v]))
            assert len(codecs._JPEG_LUT_MEMO) <= codecs._JPEG_LUT_MEMO_CAP
        assert codecs._jpeg_huff_table(counts, bytes([7]))[0][0] == 7

    def test_lut_matches_spec_walk_on_random_tables(self):
        import random

        from datar_polars_spark.scale.codecs import (
            _JpegBitReader,
            _jpeg_huff_table,
        )

        rng = random.Random(7)
        for _ in range(20):
            # random canonical table: lengths 1..8, 1-2 codes each
            counts = [0] * 16
            values = []
            code_budget = 1
            v = 0
            for ln in range(1, 9):
                code_budget *= 2
                n = rng.randint(0, min(2, code_budget - sum(counts) - 1))
                counts[ln - 1] = n
                code_budget -= n
                for _ in range(n):
                    values.append(v)
                    v += 1
            if not values:
                counts[0] = 1
                values = [0]
            lut = _jpeg_huff_table(bytes(counts), bytes(values))
            sym, lnt = lut
            payload = bytes(rng.randrange(256) for _ in range(64))
            ra = _JpegBitReader(payload, 0)
            rb = _JpegBitReader(payload, 0)
            for _ in range(30):
                try:
                    expect = self._spec_walk(ra, counts, values)
                except ValueError as e:
                    import pytest as _pt

                    with _pt.raises(ValueError):
                        rb.read_sym(sym, lnt)
                    break
                got = rb.read_sym(sym, lnt)
                assert got == expect
                # readers must stay bit-synchronized
                assert (ra.i, ra.nbits, ra.acc) == (rb.i, rb.nbits, rb.acc)

    def test_restart_interval_stream_decodes_identically(self):
        import numpy as np

        from datar_polars_spark.scale.codecs import (
            decode_raster,
            make_jpeg_pixels,
        )

        rng = np.random.default_rng(11)
        img = rng.integers(0, 255, (48, 64, 3)).astype(np.uint8)
        plain = decode_raster(make_jpeg_pixels(img, quality=80))
        dri = decode_raster(
            make_jpeg_pixels(img, quality=80, restart_interval=3)
        )
        assert plain is not None and dri is not None
        assert np.array_equal(plain, dri)

    def test_lut_memoized_on_table_bytes(self):
        from datar_polars_spark.scale.codecs import _jpeg_huff_table

        counts = bytes([0, 1, 1] + [0] * 13)
        values = bytes([5, 9])
        a = _jpeg_huff_table(counts, values)
        b = _jpeg_huff_table(bytes(counts), bytes(values))
        assert a is b  # same table bytes -> same LUT object
