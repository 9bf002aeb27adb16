"""Multimodal column support: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side plumbing is real and tested: schema conventions,
Arrow-batched ``mapInPandas`` pipelines, partition sizing. The actual
codec work (image decode, resampling) is STUBBED behind deterministic
fakes — the decode libraries (PIL/cv2/torchaudio) are not in this
container — with the UDF signatures, batch shapes, and schemas exactly
as the real implementations would use. Swap `_STUB_*` for the real
codecs and nothing else changes.
"""

from __future__ import annotations

import hashlib
from functools import partial
from typing import Any, Iterator

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.expr import Ref
from ..plans.verb import verb
from ..tibble import Tibble

__all__ = [
    "IMAGE_SCHEMA",
    "AUDIO_SCHEMA",
    "decode_audio",
    "audio_features",
    "audio_fingerprint",
    "audio_stats",
    "audio_near_dup_pairs",
    "audio_dedup",
    "attach_binary_metadata",
    "decode_images",
    "image_dhash",
    "image_features",
    "image_near_dup_pairs",
    "image_dedup",
    "resize_images",
    "sample_frames",
    "decode_video",
    "video_fingerprint",
    "video_near_dup_pairs",
    "video_dedup",
    "sniff_media",
]

# canonical multimodal column convention: content + typed metadata struct
IMAGE_SCHEMA = StructType(
    [
        StructField("content", BinaryType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


@verb
def attach_binary_metadata(td: Tibble, content: Any = "content") -> Tibble:
    """Wrap a raw binary column into the typed multimodal struct
    (metadata fields null until a decode pass fills them)."""
    cname = content._name if isinstance(content, Ref) else str(content)
    out = td.df.withColumn(
        "media",
        F.struct(
            F.col(cname).alias("content"),
            F.lit(None).cast("string").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(F.col(cname)).cast("long").alias("n_bytes"),
        ),
    )
    return Tibble(out, groups=td.group_vars, levels=td.levels)


def _stub_decode(content: bytes) -> tuple[str, int, int]:
    """STUB for unrecognized containers only: deterministic fake keyed
    off a content hash so tests are stable. Recognized formats take the
    real header-parse path in ``_decode_image_meta``."""
    if content is None:
        raise NotImplementedError(
            "real image decode requires PIL/cv2 (not in this container)"
        )
    h = hashlib.sha256(content).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    fmt = ["jpeg", "png", "webp"][h[2] % 3]
    return fmt, width, height


def _decode_image_meta(content: bytes, strict: bool = False) -> tuple[str, int, int]:
    """REAL metadata decode for PNG/JPEG/GIF/BMP/WebP/TIFF via
    pure-Python header parsing (scale/codecs.py — no PIL needed);
    exotic formats fall back to the deterministic stub, or raise when
    ``strict``."""
    from .codecs import parse_image_header

    parsed = parse_image_header(content)
    if parsed is not None:
        return parsed
    if strict:
        raise NotImplementedError(
            "unrecognized image container (PNG/JPEG/GIF/BMP/WebP/TIFF "
            "supported without PIL; other formats need a real codec library)"
        )
    return _stub_decode(content)


def decode_images(
    td: Tibble,
    content: str = "content",
    batch_size: int = 256,
    strict: bool = False,
) -> Tibble:
    """Decode pass over binary content via Arrow-batched mapInPandas.
    PNG/JPEG/GIF/BMP/WebP headers are parsed for REAL (scale/codecs.py,
    pure Python); unrecognized containers get the deterministic stub,
    or raise when ``strict=True``.

    Partitioning note for 100 TB: binary payloads dominate row size —
    upstream readers should set spark.sql.files.maxPartitionBytes so a
    partition holds ~batch_size rows of payload, keeping Arrow batches
    within executor memory."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [
            StructField("format", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            fmts, ws, hs = [], [], []
            for content_bytes in pdf[content]:
                fmt, w, h = (
                    _decode_image_meta(bytes(content_bytes), strict)
                    if content_bytes is not None
                    else (None, None, None)
                )
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
            pdf = pdf.copy()
            pdf["format"] = fmts
            pdf["width"] = ws
            pdf["height"] = hs
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


def image_features(td: Tibble, content: str = "content", dim: int = 32) -> Tibble:
    """Feature-extraction pass -> array<float> embedding column.
    STUB: hash-derived deterministic vector (real impl: a vision
    encoder over the decoded pixels, same batch shape)."""
    import numpy as np
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [StructField("features", ArrayType(FloatType()))]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            feats = []
            for content_bytes in pdf[content]:
                if content_bytes is None:
                    feats.append(None)
                    continue
                seed = int.from_bytes(
                    hashlib.sha256(bytes(content_bytes)).digest()[:8], "big"
                )
                rng = np.random.default_rng(seed)
                v = rng.standard_normal(dim)
                feats.append((v / np.linalg.norm(v)).astype("float32").tolist())
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


def resize_images(td: Tibble, content: str = "content", width: int = 224, height: int = 224) -> Tibble:
    """Resize pass. STUB: passes content through and records the target
    size (real impl: decode -> resample -> re-encode in the same
    mapInPandas batch loop)."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [
            StructField("resized_width", IntegerType()),
            StructField("resized_height", IntegerType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["resized_width"] = width
            pdf["resized_height"] = height
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


def sample_frames(td: Tibble, content: str = "content", every_n: int = 30) -> Tibble:
    """Video frame sampling -> one row per sampled frame. STUB: emits
    deterministic frame indices from the content hash (real impl:
    container demux). Demonstrates the 1->N mapInPandas shape."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [StructField("frame_idx", IntegerType())]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for _, row in pdf.iterrows():
                content_bytes = row[content]
                n_frames = (
                    30 + hashlib.sha256(bytes(content_bytes)).digest()[0]
                    if content_bytes is not None
                    else 0
                )
                for i in range(0, n_frames, every_n):
                    r = row.to_dict()
                    r["frame_idx"] = i
                    rows.append(r)
            yield pd.DataFrame(rows, columns=[*pdf.columns, "frame_idx"])

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


# --------------------------------------------------------------------------
# audio (same real-plumbing / stub-codec pattern as images)
# --------------------------------------------------------------------------

AUDIO_SCHEMA = StructType(
    [
        StructField("content", BinaryType()),
        StructField("format", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def _stub_decode_audio(content: bytes) -> tuple[str, int, int]:
    """STUB for unrecognized containers only: deterministic fake keyed
    off a content hash. WAV/FLAC take the real parse path in
    ``_decode_audio_meta``."""
    if content is None:
        raise NotImplementedError(
            "real audio decode requires torchaudio/soundfile (not in this container)"
        )
    h = hashlib.sha256(content).digest()
    fmt = ["wav", "flac", "mp3"][h[0] % 3]
    sample_rate = [16_000, 22_050, 44_100][h[1] % 3]
    n_samples = sample_rate * (1 + h[2] % 30)  # 1-30 s clips
    return fmt, sample_rate, n_samples


def _decode_audio_meta(content: bytes, strict: bool = False) -> tuple[str, int, int]:
    """REAL metadata decode for WAV/FLAC/MP3/OGG (Vorbis/Opus) via
    pure-Python header parsing (scale/codecs.py — no torchaudio
    needed); other formats fall back to the deterministic stub, or
    raise when ``strict``."""
    from .codecs import parse_audio_header

    parsed = parse_audio_header(content)
    if parsed is not None:
        return parsed
    if strict:
        raise NotImplementedError(
            "unrecognized audio container (WAV/FLAC/MP3/OGG supported "
            "without torchaudio; other formats need a real codec library)"
        )
    return _stub_decode_audio(content)


@verb
def decode_audio(
    td: Tibble,
    content: str = "content",
    batch_size: int = 256,
    strict: bool = False,
) -> Tibble:
    """Header-decode pass over binary audio via Arrow-batched
    mapInPandas — adds (format, sample_rate, n_samples). WAV/FLAC
    headers are parsed for REAL (scale/codecs.py); unrecognized
    containers get the deterministic stub, or raise when ``strict``.
    Partition sizing note as for decode_images: payload bytes dominate
    row size; size spark.sql.files.maxPartitionBytes so ~batch_size
    rows of payload fit one partition."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [
            StructField("format", StringType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            fmts, srs, ns = [], [], []
            for b in pdf[content]:
                if b is None:
                    fmts.append(None); srs.append(None); ns.append(None)
                    continue
                fmt, sr, n = _decode_audio_meta(bytes(b), strict)
                fmts.append(fmt); srs.append(sr); ns.append(n)
            pdf = pdf.copy()
            pdf["format"], pdf["sample_rate"], pdf["n_samples"] = fmts, srs, ns
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema=schema)
    return Tibble(out)


@verb
def audio_features(td: Tibble, content: str = "content", dim: int = 32) -> Tibble:
    """Feature-extraction pass -> array<float> unit-norm embedding
    column (r14: REAL for raw-PCM audio). Clips ``codecs.decode_pcm``
    can decode (WAV/AIFF) embed as a mean-centered log band-energy
    grid — ``dim // 8`` equal-duration time slices x 8 log-spaced
    absolute-Hz bands when ``dim`` is a multiple of 8, else one slice
    of ``dim`` bands — so re-gained/re-encoded copies land at cosine
    ~1 and the vector feeds cosine_topk / semantic_dedup /
    embedding_join directly (mean-centering cancels the uniform log
    shift a gain applies; same invariance argument as
    :func:`_afp64`'s threshold bits, but graded instead of binary).
    Compressed containers keep the deterministic hash-derived STUB
    vector (exact-content identity; a real codec library would slot
    into the same batch loop)."""
    import numpy as np
    import pandas as pd

    from .codecs import decode_pcm

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [StructField("audio_features", ArrayType(FloatType()))]
    )
    nt, nf = (dim // 8, 8) if dim >= 8 and dim % 8 == 0 else (1, dim)

    def _pcm_embed(sr: int, x) -> "np.ndarray | None":
        n = len(x)
        if n < max(256, nt * 2) or sr <= 0:
            return None
        f_hi = min(3800.0, 0.45 * sr)
        f_lo = min(100.0, f_hi / nf)
        edges = np.geomspace(f_lo, f_hi, nf + 1)
        E = np.empty(nt * nf)
        te = [(i * n) // nt for i in range(nt + 1)]
        for t in range(nt):
            seg = x[te[t]: te[t + 1]]
            P = np.abs(np.fft.rfft(seg)) ** 2
            freqs = np.fft.rfftfreq(len(seg), 1.0 / sr)
            idx = np.searchsorted(freqs, edges)
            for b in range(nf):
                E[t * nf + b] = np.log(
                    P[idx[b]: max(idx[b + 1], idx[b] + 1)].sum() + 1e-12
                )
        E -= E.mean()
        nrm = np.linalg.norm(E)
        if nrm == 0:
            return None
        return (E / nrm).astype("float32")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            feats = []
            for b in pdf[content]:
                if b is None:
                    feats.append(None)
                    continue
                bb = bytes(b)
                pcm = decode_pcm(bb)
                v = None if pcm is None else _pcm_embed(pcm[0], pcm[1])
                if v is None:
                    seed = int.from_bytes(
                        hashlib.sha256(b"audio" + bb).digest()[:8], "big"
                    )
                    rng = np.random.default_rng(seed)
                    v = rng.standard_normal(dim)
                    v = (v / np.linalg.norm(v)).astype("float32")
                feats.append(v.tolist())
            pdf = pdf.copy()
            pdf["audio_features"] = feats
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema=schema)
    return Tibble(out)


# --------------------------------------------------------------------------
# video (same real-plumbing / stub-codec pattern as images and audio)
# --------------------------------------------------------------------------

def _stub_decode_video(content: bytes) -> tuple[str, int, int, int]:
    """STUB for unrecognized containers only: deterministic fake keyed
    off a content hash. MP4/ISO-BMFF and WebM/Matroska take the real
    parse path in ``_decode_video_meta``."""
    if content is None:
        raise NotImplementedError(
            "real video decode requires ffmpeg/cv2 (not in this container)"
        )
    h = hashlib.sha256(content).digest()
    fmt = ["mp4", "webm", "mkv"][h[0] % 3]
    w, hgt = [(640, 360), (1280, 720), (1920, 1080)][h[1] % 3]
    duration_ms = 1000 * (1 + h[2] % 120)  # 1-120 s clips
    return fmt, w, hgt, duration_ms


def _decode_video_meta(
    content: bytes, strict: bool = False
) -> tuple[str, int, int, int]:
    """REAL metadata probe for MP4 / ISO-BMFF (pure-Python box walk:
    ftyp + moov/mvhd duration + largest visual track's tkhd dims) and
    WebM / Matroska (EBML element walk: DocType + Segment/Info
    duration + largest video track's PixelWidth/PixelHeight) — both in
    scale/codecs.py, no ffmpeg needed. Other containers fall back to
    the deterministic stub, or raise when ``strict``."""
    from .codecs import parse_video_header

    parsed = parse_video_header(content)
    if parsed is not None:
        return parsed
    if strict:
        raise NotImplementedError(
            "unrecognized video container (MP4/ISO-BMFF and WebM/Matroska "
            "supported without ffmpeg; other formats need a real demuxer "
            "library)"
        )
    return _stub_decode_video(content)


@verb
def decode_video(
    td: Tibble,
    content: str = "content",
    batch_size: int = 256,
    strict: bool = False,
) -> Tibble:
    """Header-probe pass over binary video via Arrow-batched
    mapInPandas — adds (format, vid_w, vid_h, duration_ms). MP4 /
    ISO-BMFF boxes and WebM/Matroska EBML elements are parsed for REAL
    (scale/codecs.py); unrecognized containers get the deterministic
    stub, or raise when ``strict``.
    The probe reads only the leading boxes, so per-row cost is
    constant; payload bytes dominate the partition size exactly as in
    decode_images."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [
            StructField("format", StringType()),
            StructField("vid_w", IntegerType()),
            StructField("vid_h", IntegerType()),
            StructField("duration_ms", LongType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            fmts, ws, hs, ds = [], [], [], []
            for b in pdf[content]:
                if b is None:
                    fmts.append(None); ws.append(None)
                    hs.append(None); ds.append(None)
                    continue
                fmt, w, h, d = _decode_video_meta(bytes(b), strict)
                fmts.append(fmt); ws.append(w); hs.append(h); ds.append(d)
            pdf = pdf.copy()
            pdf["format"], pdf["vid_w"] = fmts, ws
            pdf["vid_h"], pdf["duration_ms"] = hs, ds
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema=schema)
    return Tibble(out)


@verb
def sniff_media(
    td: Tibble,
    content: str = "content",
    type_col: str = "media_type",
    format_col: str = "media_format",
) -> Tibble:
    """Classify a mixed binary column by its REAL container headers —
    the routing step of a multimodal ingest pipeline (send images to
    decode_images, audio to decode_audio, movies to decode_video,
    everything else to quarantine). Adds ``media_type`` in
    {'image','audio','video',NULL} and the concrete ``media_format``
    ('png', 'mp3', 'mp4', ...). NULL/unrecognized bytes get NULL type.

    One Arrow-batched pass; each parser reads a few header bytes, so
    per-row cost is constant regardless of payload size. The same
    anti-false-positive evidence rules as the decode passes apply
    (MP3 second frame, OGG second page, MP4 moov box)."""
    import pandas as pd

    from .codecs import parse_audio_header, parse_image_header, parse_video_header

    in_cols = [c for c in td.columns]
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [
            StructField(type_col, StringType()),
            StructField(format_col, StringType()),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            types, fmts = [], []
            for b in pdf[content]:
                if b is None:
                    types.append(None); fmts.append(None)
                    continue
                bb = bytes(b)
                img = parse_image_header(bb)
                if img is not None:
                    types.append("image"); fmts.append(img[0])
                    continue
                aud = parse_audio_header(bb)
                if aud is not None:
                    types.append("audio"); fmts.append(aud[0])
                    continue
                vid = parse_video_header(bb)
                if vid is not None:
                    types.append("video"); fmts.append(vid[0])
                    continue
                types.append(None); fmts.append(None)
            pdf = pdf.copy()
            pdf[type_col], pdf[format_col] = types, fmts
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema=schema)
    return Tibble(out)


def _dhash_cells(gray):
    """8x9 area-mean cell matrix of a grayscale raster — the resample
    step of dHash, shared with the video fingerprint (which medians
    these matrices across frames before thresholding)."""
    import numpy as np

    h, w = gray.shape
    # area means over integer bin edges (deterministic, no resampling
    # library): 8 rows x 9 cols
    ye = [(i * h) // 8 for i in range(9)]
    xe = [(j * w) // 9 for j in range(10)]
    cells = np.empty((8, 9))
    for r in range(8):
        y0, y1 = ye[r], max(ye[r + 1], ye[r] + 1)
        for c in range(9):
            x0, x1 = xe[c], max(xe[c + 1], xe[c] + 1)
            cells[r, c] = gray[y0:y1, x0:x1].mean()
    return cells


def _pack_adjacent_bits(cells) -> int:
    """Compare horizontally adjacent cells of an 8x9 matrix and pack
    the 64 comparison bits little-endian into a SIGNED 64-bit int
    (Spark long)."""
    import numpy as np

    bits = (cells[:, :-1] > cells[:, 1:]).flatten()
    v = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            v |= np.uint64(1) << np.uint64(i)
    return int(v.astype(np.int64))


def _dhash64(gray) -> int:
    """Classic difference hash (dHash): area-resample the grayscale
    raster to 9x8, compare horizontally adjacent cells, pack the 64
    bits little-endian into a SIGNED 64-bit int (Spark long)."""
    return _pack_adjacent_bits(_dhash_cells(gray))


def _stub_raster(content: bytes):
    """Deterministic pseudo-raster for content the container cannot
    pixel-decode (WebP/GIF/TIFF/progressive-JPEG/... need a real codec
    library): keyed off the content hash, so the resulting
    'fingerprint' is exact-content identity, NOT perceptual — two
    near-identical such images get unrelated hashes. Real rasters
    (PNG, BMP, and baseline JPEG's DC thumbnail via
    codecs.decode_raster) get the real perceptual property."""
    import hashlib as _hl

    import numpy as np

    seed = int.from_bytes(_hl.sha256(content).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (16, 16)).astype("float32")


def image_dhash(
    td: Tibble,
    content: str = "content",
    out_col: str = "dhash",
    strict: bool = False,
) -> Tibble:
    """Perceptual image fingerprint column (64-bit dHash, Spark long;
    NULL for NULL content) — the image-side analogue of the text
    fingerprint: near-identical images (recompressions, small edits,
    brightness shifts) land within a few Hamming bits, so exact
    grouping catches re-encodes and :func:`image_near_dup_pairs`
    catches near-dups, feeding the same curation loop as text dedup.

    Pixels come from ``codecs.decode_raster`` where that is possible
    without a codec library: 8-bit non-interlaced PNG, uncompressed
    24/32-bit BMP, and baseline Huffman JPEG — the dominant crawl
    format — whose DC coefficients decode (no IDCT) into the standard
    1/8-scale luma thumbnail, exactly the raster dHash resamples
    anyway, so JPEG re-encodes land within a few Hamming bits of each
    other. Other containers (WebP, progressive JPEG, ...) fall back
    to a DETERMINISTIC stub raster keyed off the content hash
    (documented: exact-content identity only, no perceptual property)
    or raise with ``strict=True``. One Arrow ``mapInPandas`` pass, no
    shuffle."""
    return _fp_column(
        td, content, out_col, "image_dhash",
        partial(_image_fp_one, strict=strict, op="image_dhash"),
    )


def _image_fp_one(bb: bytes, strict: bool, op: str) -> int:
    """Fingerprint ONE image's bytes — shared by the batch column op
    (image_dhash) and the streaming consumer (stream_image_dedup) so
    both sides of an index match hash identically."""
    from .codecs import decode_raster

    gray = decode_raster(bb)
    if gray is None:
        if strict:
            raise NotImplementedError(
                f"{op}(strict=True): pixel decode needs PNG/BMP/"
                "baseline-JPEG (other containers require a real codec "
                "library)"
            )
        gray = _stub_raster(bb)
    return _dhash64(gray)


def _fp_column(td: Tibble, content: str, out_col: str, op: str, fp_one):
    """The one Arrow ``mapInPandas`` pass behind image_dhash,
    audio_fingerprint and video_fingerprint: appends ``out_col`` =
    ``fp_one(bytes)`` as a Spark long, NULL for NULL content.
    Byte-identical content (the most common duplicate class in a
    crawl) decodes once per Arrow batch — the memo keys reference this
    batch's buffers only, so memory stays bounded by the batch
    itself."""
    import pandas as pd

    in_cols = [c for c in td.columns]
    if out_col in in_cols:
        raise ValueError(f"{op}: column {out_col!r} already exists")
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols]
        + [StructField(out_col, LongType())]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            hashes = []
            memo: dict = {}
            for content_bytes in pdf[content]:
                if content_bytes is None:
                    hashes.append(None)
                    continue
                bb = bytes(content_bytes)
                if bb not in memo:
                    memo[bb] = fp_one(bb)
                hashes.append(memo[bb])
            pdf = pdf.copy()
            pdf[out_col] = pd.array(hashes, dtype="Int64")
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


def _fp_banded_pairs(base, max_hamming: int, max_bucket: int, op: str):
    """(id_a, id_b, hamming) pairs from a hashed ``(id, __fp__)``
    frame — the shared banded-blocking core of the three
    *_near_dup_pairs operators and the *_dedup compositions: the
    64-bit fingerprint splits into ``max_hamming + 1`` disjoint bit
    bands (pigeonhole-exact recall within the budget), candidates come
    from equi-joins on (band, bval) — a keyed shuffle, never an
    all-pairs compare — and verify JVM-side with ``bit_count``.
    Over-full buckets drop with their volume accounted under ``op``."""
    from .dedup import _cap_buckets
    from .lsh import fp_banded

    banded = _cap_buckets(
        fp_banded(base, "__fp__", max_hamming + 1, ["id", "__fp__"]),
        ["band", "bval"], max_bucket, op=op,
    )
    left = banded.select(
        "band", "bval", F.col("id").alias("id_a"),
        F.col("__fp__").alias("__ha__"),
    )
    right = banded.select(
        "band", "bval", F.col("id").alias("id_b"),
        F.col("__fp__").alias("__hb__"),
    )
    return (
        left.join(right, on=["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("__ha__").bitwiseXOR(F.col("__hb__"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def image_near_dup_pairs(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 4,
    strict: bool = False,
    max_bucket: int = 1000,
) -> Tibble:
    """All (id_a, id_b, hamming) image pairs whose dHashes differ by
    at most ``max_hamming`` bits (id_a < id_b under the id ordering).

    100 TB shape — banded blocking with pigeonhole-exact recall: the
    64-bit hash splits into ``max_hamming + 1`` disjoint bit bands, so
    any pair within the Hamming budget agrees EXACTLY on at least one
    band (pigeonhole); candidates come from equi-joins on (band,
    band value) — a keyed shuffle, never an all-pairs compare — and
    verify JVM-side with ``bit_count(a ^ b)``. Giant identical
    clusters are bucket-capped (drop volume registers under op
    ``"image_near_dup_pairs"`` for dropped_pairs_estimate). Everything
    after the one Arrow hash pass is JVM expressions."""
    from .dedup import _register_dropped_pairs

    _register_dropped_pairs("image_near_dup_pairs")
    if max_hamming < 0:
        raise ValueError("image_near_dup_pairs: max_hamming must be >= 0")
    hashed = image_dhash(td, content, out_col="__fp__", strict=strict)
    base = hashed.df.select(
        F.col(id_col).alias("id"), F.col("__fp__")
    ).filter(F.col("id").isNotNull() & F.col("__fp__").isNotNull())
    return Tibble(
        _fp_banded_pairs(base, max_hamming, max_bucket,
                         "image_near_dup_pairs")
    )


def _afp64(sr: int, x) -> int | None:
    """Spectral audio fingerprint: 8 equal-duration time slices x 8
    log-spaced frequency bands (100 Hz .. min(3800, 0.45*sr) Hz — the
    speech/music core, below every common Nyquist so fingerprints are
    comparable ACROSS sample rates); bit(t, f) = band log-energy above
    its slice's mean log-energy, packed little-endian into a SIGNED
    64-bit int (Spark long).

    The mean-threshold bit is invariant to gain (a gain shifts every
    log-energy in a slice by the same constant, which cancels against
    the slice mean) and to resampling (absolute-Hz bands + uniform
    FFT-length scaling), and tie-resistant: a band is either
    tone-bearing (well above the slice mean) or leakage floor (well
    below), so mild noise flips only the rare near-threshold bits —
    measured: re-gained + lightly-noised clips land within ~8 Hamming
    bits, distinct tonal content ~20+ apart. Returns None for
    waveforms too short to slice (< 256 samples)."""
    import numpy as np

    n = len(x)
    if n < 256 or sr <= 0:
        return None
    f_hi = min(3800.0, 0.45 * sr)
    f_lo = min(100.0, f_hi / 8.0)
    edges = np.geomspace(f_lo, f_hi, 9)
    E = np.empty((8, 8))
    te = [(i * n) // 8 for i in range(9)]
    for t in range(8):
        seg = x[te[t]: te[t + 1]]
        P = np.abs(np.fft.rfft(seg)) ** 2
        freqs = np.fft.rfftfreq(len(seg), 1.0 / sr)
        idx = np.searchsorted(freqs, edges)
        for f in range(8):
            E[t, f] = np.log(
                P[idx[f]: max(idx[f + 1], idx[f] + 1)].sum() + 1e-12
            )
    bits = (E > E.mean(axis=1, keepdims=True)).flatten()
    v = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            v |= np.uint64(1) << np.uint64(i)
    return int(v.astype(np.int64))


def _stub_audio_fp(content: bytes) -> int:
    """Deterministic fingerprint for content the container cannot
    PCM-decode (FLAC/MP3/OGG payloads need real entropy/transform
    decoding): keyed off the content hash, so it is exact-content
    identity, NOT perceptual — two near-identical such clips get
    unrelated fingerprints. WAV/AIFF waveforms (codecs.decode_pcm)
    get the real perceptual property."""
    d = hashlib.sha256(content).digest()[:8]
    return int.from_bytes(d, "big", signed=True)


def audio_fingerprint(
    td: Tibble,
    content: str = "content",
    out_col: str = "afp",
    strict: bool = False,
) -> Tibble:
    """Perceptual audio fingerprint column (64-bit spectral hash,
    Spark long; NULL for NULL content) — the audio-side analogue of
    the image dHash: re-gained, re-encoded (PCM width), resampled, or
    lightly-noised copies of a clip land within a few Hamming bits,
    so exact grouping catches byte-level re-encodes and
    :func:`audio_near_dup_pairs` catches near-dups, feeding the same
    curation loop as text/image dedup.

    Waveforms come from ``codecs.decode_pcm`` where the container
    carries raw PCM — RIFF WAV (int 8/16/24/32, IEEE float 32/64) and
    AIFF/AIFF-C uncompressed, the dominant raw-audio interchange
    formats; multi-channel audio downmixes to mono first, so a stereo
    master and its mono mixdown fingerprint alike. Compressed
    containers (FLAC/MP3/OGG) fall back to a DETERMINISTIC stub keyed
    off the content hash (documented: exact-content identity only, no
    perceptual property) or raise with ``strict=True``. One Arrow
    ``mapInPandas`` pass, no shuffle."""
    return _fp_column(
        td, content, out_col, "audio_fingerprint",
        partial(_audio_fp_one, strict=strict, op="audio_fingerprint"),
    )


def _audio_fp_one(bb: bytes, strict: bool, op: str) -> int:
    """Fingerprint ONE clip's bytes — shared by the batch column op
    (audio_fingerprint) and the streaming consumer (stream_audio_dedup)
    so both sides of an index match hash identically."""
    from .codecs import decode_pcm

    pcm = decode_pcm(bb)
    fp = None if pcm is None else _afp64(pcm[0], pcm[1])
    if fp is None:
        if strict:
            raise NotImplementedError(
                f"{op}(strict=True): waveform decode needs raw-PCM "
                "WAV/AIFF >= 256 samples (compressed containers require "
                "a real codec library)"
            )
        fp = _stub_audio_fp(bb)
    return fp


def audio_near_dup_pairs(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 6,
    strict: bool = False,
    max_bucket: int = 1000,
) -> Tibble:
    """All (id_a, id_b, hamming) audio pairs whose spectral
    fingerprints differ by at most ``max_hamming`` bits (id_a < id_b
    under the id ordering).

    Same 100 TB shape as :func:`image_near_dup_pairs` — banded
    blocking with pigeonhole-exact recall: the 64-bit fingerprint
    splits into ``max_hamming + 1`` disjoint bit bands, so any pair
    within the Hamming budget agrees EXACTLY on at least one band;
    candidates come from equi-joins on (band, band value) — a keyed
    shuffle, never an all-pairs compare — and verify JVM-side with
    ``bit_count(a ^ b)``. Giant identical clusters are bucket-capped
    (drop volume registers under op ``"audio_near_dup_pairs"``).
    Everything after the one Arrow hash pass is JVM expressions."""
    from .dedup import _register_dropped_pairs

    _register_dropped_pairs("audio_near_dup_pairs")
    if max_hamming < 0:
        raise ValueError("audio_near_dup_pairs: max_hamming must be >= 0")
    hashed = audio_fingerprint(td, content, out_col="__fp__", strict=strict)
    base = hashed.df.select(
        F.col(id_col).alias("id"), F.col("__fp__")
    ).filter(F.col("id").isNotNull() & F.col("__fp__").isNotNull())
    return Tibble(
        _fp_banded_pairs(base, max_hamming, max_bucket,
                         "audio_near_dup_pairs")
    )


def audio_stats(
    td: Tibble,
    content: str = "content",
    strict: bool = False,
    silence_rms: float = 0.01,
    clip_level: float = 0.999,
) -> Tibble:
    """Waveform quality signals for audio curation — the audio
    analogue of text quality scoring (length/punct/stopword ratios):
    adds ``sample_rate`` (int), ``duration_sec``, ``rms``, ``peak``,
    ``clipping_ratio`` (fraction of samples at/above ``clip_level``
    full scale — a distorted/hard-limited upload flag),
    ``silence_ratio`` (fraction of 100 ms frames with RMS below
    ``silence_rms`` — dead air), and ``zcr`` (mean zero-crossing rate
    per sample — crude noisiness/speech-vs-tone signal). A pipeline
    filters on these exactly like Gopher text gates: drop clips that
    are mostly silence, clipped, or implausibly short.

    Metrics come from ``codecs.decode_pcm`` (raw-PCM WAV/AIFF, mono
    downmix); containers that need a real codec yield NULL metrics —
    or raise with ``strict=True``. One Arrow ``mapInPandas`` pass, all
    numpy-vectorized per clip, no shuffle."""
    import pandas as pd

    from .codecs import decode_pcm

    in_cols = [c for c in td.columns]
    added = [
        StructField("sample_rate", IntegerType()),
        StructField("duration_sec", FloatType()),
        StructField("rms", FloatType()),
        StructField("peak", FloatType()),
        StructField("clipping_ratio", FloatType()),
        StructField("silence_ratio", FloatType()),
        StructField("zcr", FloatType()),
    ]
    for fld in added:
        if fld.name in in_cols:
            raise ValueError(
                f"audio_stats: column {fld.name!r} already exists"
            )
    schema = StructType(
        [td.df.select(*in_cols).schema[c] for c in in_cols] + added
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in it:
            cols = {f.name: [] for f in added}
            for content_bytes in pdf[content]:
                pcm = (
                    decode_pcm(bytes(content_bytes))
                    if content_bytes is not None
                    else None
                )
                if pcm is None or len(pcm[1]) == 0:
                    if strict and content_bytes is not None:
                        raise NotImplementedError(
                            "audio_stats(strict=True): waveform decode "
                            "needs raw-PCM WAV/AIFF (compressed "
                            "containers require a real codec library)"
                        )
                    for k in cols:
                        cols[k].append(None)
                    continue
                sr, x = pcm
                n = len(x)
                cols["sample_rate"].append(sr)
                cols["duration_sec"].append(n / sr)
                cols["rms"].append(float(np.sqrt(np.mean(x * x))))
                ax = np.abs(x)
                cols["peak"].append(float(ax.max()))
                cols["clipping_ratio"].append(
                    float((ax >= clip_level).mean())
                )
                frame = max(1, sr // 10)  # 100 ms
                nf = n // frame
                if nf:
                    fr = x[: nf * frame].reshape(nf, frame)
                    frms = np.sqrt((fr * fr).mean(axis=1))
                    cols["silence_ratio"].append(
                        float((frms < silence_rms).mean())
                    )
                else:
                    cols["silence_ratio"].append(
                        1.0 if float(ax.max()) < silence_rms else 0.0
                    )
                cols["zcr"].append(
                    float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean())
                    if n > 1 else 0.0
                )
            pdf = pdf.copy()
            for f_ in added:
                dtype = "Int32" if f_.name == "sample_rate" else "Float32"
                pdf[f_.name] = pd.array(cols[f_.name], dtype=dtype)
            yield pdf

    out = td.df.select(*in_cols).mapInPandas(batches, schema)
    return Tibble(out)


# --------------------------------------------------------------------------
# video: temporal-median perceptual fingerprint over MJPEG AVI frames
# --------------------------------------------------------------------------

def _vfp64(grays) -> int:
    """Perceptual video fingerprint: per-frame 8x9 dHash cell matrices
    (``_dhash_cells``), elementwise MEDIAN across the sampled frames,
    then the standard adjacent-cell comparison packs 64 bits (SIGNED
    64-bit int, Spark long).

    The temporal median keeps dHash's robustness (a re-encode perturbs
    every cell slightly; only near-equal adjacent pairs can flip) and
    adds frame-level robustness on top: a fully corrupted or inserted
    frame moves each median by at most one order statistic, where a
    mean would drag every cell. Frame ORDER does not enter the hash —
    a re-encode that drops/duplicates boundary frames still matches,
    the same trade image dHash makes with spatial layout. Measured on
    the MJPEG fixtures: quality-90 4:4:4 vs quality-40 4:2:0
    re-encodes land within ~1 Hamming bit on temporally-correlated
    content and <= 7 on independent white-noise frames (the
    worst-case JPEG input); 1-2-frame tail trims of correlated clips
    within ~2 bits (uncorrelated frames re-sample freely — no trim
    guarantee there); distinct seeded content 25+ apart."""
    import numpy as np

    stack = np.stack([_dhash_cells(g) for g in grays])
    return _pack_adjacent_bits(np.median(stack, axis=0))


def _stub_video_fp(content: bytes) -> int:
    """Deterministic fingerprint for content the container cannot
    frame-decode (MP4/WebM/MKV payloads need real codec libraries;
    non-MJPEG AVI streams fail the per-frame raster decode): keyed off
    the content hash, so it is exact-content identity, NOT perceptual.
    MJPEG AVI (codecs.extract_video_frames + the baseline-JPEG DC
    raster) gets the real perceptual property."""
    d = hashlib.sha256(content).digest()[:8]
    return int.from_bytes(d, "big", signed=True)


def _video_fp_one(bb: bytes, n_frames: int, strict: bool, op: str) -> int:
    """Fingerprint ONE video's bytes — shared by the batch column op
    (video_fingerprint) and the streaming consumer (stream_video_dedup)
    so both sides of an index match hash identically."""
    from .codecs import decode_raster, extract_video_frames

    frames = extract_video_frames(bb)
    if frames:
        k = min(n_frames, len(frames))
        if k == 1:
            idx = [0]
        else:
            idx = sorted(
                {round(i * (len(frames) - 1) / (k - 1)) for i in range(k)}
            )
        grays = [decode_raster(frames[i]) for i in idx]
        if all(g is not None for g in grays):
            return _vfp64(grays)
    if strict:
        raise NotImplementedError(
            f"{op}(strict=True): frame decode needs an MJPEG AVI "
            "(baseline-JPEG frames; other containers/codecs require a "
            "real codec library)"
        )
    return _stub_video_fp(bb)


def video_fingerprint(
    td: Tibble,
    content: str = "content",
    out_col: str = "vfp",
    strict: bool = False,
    n_frames: int = 8,
) -> Tibble:
    """Perceptual video fingerprint column (64-bit temporal-median
    dHash, Spark long; NULL for NULL content) — the video member of
    the perceptual fingerprint family (image: dHash; audio: spectral
    hash): re-encoded (JPEG quality / chroma layout), lightly-edited,
    or boundary-trimmed copies of a clip land within a few Hamming
    bits, so exact grouping catches byte-level re-muxes and
    :func:`video_near_dup_pairs` catches near-dups, feeding the same
    curation loop as the other modalities (trim robustness needs
    temporally-correlated frames — real footage — see ``_vfp64``'s
    measurements).

    Frames come from ``codecs.extract_video_frames`` where the
    container carries per-frame payloads without entropy decode — RIFF
    AVI — and each sampled frame (up to ``n_frames``, evenly spaced)
    rasterizes via ``codecs.decode_raster`` (real for baseline-JPEG
    MJPEG streams, the dominant intra-only interchange layout). Other
    containers (MP4/WebM/MKV) and codecs fall back to a DETERMINISTIC
    stub keyed off the content hash (documented: exact-content
    identity only, no perceptual property) or raise with
    ``strict=True``. One Arrow ``mapInPandas`` pass, no shuffle."""
    return _fp_column(
        td, content, out_col, "video_fingerprint",
        partial(_video_fp_one, n_frames=n_frames, strict=strict,
                op="video_fingerprint"),
    )


def video_near_dup_pairs(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 4,
    strict: bool = False,
    max_bucket: int = 1000,
) -> Tibble:
    """All (id_a, id_b, hamming) video pairs whose temporal-median
    fingerprints differ by at most ``max_hamming`` bits (id_a < id_b
    under the id ordering).

    Same 100 TB shape as the image/audio siblings — banded blocking
    with pigeonhole-exact recall: the 64-bit fingerprint splits into
    ``max_hamming + 1`` disjoint bit bands, so any pair within the
    Hamming budget agrees EXACTLY on at least one band; candidates
    come from equi-joins on (band, band value) — a keyed shuffle,
    never an all-pairs compare — and verify JVM-side with
    ``bit_count(a ^ b)``. Giant identical clusters are bucket-capped
    (drop volume registers under op ``"video_near_dup_pairs"``).
    Everything after the one Arrow hash pass is JVM expressions."""
    from .dedup import _register_dropped_pairs

    _register_dropped_pairs("video_near_dup_pairs")
    if max_hamming < 0:
        raise ValueError("video_near_dup_pairs: max_hamming must be >= 0")
    hashed = video_fingerprint(td, content, out_col="__fp__", strict=strict)
    base = hashed.df.select(
        F.col(id_col).alias("id"), F.col("__fp__")
    ).filter(F.col("id").isNotNull() & F.col("__fp__").isNotNull())
    return Tibble(
        _fp_banded_pairs(base, max_hamming, max_bucket,
                         "video_near_dup_pairs")
    )

def _perceptual_dedup(
    td: Tibble, fp_fn, content: str, id_col: str, max_hamming: int,
    strict: bool, max_bucket: int, resolve: str, keep_by, keep: str,
    op: str,
) -> Tibble:
    """In-corpus perceptual dedup, shared by image/audio/video_dedup —
    the modality analogue of :func:`~.dedup.minhash_dedup`'s shape:

    1. one Arrow fingerprint pass;
    2. EXACT pre-pass: one winner per identical fingerprint (a
       min-aggregation — giant byte/perceptual-identical clusters
       collapse map-side and never reach the banded self-join, the
       same skew rationale as the text family's fingerprint pre-pass);
    3. banded near-dup pairs over the one-rep-per-fingerprint
       survivors (pigeonhole-exact within the Hamming budget);
    4. pair resolution: ``resolve='single_link'`` or true connected
       ``'components'``, with the ``keep_by``/``keep`` quality winner
       policy (requires components) — ties to the smallest id.

    NULL-id and NULL-fingerprint rows are exempt and always survive
    (the family NULL contract). Winner transitivity: under
    ``keep="max"`` each exact cluster's rep is its best member, so the
    component winner among reps is the best member overall."""
    from .dedup import (
        _drop_duplicates_by_pairs,
        _register_dropped_pairs,
        _keep_ordkey,
    )

    _register_dropped_pairs(op)
    if keep not in ("min", "max"):
        raise ValueError(f"{op}: keep must be 'min' or 'max', got {keep!r}")
    if keep_by is not None and resolve != "components":
        raise ValueError(
            f"{op}: keep_by needs resolve='components' — single-link "
            f"drop order has no well-defined cluster to pick a winner "
            f"from"
        )
    if max_hamming < 0:
        raise ValueError(f"{op}: max_hamming must be >= 0")
    in_cols = list(td.columns)
    hashed = fp_fn(td, content, out_col="__fp__", strict=strict).df
    exempt = hashed.filter(
        F.col(id_col).isNull() | F.col("__fp__").isNull()
    ).select(*in_cols)
    base = hashed.filter(
        F.col(id_col).isNotNull() & F.col("__fp__").isNotNull()
    )
    idkey = F.struct(
        F.col(id_col).isNotNull().alias("n"), F.col(id_col).alias("i")
    )
    ordkey = (
        idkey if keep_by is None
        else _keep_ordkey(base, keep_by, keep, idkey, op)
    )
    winners = base.groupBy("__fp__").agg(
        F.min_by(F.col(id_col), ordkey).alias("__win__")
    )
    reps = base.join(
        winners.select(F.col("__fp__").alias("__wfp__"), "__win__"),
        (F.col("__fp__") == F.col("__wfp__"))
        & (F.col(id_col) == F.col("__win__")),
    ).drop("__wfp__", "__win__")
    pairs = _fp_banded_pairs(
        reps.select(F.col(id_col).alias("id"), "__fp__"),
        max_hamming, max_bucket, op,
    )
    surv = _drop_duplicates_by_pairs(
        reps, pairs, id_col, resolve,
        keep_by if keep_by is None else str(keep_by), keep,
    ).select(*in_cols)
    return Tibble(
        surv.unionByName(exempt), groups=td.group_vars, levels=td.levels
    )


def image_dedup(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 4,
    strict: bool = False,
    max_bucket: int = 1000,
    resolve: str = "components",
    keep_by: Any = None,
    keep: str = "min",
) -> Tibble:
    """Drop perceptually duplicate images in one call (re-encodes,
    recompressions, small edits within ``max_hamming`` dHash bits),
    keeping each duplicate set's smallest id — or its best row by a
    quality column via ``keep_by``/``keep`` (e.g. keep the
    highest-resolution copy; requires ``resolve='components'``, the
    default). Composition and scale shape in
    :func:`_perceptual_dedup`; pair semantics in
    :func:`image_near_dup_pairs`. For batch-vs-corpus incremental
    dedup use the persistent index (``dedup_against_image_index``)."""
    from .dedup import _name_of

    return _perceptual_dedup(
        td, image_dhash, _name_of(content), _name_of(id_col),
        max_hamming, strict, max_bucket, resolve,
        None if keep_by is None else _name_of(keep_by), keep,
        "image_dedup",
    )


def audio_dedup(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 6,
    strict: bool = False,
    max_bucket: int = 1000,
    resolve: str = "components",
    keep_by: Any = None,
    keep: str = "min",
) -> Tibble:
    """Drop perceptually duplicate audio clips in one call (re-gains,
    PCM-width re-encodes, resamples within ``max_hamming`` spectral
    bits) — same contract and composition as :func:`image_dedup` under
    the audio fingerprint."""
    from .dedup import _name_of

    return _perceptual_dedup(
        td, audio_fingerprint, _name_of(content), _name_of(id_col),
        max_hamming, strict, max_bucket, resolve,
        None if keep_by is None else _name_of(keep_by), keep,
        "audio_dedup",
    )


def video_dedup(
    td: Tibble,
    content: str = "content",
    id_col: str = "id",
    max_hamming: int = 6,
    strict: bool = False,
    max_bucket: int = 1000,
    resolve: str = "components",
    keep_by: Any = None,
    keep: str = "min",
) -> Tibble:
    """Drop perceptually duplicate video clips in one call
    (JPEG-quality/chroma re-encodes and, on temporally correlated
    footage, boundary trims within ``max_hamming`` temporal-median
    bits) — same contract and composition as :func:`image_dedup` under
    the video fingerprint."""
    from .dedup import _name_of

    return _perceptual_dedup(
        td, video_fingerprint, _name_of(content), _name_of(id_col),
        max_hamming, strict, max_bucket, resolve,
        None if keep_by is None else _name_of(keep_by), keep,
        "video_dedup",
    )

