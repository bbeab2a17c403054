"""Multimodal column plumbing (north-star extension).

Media (image/audio/video) is carried as an opaque ``binary`` column plus
a typed metadata struct — the reference's embedded-file model
(process-mw-dump.py:147-177: filename + base64 contents) generalized.

The decode / feature-extract stage is a `mapInPandas` pipeline whose
Spark-side plumbing (schema, Arrow batching, partitioning) is real and
tested.  Codec status (r6): **PNG (complete baseline), JPEG (baseline
sequential + progressive), GIF, BMP, WAV, AIFF, Sun AU with G.711
μ-law/A-law companded audio, FLAC (lossless compressed audio —
Rice-coded fixed/LPC predictors), and MJPEG-AVI video decode are
REAL** — pure stdlib+numpy codecs
under ``functions.*_codec``, exercised end-to-end through the actual
mapInPandas kernels in ``tests/test_multimodal_codecs.py`` and
value-checked at the driver gate by ``multimodal_codec_roundtrip`` /
``multimodal_video_roundtrip`` / ``multimodal_audio_g711_roundtrip`` /
``multimodal_audio_flac_roundtrip`` / ``multimodal_image_webp_roundtrip``
(the oracles predict decoded dimensions, frame counts, fps, bit-exact
lossless equality, and spectral peak bins from doc_id arithmetic).
With lossless WebP (VP8L) real as of r6, the remaining rejections are
purely perceptual/inter-frame — MP3/AAC/Opus audio and H.26x/VP9/AV1
video (plus lossy VP8 WebP) — formats whose reference decoders cannot
be reproduced from public spec text alone in a stdlib-only sandbox;
they remain behind an import-try on PIL/libvips with a clear
``NotImplementedError``; the
earlier registered oracle queries keep the deterministic md5 stand-in
so their cross-engine value checks stay engine-computable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.sources.tables import load_table

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401
    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, "
    "width int, height int, checksum long"
)


def _media_frame(d: DataFrame) -> DataFrame:
    """documents → opaque media rows: binary payload + typed metadata.

    Rows with a NULL payload are dropped HERE, at the media-ingest
    boundary: every downstream Arrow kernel calls ``bytes(content)``
    and would crash on None (the NULL-injection sweep did), and a media
    row without bytes is the quarantine concern of ingest, not of the
    decode stage.  Each oracle carries the matching
    ``text IS NOT NULL``."""
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.struct(
            F.octet_length("text").alias("n_bytes"),
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        ).alias("meta"),
    )


def decode_image(content: bytes) -> tuple[int, int]:
    """REAL image decode: PNG, JPEG (baseline sequential AND
    progressive), GIF, BMP, and lossless WebP (r6 VP8L — prefix
    codes + LZ77 + color cache + the four spatial transforms) via the
    pure-stdlib codecs (functions.png_codec — zlib inflate + scanline
    unfiltering; functions.jpeg_codec — Huffman + IDCT + progressive
    scan accumulation; functions.gif_codec — LZW; functions.bmp_codec
    — DIB; functions.webp_codec), any other format via PIL when
    present.  Raises NotImplementedError naming the format when
    neither path applies (lossy VP8 WebP without PIL) — the
    pipeline's quarantine layer routes those rows."""
    from mediawiki_to_notion_spark.functions.png_codec import (
        _SIGNATURE,
        decode_png,
    )

    if content[:8] == _SIGNATURE:
        w, h, _pixels = decode_png(content)
        return w, h
    if content[:2] == b"\xff\xd8":
        from mediawiki_to_notion_spark.functions.jpeg_codec import decode_jpeg

        w, h, _pixels = decode_jpeg(content)
        return w, h
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from mediawiki_to_notion_spark.functions.gif_codec import decode_gif

        w, h, _pixels = decode_gif(content)
        return w, h
    if content[:2] == b"BM":
        from mediawiki_to_notion_spark.functions.bmp_codec import decode_bmp

        w, h, _pixels = decode_bmp(content)
        return w, h
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from mediawiki_to_notion_spark.functions.webp_codec import decode_webp

        w, h, _pixels = decode_webp(content)
        return w, h
    if HAVE_PIL:  # pragma: no cover - PIL absent in this container
        import io

        with Image.open(io.BytesIO(content)) as im:
            return im.size
    raise NotImplementedError(
        f"no decoder for magic {content[:4]!r} (PNG, JPEG, GIF, BMP, "
        "and VP8L WebP are built in; other formats need PIL/pyvips)"
    )


def decode_audio(content: bytes) -> tuple[int, int, int]:
    """REAL audio decode: WAV (RIFF — integer/float PCM, extensible),
    AIFF/AIFC (FORM — big-endian PCM), Sun AU (.snd — G.711
    μ-law/A-law companding + linear PCM), and FLAC (r6 — Rice-coded
    fixed/LPC predictors, the one COMPRESSED format reproducible from
    the public spec without perceptual tables) via the pure-stdlib
    parsers → (sample_rate, channels, n_samples)."""
    from mediawiki_to_notion_spark.functions.wav_codec import decode_wav

    if content[:4] == b"RIFF":
        rate, channels, samples = decode_wav(content)
        return rate, channels, len(samples)
    if content[:4] == b"FORM":
        from mediawiki_to_notion_spark.functions.aiff_codec import decode_aiff

        rate, channels, samples = decode_aiff(content)
        return rate, channels, len(samples)
    if content[:4] == b".snd":
        from mediawiki_to_notion_spark.functions.au_codec import decode_au

        rate, channels, samples = decode_au(content)
        return rate, channels, len(samples)
    if content[:4] == b"fLaC":
        from mediawiki_to_notion_spark.functions.flac_codec import decode_flac

        rate, channels, _bps, samples = decode_flac(content)
        return rate, channels, len(samples)
    raise NotImplementedError(
        f"no decoder for magic {content[:4]!r} (WAV, AIFF, G.711 AU, "
        "and FLAC are built in; perceptual codecs — MP3/AAC/Opus — "
        "need an audio library)"
    )


def decode_video(content: bytes, frame_step: int = 1,
                 strict_frame_count: bool = False,
                 ) -> tuple[int, int, int, int, list]:
    """REAL video decode for intra-frame codecs: MJPEG-in-AVI via the
    pure-stdlib RIFF walker + the JPEG codec per kept frame
    (functions.avi_codec) → (width, height, fps, n_frames, frames).
    ``frame_step`` samples every k-th frame WITHOUT entropy-decoding
    the skipped ones — the property that makes frame sampling cheap.
    Inter-frame codecs (H.26x/VP9/AV1 in MP4/MKV) raise
    NotImplementedError by name: their reference decoders cannot be
    reproduced from the public spec with confidence in a stdlib-only
    sandbox, and a self-consistent-but-wrong decoder is worse than a
    named rejection."""
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        from mediawiki_to_notion_spark.functions.avi_codec import (
            decode_avi_mjpeg,
        )

        return decode_avi_mjpeg(content, frame_step=frame_step,
                                strict_frame_count=strict_frame_count)
    raise NotImplementedError(
        f"no video decoder for magic {content[:4]!r} (MJPEG-AVI is "
        "built in; inter-frame codecs need a media library)"
    )


def fake_decode(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: derives (width, height,
    checksum) purely from the bytes so tests are reproducible — and via
    the same 60-bit md5 prefix both engines can compute, so the whole
    decode stage is value-checked by a SQL oracle despite running in
    Python inside mapInPandas."""
    import hashlib

    checksum = int(hashlib.md5(content).hexdigest()[:15], 16)
    w = 16 + checksum % 640
    h = 16 + (checksum // 640) % 480
    return w, h, checksum


REAL_FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, "
    "sample_rate int, channels int, n_samples int, decode_error string"
)


def extract_real_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker over REAL media bytes: PNG payloads decode to
    (width, height), WAV payloads to (sample_rate, channels,
    n_samples); anything undecodable carries its error in
    ``decode_error`` instead of killing the task — the per-row
    quarantine discipline every 100 TB media scan needs (one corrupt
    image out of a billion must not fail the stage)."""
    for pdf in batches:
        rows = []
        for doc_id, media_type, content in zip(
            pdf["doc_id"], pdf["media_type"], pdf["content"]
        ):
            data = bytes(content)
            w = h = rate = ch = ns = None
            err = None
            try:
                if media_type.startswith("image/"):
                    w, h = decode_image(data)
                elif media_type.startswith("audio/"):
                    rate, ch, ns = decode_audio(data)
                else:
                    err = f"no decoder for media_type {media_type}"
            except Exception as e:  # noqa: BLE001 — per-row quarantine
                err = f"{type(e).__name__}: {e}"
            rows.append(
                (doc_id, media_type, len(data), w, h, rate, ch, ns, err)
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "media_type", "n_bytes", "width", "height",
                     "sample_rate", "channels", "n_samples", "decode_error"],
        )


RESIZE_REAL_SCHEMA = (
    "doc_id long, orig_width int, orig_height int, width int, height int, "
    "resized_png binary, decode_error string"
)


def resize_real_media(
    batches: Iterator[pd.DataFrame], out_w: int = 16, out_h: int = 16
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: REAL decode→resize→re-encode loop for PNG
    payloads — parse pixels, nearest-neighbour resample to
    (out_w, out_h), emit a fresh PNG.  Per-row errors quarantine in
    ``decode_error``; the output column is itself decodable, so a
    downstream stage can chain on it (thumbnail pipelines do)."""
    from mediawiki_to_notion_spark.functions.png_codec import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            ow = oh = None
            out = None
            err = None
            try:
                ow, oh, px = decode_png(bytes(content))
                out = encode_png(resize_nearest(px, out_w, out_h))
            except Exception as e:  # noqa: BLE001 — per-row quarantine
                err = f"{type(e).__name__}: {e}"
            rows.append((doc_id, ow, oh,
                         out_w if out else None, out_h if out else None,
                         out, err))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "orig_width", "orig_height", "width",
                     "height", "resized_png", "decode_error"],
        )


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch in, one feature batch out.
    Bounded memory per task regardless of total corpus size."""
    for pdf in batches:
        rows = []
        for doc_id, media_type, content in zip(
            pdf["doc_id"], pdf["media_type"], pdf["content"]
        ):
            data = bytes(content)
            w, h, checksum = fake_decode(data)
            rows.append((doc_id, media_type, len(data), w, h, checksum))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "media_type", "n_bytes", "width", "height", "checksum"],
        )


@register(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — byte length + content
    digest, all JVM-side."""
    d = load_table(spark, "documents", sf_dir)
    m = _media_frame(d)
    return m.select(
        "doc_id", "media_type",
        F.length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


RESIZE_SCHEMA = (
    "doc_id long, media_type string, orig_chars int, "
    "resized_chars int, resized_md5 string"
)

N_FRAMES = 4
FRAME_LEN = 64
FRAME_SCHEMA = "doc_id long, frame_index int, frame_chars int, frame_md5 string"


def resize_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: deterministic 2:1 "resample" of the payload.

    A real deployment swaps the body for PIL/libvips `resize`; the
    stand-in drops every second symbol (regex pair-collapse), which is a
    genuine downsample — content-dependent, length-halving, and
    hash-checkable by the SQL oracle.  Arrow batch in, Arrow batch out;
    memory is bounded by the batch, never the corpus."""
    import hashlib
    import re

    for pdf in batches:
        rows = []
        for doc_id, media_type, content in zip(
            pdf["doc_id"], pdf["media_type"], pdf["content"]
        ):
            s = bytes(content).decode("utf-8")
            r = re.sub(r"(?s)(.).", r"\1", s)
            rows.append(
                (doc_id, media_type, len(s), len(r),
                 hashlib.md5(r.encode("utf-8")).hexdigest())
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "media_type", "orig_chars", "resized_chars",
                     "resized_md5"],
        )


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: sample ≤``N_FRAMES`` fixed-length frames at
    evenly-spaced offsets from each video payload — the 1→N
    row-expanding batch shape of a real frame sampler (ffmpeg keyframe
    extraction would replace the slicing, nothing else changes)."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            s = bytes(content).decode("utf-8")
            stride = max(len(s) // N_FRAMES, 1)
            for k in range(N_FRAMES):
                frame = s[k * stride: k * stride + FRAME_LEN]
                if frame:
                    rows.append(
                        (doc_id, k, len(frame),
                         hashlib.md5(frame.encode("utf-8")).hexdigest())
                    )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_index", "frame_chars", "frame_md5"]
        )


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           len(text) AS orig_chars,
           len(regexp_replace(text, '(.).', '\\1', 'gs')) AS resized_chars,
           md5(regexp_replace(text, '(.).', '\\1', 'gs')) AS resized_md5
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/resample stage over opaque media: Arrow-batched
    mapInPandas whose deterministic downsample the DuckDB oracle
    recomputes in SQL — the Python plumbing (schema, batching,
    UDF signature) is verified end-to-end, not just smoke-tested."""
    d = load_table(spark, "documents", sf_dir)
    return _media_frame(d).mapInPandas(resize_media, RESIZE_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH video AS (
      SELECT doc_id, text, greatest(len(text) // {N_FRAMES}, 1) AS stride
      FROM documents
      WHERE CAST(doc_id % 3 AS INTEGER) = 2 AND text IS NOT NULL
    ), frames AS (
      SELECT doc_id, u.k AS frame_index,
             substr(text, u.k * stride + 1, {FRAME_LEN}) AS frame
      FROM video, LATERAL (SELECT unnest(range(0, {N_FRAMES})) AS k) u
    )
    SELECT doc_id, CAST(frame_index AS INTEGER) AS frame_index,
           len(frame) AS frame_chars, md5(frame) AS frame_md5
    FROM frames WHERE frame <> ''
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads: evenly-spaced fixed-length
    frames, one output row per frame (row-expanding mapInPandas).  The
    cheap `media_type` filter runs JVM-side *before* the Python stage —
    UDFs are optimization barriers, so the pipeline orders relational
    pre-filters explicitly (SURVEY §4)."""
    d = load_table(spark, "documents", sf_dir)
    video = _media_frame(d).filter(F.col("media_type") == "video/mp4")
    return video.mapInPandas(sample_frames, FRAME_SCHEMA)


@register(
    "multimodal_feature_extract",
    oracle="""
    WITH decoded AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER)
                  WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             octet_length(encode(text)) AS n_bytes,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS checksum
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, media_type, n_bytes,
           CAST(16 + checksum % 640 AS INT) AS width,
           CAST(16 + (checksum // 640) % 480 AS INT) AS height,
           checksum
    FROM decoded
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract pipeline over binary media: mapInPandas
    with explicit output schema.  The codec is the deterministic
    md5-derived stand-in (:func:`fake_decode` — a real deployment swaps
    in PIL/libvips, nothing else changes), which both engines can
    compute, so the full Arrow plumbing is value-checked end to end."""
    d = load_table(spark, "documents", sf_dir)
    return _media_frame(d).mapInPandas(extract_features, FEATURE_SCHEMA)


ENERGY_WINDOW = 32  # bytes per analysis window


def window_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: fixed-window byte 'energy' (sum of sample
    values) per audio payload — the windowed-analysis shape of real
    audio feature extraction (RMS/VAD), vectorized per Arrow batch."""
    import numpy as np

    for pdf in batches:
        out_doc, out_idx, out_energy = [], [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            data = np.frombuffer(bytes(content), dtype=np.uint8)
            n_win = len(data) // ENERGY_WINDOW
            if n_win == 0:
                continue
            trimmed = data[: n_win * ENERGY_WINDOW]
            energies = trimmed.reshape(n_win, ENERGY_WINDOW).sum(
                axis=1, dtype=np.int64
            )
            out_doc.extend([doc_id] * n_win)
            out_idx.extend(range(n_win))
            out_energy.extend(energies.tolist())
        yield pd.DataFrame(
            {"doc_id": out_doc, "window_idx": out_idx, "energy": out_energy}
        )


@register(
    "multimodal_audio_energy",
    oracle=f"""
    -- byte-TRUE on any text: each payload byte comes from its hex pair
    -- (ord(substr(text,...)) reads CODE POINTS, which diverges from the
    -- kernel's UTF-8 bytes the moment the corpus is non-ASCII — caught
    -- by the unicode-stress sweep)
    WITH audio AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE CAST(doc_id % 3 AS INTEGER) = 1 AND text IS NOT NULL
        AND octet_length(encode(text)) >= {ENERGY_WINDOW}
    ), bytes AS (
      SELECT a.doc_id, u.i,
             ('0x' || substr(a.hx, CAST(2*u.i + 1 AS INTEGER), 2))::INTEGER
               AS val
      FROM audio a, LATERAL (
        SELECT unnest(range(0,
          (a.nbytes // {ENERGY_WINDOW}) * {ENERGY_WINDOW}
        )) AS i) u
    )
    SELECT doc_id,
           CAST(i // {ENERGY_WINDOW} AS BIGINT) AS window_idx,
           sum(val)::BIGINT AS energy
    FROM bytes
    GROUP BY doc_id, i // {ENERGY_WINDOW}
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio analysis over opaque binary payloads: per
    ``ENERGY_WINDOW``-byte window, the sample-value sum ("energy") — the
    RMS/VAD feature-extraction shape with the codec faked by reading
    the payload bytes directly (the SQL oracle reads the SAME bytes
    via hex pairs, so the value check is byte-true on any unicode).

    Scale shape: audio rows are filtered relationally BEFORE the Arrow
    stage; the worker is one vectorized reshape+sum per payload with
    bounded per-task memory; output is already (doc, window) grain — no
    further shuffle.  Real codecs slot into window_energy without
    touching the plan."""
    d = load_table(spark, "documents", sf_dir)
    media = _media_frame(d).filter(
        (F.col("media_type") == "audio/wav")
        & (F.octet_length("content") >= ENERGY_WINDOW)
    )
    return media.select("doc_id", "content").mapInPandas(
        window_energy, "doc_id long, window_idx long, energy long"
    )


REAL_ENERGY_SCHEMA = (
    "doc_id long, sample_rate int, window_idx long, energy long, "
    "decode_error string"
)
REAL_ENERGY_WINDOW = 256  # samples per analysis window


def wav_window_energy(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker over REAL WAV payloads: decode PCM samples
    (functions.wav_codec) and emit per-``REAL_ENERGY_WINDOW``-sample
    absolute-amplitude sums — the genuine RMS/VAD windowing over
    decoded audio (the byte-fake twin, window_energy, stays for the
    oracled query).  Multi-channel audio folds channels into each
    window; undecodable payloads quarantine per row."""
    import numpy as np

    from mediawiki_to_notion_spark.functions.wav_codec import decode_wav

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            try:
                rate, _ch, samples = decode_wav(bytes(content))
            except Exception as e:  # noqa: BLE001 — per-row quarantine
                rows.append((doc_id, None, None, None,
                             f"{type(e).__name__}: {e}"))
                continue
            flat = np.abs(samples.astype(np.int64)).sum(axis=1)
            n_win = len(flat) // REAL_ENERGY_WINDOW
            if n_win == 0:
                continue
            trimmed = flat[: n_win * REAL_ENERGY_WINDOW]
            energies = trimmed.reshape(n_win, REAL_ENERGY_WINDOW).sum(axis=1)
            for w, e in enumerate(energies.tolist()):
                rows.append((doc_id, rate, w, e, None))
        yield pd.DataFrame(
            rows, columns=["doc_id", "sample_rate", "window_idx", "energy",
                           "decode_error"],
        )


PHASH_HAMMING_MAX = 2
PHASH_BITS = 48  # production pHash width (r6; was a 16-bit demo width)


@register(
    "multimodal_image_phash_dedup",
    oracle=f"""
    WITH media AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 15))::BIGINT
               AS checksum
      FROM documents
    ),
    ph AS (
      SELECT doc_id,
             xor(checksum & {(1 << PHASH_BITS) - 1},
                 CASE WHEN doc_id % 2 = 1
                      THEN 1::BIGINT << CAST(doc_id % {PHASH_BITS} AS INT)
                      ELSE 0 END) AS phash
      FROM media
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.phash, b.phash)) AS hamming
      FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    """,
)
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for the image modality:
    a ``PHASH_BITS``-bit pHash per image (derived from the deterministic
    fake codec's content checksum — a real pipeline computes
    dHash/pHash from decoded pixels in the same mapInPandas stage),
    banded with the SAME pigeonhole scheme as dedup_simhash: Hamming <=
    ``PHASH_HAMMING_MAX`` implies an exact match in one of
    {PHASH_HAMMING_MAX + 1} disjoint bit bands, so candidates come
    from a band equi-join — never the all-pairs nested loop the oracle
    uses.

    Shape: the simhash band equi-join (shared helper
    hashing.hamming_band_pairs).  r6 upgraded the width from the
    16-bit demo (whose band buckets the scaling soak showed filling
    linearly with the corpus — SCALING.md) to the production 48 bits:
    bands hold 2^16 values each, so bucket occupancy stays sparse and
    candidate volume near-linear at any SF this repo can hold.  At 48
    bits genuine birthday collisions vanish on synthetic data, so the
    fixture PLANTS near-dups: adjacent docs (2k, 2k+1) share a group
    hash with one bit flipped at a doc-dependent position — every
    planted pair is Hamming-1, and a hash-green row certifies the
    pigeonhole join recovers ALL of them (full recall) at production
    width, band by band as the flip position cycles."""
    from mediawiki_to_notion_spark.functions import hashing as H

    d = load_table(spark, "documents", sf_dir)
    ph = d.select(
        "doc_id",
        H.token_hash60(F.expr("CAST(doc_id DIV 2 AS STRING)"))
        .bitwiseAND(F.lit((1 << PHASH_BITS) - 1))
        .bitwiseXOR(
            F.when(
                F.col("doc_id") % 2 == 1,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                       f"CAST(doc_id % {PHASH_BITS} AS INT))"),
            ).otherwise(F.lit(0))
        ).alias("phash"),
    )
    return H.hamming_band_pairs(
        ph, "phash", PHASH_HAMMING_MAX, n_bits=PHASH_BITS
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


@register(
    "multimodal_codec_roundtrip",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp'
                           ELSE 'jpeg_prog' END AS fmt,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(16 + doc_id % 24 AS INT) AS height,
           TRUE AS dims_match
    FROM documents
    """,
)
def multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked proof of the REAL media codecs at the driver
    gate: every document synthesizes a deterministic image whose
    dimensions derive from doc_id (w = 16 + id % 32, h = 16 + id % 24),
    encodes it with the pure-Python codec chosen by doc_id % 5
    (PNG / baseline JPEG / GIF / BMP / r5 progressive JPEG via the
    G.1.2 scan-script encoder), then decodes the produced BYTES
    through ``decode_image`` — the same dispatcher the feature-extract
    pipeline uses.  The SQL oracle predicts the decoded dimensions
    from doc_id arithmetic alone, so a hash match certifies the whole
    encode → container → parse → decode loop, not just plumbing.

    100 TB shape: one narrow Arrow-batched pass (mapInPandas), zero
    shuffles; per-row work is bounded by the small synthetic frame."""

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.bmp_codec import encode_bmp
        from mediawiki_to_notion_spark.functions.gif_codec import encode_gif
        from mediawiki_to_notion_spark.functions.jpeg_codec import (
            encode_jpeg,
            encode_jpeg_progressive,
        )
        from mediawiki_to_notion_spark.functions.png_codec import encode_png

        fmts = ("png", "jpeg", "gif", "bmp", "jpeg_prog")
        gray_pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 16 + did % 32, 16 + did % 24
                fmt = fmts[did % 5]
                grad = ((np.add.outer(np.arange(h) * 3, np.arange(w) * 7)
                         + did) % 256).astype(np.uint8)
                if fmt == "png":
                    blob = encode_png(grad, filter_type=did % 5)
                elif fmt == "jpeg":
                    blob = encode_jpeg(
                        np.stack([grad] * 3, axis=-1), quality=90,
                        subsample="420" if did % 2 else "444",
                    )
                elif fmt == "gif":
                    blob = encode_gif(grad, gray_pal,
                                      interlace=bool(did % 2))
                elif fmt == "bmp":
                    blob = encode_bmp(np.stack([grad] * 3, axis=-1))
                else:  # jpeg_prog: the r5 progressive scan script
                    blob = encode_jpeg_progressive(
                        np.stack([grad] * 3, axis=-1), quality=80,
                        subsample="420" if did % 2 else "444",
                    )
                dw, dh = decode_image(blob)
                rows.append((did, fmt, dw, dh, (dw, dh) == (w, h)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "fmt", "width", "height", "dims_match"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        roundtrip,
        "doc_id long, fmt string, width int, height int, dims_match boolean",
    )


FFT_N = 256          # samples per analysis window
FFT_RATE = 8000      # Hz
FFT_MAX_BIN = 100    # peak bins cycle 1..FFT_MAX_BIN


@register(
    "multimodal_audio_peak_bin",
    oracle=f"""
    SELECT doc_id,
           CAST(1 + doc_id % {FFT_MAX_BIN} AS INT) AS peak_bin,
           CAST(((1 + doc_id % {FFT_MAX_BIN}) * {FFT_RATE}
                  + {FFT_N} // 2) // {FFT_N} AS INT) AS peak_hz,
           TRUE AS bin_match
    FROM documents
    """,
)
def multimodal_audio_peak_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked certificate for the AUDIO path (the codec-
    roundtrip trick on WAV + spectral features): every document
    synthesizes a pure ``FFT_N``-sample sine at exactly bin
    k = 1 + doc_id % ``FFT_MAX_BIN`` of a ``FFT_N``-point rfft at
    ``FFT_RATE`` Hz, encodes it through the real WAV codec (16-bit PCM),
    decodes it back through ``decode_audio``'s wav path, and reports
    the argmax spectral bin.  The SQL oracle predicts the peak bin
    from doc_id arithmetic alone, so a hash-green driver row certifies
    encode → RIFF container → decode → windowed FFT feature
    extraction end to end — the spectral-feature pipeline (VAD,
    language/music ID front ends) a multimodal corpus runs.

    100 TB shape: one narrow Arrow-batched mapInPandas pass, zero
    shuffles; per-row work is one tiny numpy rfft."""

    def peak(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.wav_codec import (
            decode_wav,
            encode_wav,
        )

        t = np.arange(FFT_N) / FFT_RATE
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                k = 1 + did % FFT_MAX_BIN
                f = k * FFT_RATE / FFT_N  # exactly bin k: no leakage
                sig = np.round(
                    20000 * np.sin(2 * np.pi * f * t)
                ).astype(np.int16)
                blob = encode_wav(sig, sample_rate=FFT_RATE)
                _rate, _ch, samples = decode_wav(blob)
                spec = np.abs(np.fft.rfft(
                    samples[:FFT_N, 0].astype(np.float64)))
                got = int(np.argmax(spec))
                hz = (k * FFT_RATE + FFT_N // 2) // FFT_N
                rows.append((did, got, hz, got == k))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "peak_bin", "peak_hz", "bin_match"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        peak, "doc_id long, peak_bin int, peak_hz int, bin_match boolean"
    )


VIDEO_FRAME_STEP = 2  # sample every 2nd frame in the certificate


@register(
    "multimodal_video_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(16 + doc_id % 24 AS INT) AS height,
           CAST(5 + doc_id % 10 AS INT) AS fps,
           CAST(2 + doc_id % 4 AS INT) AS n_frames,
           CAST((2 + doc_id % 4 + {VIDEO_FRAME_STEP} - 1)
                // {VIDEO_FRAME_STEP} AS INT) AS n_sampled,
           TRUE AS frames_ok
    FROM documents
    """,
)
def multimodal_video_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Value-checked certificate for the VIDEO path (the codec-
    roundtrip discipline on the r5 MJPEG-AVI codec): every document
    synthesizes n = 2 + doc_id % 4 deterministic frames of
    (16 + id % 32) x (16 + id % 24), encodes them as a single-stream
    MJPEG AVI at fps = 5 + id % 10, then decodes through
    ``decode_video`` with frame_step=``VIDEO_FRAME_STEP`` — sampling
    every other frame WITHOUT entropy-decoding the skipped ones.  The
    SQL oracle predicts width/height/fps/frame counts from doc_id
    arithmetic alone, so a hash-green driver row certifies
    encode → RIFF/AVI container → header parse → per-frame JPEG
    decode → frame sampling end to end.

    100 TB shape: one narrow Arrow-batched mapInPandas pass, zero
    shuffles; per-row work bounded by the tiny synthetic clip, and
    real corpora run the header-only ``probe_avi`` first."""

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.avi_codec import (
            encode_avi_mjpeg,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 16 + did % 32, 16 + did % 24
                n, fps = 2 + did % 4, 5 + did % 10
                frames = [
                    np.stack(
                        [((np.add.outer(np.arange(h) * 3,
                                        np.arange(w) * 7) + did + k) % 256)
                         .astype(np.uint8)] * 3, axis=-1,
                    )
                    for k in range(n)
                ]
                blob = encode_avi_mjpeg(frames, fps=fps, quality=90)
                # strict: OUR encoder wrote the header, so any header/
                # movi disagreement is a real bug, not a stream-copy
                # artifact (the tolerant default is for wild files).
                dw, dh, dfps, dn, kept = decode_video(
                    blob, frame_step=VIDEO_FRAME_STEP,
                    strict_frame_count=True)
                ok = (all(f.shape == (h, w, 3) for f in kept)
                      and (dw, dh, dfps, dn) == (w, h, fps, n))
                rows.append((did, dw, dh, dfps, dn, len(kept), ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "fps",
                         "n_frames", "n_sampled", "frames_ok"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        roundtrip,
        "doc_id long, width int, height int, fps int, n_frames int, "
        "n_sampled int, frames_ok boolean",
    )


@register(
    "multimodal_audio_g711_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law,
           CAST(1 + doc_id % {FFT_MAX_BIN} AS INT) AS peak_bin,
           TRUE AS bin_match
    FROM documents
    """,
)
def multimodal_audio_g711_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Value-checked certificate for the COMPRESSED-audio path (the
    peak-bin trick through a lossy codec): every document synthesizes
    the same oracle-predictable pure sine as
    ``multimodal_audio_peak_bin``, companded through G.711 μ-law
    (even doc_id) or A-law (odd) in a Sun AU container, decoded back
    through ``decode_audio``'s AU path, and the rfft argmax must
    still land on the predicted bin — companding noise is broadband
    (~38 dB SQNR), so a surviving argmax certifies the quantizer,
    container, and spectral path together.  A hash-green driver row
    therefore certifies lossy encode → AU container → decode → FFT
    end to end.

    100 TB shape: one narrow Arrow-batched mapInPandas pass, zero
    shuffles; per-row work is one tiny companding table application
    plus a ``FFT_N``-point rfft."""

    def peak(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.au_codec import (
            decode_au,
            encode_au,
        )

        t = np.arange(FFT_N) / FFT_RATE
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                k = 1 + did % FFT_MAX_BIN
                law = "mulaw" if did % 2 == 0 else "alaw"
                f = k * FFT_RATE / FFT_N  # exactly bin k: no leakage
                sig = np.round(
                    20000 * np.sin(2 * np.pi * f * t)
                ).astype(np.int16)
                blob = encode_au(sig, sample_rate=FFT_RATE, encoding=law)
                _rate, _ch, samples = decode_au(blob)
                spec = np.abs(np.fft.rfft(
                    samples[:FFT_N, 0].astype(np.float64)))
                got = int(np.argmax(spec))
                rows.append((did, law, got, got == k))
            yield pd.DataFrame(
                rows, columns=["doc_id", "law", "peak_bin", "bin_match"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        peak, "doc_id long, law string, peak_bin int, bin_match boolean"
    )


@register(
    "multimodal_audio_flac_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST(256 << (doc_id % 3) AS INT) AS block_size,
           CAST(1 + doc_id % {FFT_MAX_BIN} AS INT) AS peak_bin,
           CAST({4 * FFT_N} AS INT) AS n_samples,
           TRUE AS bit_exact
    FROM documents
    """,
)
def multimodal_audio_flac_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Value-checked certificate for the LOSSLESS compressed-audio
    path (r6 FLAC codec — VERDICT r5 item 5): every document
    synthesizes the oracle-predictable pure sine of
    ``multimodal_audio_peak_bin`` ({4 * FFT_N} samples so several
    frames exercise the Rice/fixed-predictor framing at a
    doc_id-rotated block size), encodes it as FLAC, decodes through
    ``decode_flac``, and asserts BIT-EXACT equality with the input —
    the property lossless coding guarantees and lossy G.711 cannot —
    plus the rfft peak bin on the decoded samples.  A hash-green
    driver row certifies Rice coding, fixed predictors, CRC framing,
    STREAMINFO, and the spectral path end to end.

    100 TB shape: one narrow Arrow-batched mapInPandas pass, zero
    shuffles; real corpora run ``probe_flac`` (header-only) first and
    quarantine per row."""

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.flac_codec import (
            decode_flac,
            encode_flac,
        )

        n_total = 4 * FFT_N
        t = np.arange(n_total) / FFT_RATE
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                k = 1 + did % FFT_MAX_BIN
                block = 256 << (did % 3)
                f = k * FFT_RATE / FFT_N  # exactly bin k per FFT_N window
                sig = np.round(
                    20000 * np.sin(2 * np.pi * f * t)
                ).astype(np.int16)
                blob = encode_flac(sig, sample_rate=FFT_RATE,
                                   block_size=block)
                _rate, _ch, _bps, out = decode_flac(blob)
                exact = bool(np.array_equal(out[:, 0], sig))
                spec = np.abs(np.fft.rfft(
                    out[:FFT_N, 0].astype(np.float64)))
                rows.append((did, block, int(np.argmax(spec)),
                             out.shape[0], exact))
            yield pd.DataFrame(
                rows, columns=["doc_id", "block_size", "peak_bin",
                               "n_samples", "bit_exact"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        roundtrip,
        "doc_id long, block_size int, peak_bin int, n_samples int, "
        "bit_exact boolean",
    )


@register(
    "multimodal_image_webp_roundtrip",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'plain'
                           WHEN 1 THEN 'subtract_green'
                           WHEN 2 THEN 'palette'
                           ELSE 'predictor' END AS variant,
           CAST(8 + doc_id % 24 AS INT) AS width,
           CAST(8 + doc_id % 16 AS INT) AS height,
           TRUE AS pixels_exact
    FROM documents
    """,
)
def multimodal_image_webp_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Value-checked certificate for the r6 lossless-WebP (VP8L)
    codec: every document synthesizes a deterministic image of
    (8 + id % 24) x (8 + id % 16) — a gradient with constant-color
    run bands so the dist=1 LZ77 layer actually fires — encodes it
    with the variant chosen by doc_id % 4 (plain / SUBTRACT_GREEN /
    COLOR_INDEXING with 4-bit packed indices / PREDICTOR with a
    doc_id-rotated mode 0-13), decodes through the
    same ``decode_image`` dispatcher the feature-extract pipeline
    uses, and asserts BIT-EXACT pixel equality (the lossless
    guarantee).  The SQL oracle predicts variant and dimensions from
    doc_id arithmetic alone, so a hash-green driver row certifies
    prefix coding, the LZ77 run layer, three of the four
    transforms (incl. every predictor mode across any 14
    consecutive doc_ids), and the RIFF container end to end.
    (Decoder-only paths — the color transform, color cache, mapped
    short distances, meta groups — are pinned by hand-built
    streams in tests/test_webp_codec.py.)

    100 TB shape: one narrow Arrow-batched mapInPandas pass, zero
    shuffles; real corpora run the header-only ``probe_webp`` first
    and quarantine per row."""

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mediawiki_to_notion_spark.functions.webp_codec import (
            decode_webp,
            encode_webp,
            probe_webp,
        )

        variants = ("plain", "subtract_green", "palette", "predictor")
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 8 + did % 24, 8 + did % 16
                variant = variants[did % 4]
                if variant == "palette":
                    # <= 13 colors -> 4-bit packed indices
                    img = (((np.add.outer(np.arange(h), np.arange(w) // 3)
                             + did) % 13) * 19).astype(np.uint8)
                    img = np.stack([img] * 3, axis=-1)
                    blob = encode_webp(img, palette=True)
                else:
                    grad = ((np.add.outer(np.arange(h) * 5,
                                          np.arange(w) // 4 * 11)
                             + did) % 256).astype(np.uint8)
                    img = np.stack([grad, grad[::-1, :], grad[:, ::-1]],
                                   axis=-1)
                    blob = encode_webp(
                        img,
                        subtract_green=(variant == "subtract_green"),
                        # doc_id-rotated predictor mode 0..13
                        predictor=(did % 14 if variant == "predictor"
                                   else None))
                dw, dh = decode_image(blob)
                _, _, px = decode_webp(blob)
                ok = ((dw, dh) == (w, h)
                      and probe_webp(blob) == (w, h)
                      and bool((px[..., :3] == img).all())
                      and bool((px[..., 3] == 255).all()))
                rows.append((did, variant, dw, dh, ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "variant", "width", "height",
                         "pixels_exact"],
            )

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    return d.mapInPandas(
        roundtrip,
        "doc_id long, variant string, width int, height int, "
        "pixels_exact boolean",
    )
