"""Multimodal column plumbing (north star: image/audio/video as opaque
binary columns with typed metadata).

The container forbids installing codec libraries, so the ORACLED
queries (q70/q71/q133) run a deterministic fake that derives metadata
arithmetically from payload bytes — verifying the full engine plumbing
(BinaryType columns, Arrow-batched mapInPandas, typed schemas) in plain
SQL.  The REAL branches are no longer stubs: an in-container codec
family under ``functions/`` covers PNG + baseline JPEG pixels, GIF /
TIFF / WebP structure (real multi-frame and multi-page n_frames), Y4M
video frames, and WAV audio — feeding real perceptual hashing
(``image_near_dup``), real frame checksums/phashes, and real audio
quality features (``audio_features``).  Only work that genuinely needs
external codecs still raises: compressed audio/video -> ffmpeg,
GIF/TIFF/WebP PIXELS and other formats -> Pillow (import-guarded
where present).

At 100 TB: payloads live in parquet binary columns (or object-store URIs
resolved inside mapInPandas); the decode stage is embarrassingly parallel,
no shuffle until the metadata aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, load_spread
from ..queries_registry import registrar
from .common import sql_davg

QUERIES, ORACLES, query = registrar()

DECODE_SCHEMA = ("doc_id bigint, source string, n_bytes bigint, "
                 "width int, height int, n_frames int")


def decode_image_batch(pdf: pd.DataFrame, real: bool = False) -> pd.DataFrame:
    """Decode a batch of binary payloads to image metadata.

    real=True decodes actual image bytes: PNG payloads through the
    pure-stdlib codec in ``functions/png.py``, baseline JPEG payloads
    through ``functions/jpeg.py``, GIF structure (incl. real animated
    n_frames) through ``functions/gif.py`` — all three run IN-CONTAINER
    with no install — TIFF (IFD walk, real multi-page
    n_frames) and WebP (VP8/VP8L/VP8X headers, real animation frames)
    through ``functions/tiff_webp.py``, anything else through Pillow
    when importable (import-guarded; e.g. BMP stays env-gated where
    PIL is absent — and PIXEL decode for TIFF/WebP/GIF always needs
    real codec libraries).
    Both paths return the SAME typed frame (DECODE_SCHEMA dtypes);
    tests/test_multimodal_real pins that schema equality, so swapping
    fake -> real cannot change the engine surface.
    """
    if real:
        from ..functions import gif as _gif
        from ..functions import jpeg as _jpeg
        from ..functions import png as _png
        from ..functions import tiff_webp as _tw

        try:
            import io

            from PIL import Image
        except ImportError:
            Image = None
        recs = []
        for doc_id, source, payload in zip(
                pdf["doc_id"], pdf["source"], pdf["payload"]):
            payload = bytes(payload)
            if _png.is_png(payload):
                w, h, _nch = _png.probe(payload)
                n_frames = 1
            elif _jpeg.is_jpeg(payload):
                w, h, _nch = _jpeg.probe(payload)
                n_frames = 1
            elif _gif.is_gif(payload):
                # block-structure parse: n_frames > 1 is REAL here
                w, h, n_frames = _gif.probe(payload)
            elif _tw.is_tiff(payload):
                w, h, n_frames = _tw.probe_tiff(payload)
            elif _tw.is_webp(payload):
                w, h, n_frames = _tw.probe_webp(payload)
            elif Image is not None:
                with Image.open(io.BytesIO(payload)) as img:
                    w, h = img.size
                    n_frames = int(getattr(img, "n_frames", 1))
            else:
                raise NotImplementedError(
                    "real decode of this format requires Pillow, not "
                    "present in this container — PNG/JPEG/GIF/TIFF/WebP "
                    "are handled by the stdlib codecs under functions/; "
                    "the "
                    "deterministic fake (real=False) covers the rest; "
                    "tests/test_multimodal_real.py runs the PIL branch "
                    "wherever PIL is importable")
            recs.append((int(doc_id), source, len(payload), w, h, n_frames))
        out = pd.DataFrame(
            recs, columns=["doc_id", "source", "n_bytes", "width",
                           "height", "n_frames"])
        return out.astype({"doc_id": "int64", "n_bytes": "int64",
                           "width": "int32", "height": "int32",
                           "n_frames": "int32"})
    n = pdf["payload"].map(len).astype("int64")
    return pd.DataFrame({
        "doc_id": pdf["doc_id"].astype("int64"),
        "source": pdf["source"],
        "n_bytes": n,
        "width": (n % 640 + 16).astype("int32"),
        "height": ((n * 7) % 480 + 16).astype("int32"),
        "n_frames": (n % 30 + 1).astype("int32"),
    })


def decode_images(df: DataFrame, real: bool = False) -> DataFrame:
    """mapInPandas decode operator: (doc_id, source, payload binary) ->
    typed metadata rows.  One output row per input row; batches stream
    through Arrow.  ``real`` selects the Pillow decode branch (gated on
    PIL being importable on the executors)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_image_batch(pdf, real=real)

    return df.mapInPandas(run, schema=DECODE_SCHEMA)


# --------------------------------------------------------------------------
# q70 — multimodal metadata pipeline: binary payload column -> mapInPandas
# decode -> per-source aggregate.  The fake decode is arithmetic in the
# payload length, so the oracle verifies the whole pipeline (binary
# plumbing, UDF batch shape, aggregation) in plain SQL.
# --------------------------------------------------------------------------
@query(
    "q70_multimodal_meta",
    f"""
    WITH meta AS (
        -- strlen = BYTE length in DuckDB (q71 note): matches the Spark
        -- side's utf-8 payload length on any input, ASCII or not
        SELECT doc_id, source,
               strlen(text) AS n_bytes,
               strlen(text) % 640 + 16 AS width,
               (strlen(text) * 7) % 480 + 16 AS height,
               strlen(text) % 30 + 1 AS n_frames
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           {sql_davg('width * 1.0', 'avg_width')},
           {sql_davg('height * 1.0', 'avg_height')},
           CAST(MAX(n_frames) AS INTEGER) AS max_frames
    FROM meta GROUP BY source
    """,
)
def q70_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # documents.text is ASCII -> utf-8 byte length == char length; the
    # payload stands in for image bytes
    payloads = d.select(
        "doc_id", "source", F.encode("text", "utf-8").alias("payload")
    )
    meta = decode_images(payloads)
    from .common import davg

    return meta.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        davg(F.col("width").cast("double"), "avg_width"),
        davg(F.col("height").cast("double"), "avg_height"),
        F.max("n_frames").cast("int").alias("max_frames"),
    )


# --------------------------------------------------------------------------
# q71 — frame sampling + resize: the 1-to-N half of the multimodal
# surface (video payload -> every stride-th frame as its own row, with
# aspect-preserving resize dims for a 224-box model input).  The frame
# extractor is the same stub pattern as decode_image_batch: real codec
# raises, the deterministic fake is arithmetic in payload length and
# frame index, so the oracle verifies the full 1-to-N plumbing row by
# row.  Scale shape: pure mapInPandas flatMap, no shuffle; output rows
# are bounded by n_frames/stride per asset.
# --------------------------------------------------------------------------
FRAME_SCHEMA = ("doc_id bigint, frame_idx int, frame_checksum bigint, "
                "resized_w int, resized_h int")
_FRAME_STRIDE = 5
_RESIZE_BOX = 224


def sample_frames_batch(pdf: pd.DataFrame, stride: int = _FRAME_STRIDE,
                        real: bool = False) -> pd.DataFrame:
    """Extract every stride-th frame of each payload with resize dims.

    real=True extracts REAL frames from uncompressed Y4M payloads
    (``functions/y4m.py``, ffmpeg's own rawvideo interchange format —
    runs in-container since the round-7 continuation); frame_checksum
    is crc32 of the sampled frame's plane bytes.  Compressed containers
    (mp4/H.264 etc.) still raise — those genuinely need ffmpeg; wire it
    behind the same is_y4m dispatch where present.
    """
    if real:
        import zlib

        from ..functions import y4m as _y4m

        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = bytes(payload)
            if not _y4m.is_y4m(payload):
                raise NotImplementedError(
                    "real frame extraction from compressed video requires "
                    "ffmpeg, not present in this container — uncompressed "
                    "Y4M decodes via functions/y4m.py; the deterministic "
                    "fake (real=False) covers the rest")
            for fi, w, h, planes in _y4m.iter_frames(payload):
                if fi % stride:
                    continue
                if w >= h:
                    rw, rh = _RESIZE_BOX, (h * _RESIZE_BOX) // w
                else:
                    rw, rh = (w * _RESIZE_BOX) // h, _RESIZE_BOX
                out.append((int(doc_id), fi, zlib.crc32(planes), rw, rh))
        return pd.DataFrame(out, columns=[
            "doc_id", "frame_idx", "frame_checksum", "resized_w",
            "resized_h"]).astype({
                "doc_id": "int64", "frame_idx": "int32",
                "frame_checksum": "int64", "resized_w": "int32",
                "resized_h": "int32"})
    n = pdf["payload"].map(len).astype("int64")
    meta = pd.DataFrame({
        "doc_id": pdf["doc_id"].astype("int64"),
        "n_bytes": n,
        "n_frames": (n % 30 + 1).astype("int64"),
        "width": (n % 640 + 16).astype("int64"),
        "height": ((n * 7) % 480 + 16).astype("int64"),
    })
    out = []
    for r in meta.itertuples(index=False):
        for fi in range(0, r.n_frames, stride):
            if r.width >= r.height:
                rw, rh = _RESIZE_BOX, (r.height * _RESIZE_BOX) // r.width
            else:
                rw, rh = (r.width * _RESIZE_BOX) // r.height, _RESIZE_BOX
            out.append((r.doc_id, fi,
                        (r.n_bytes * 131 + fi * 17) % 1000003, rw, rh))
    return pd.DataFrame(out, columns=["doc_id", "frame_idx",
                                      "frame_checksum", "resized_w",
                                      "resized_h"])


def sample_frames(df: DataFrame) -> DataFrame:
    """mapInPandas 1-to-N frame sampler: (doc_id, payload binary) ->
    one row per sampled frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield sample_frames_batch(pdf)

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


PHASH_SCHEMA = "doc_id bigint, frame_idx int, phash bigint"


def frame_phashes_batch(pdf: pd.DataFrame,
                        stride: int = _FRAME_STRIDE) -> pd.DataFrame:
    """REAL perceptual hashes of every stride-th Y4M frame's luma plane.

    The similarity-preserving upgrade of sample_frames_batch(real=True)'s
    exact crc32: near-identical frames land within a few Hamming bits
    (functions/phash.py), so q133's shared-frame join can dedup
    re-encoded video, not just byte-identical frames.  Y4M only (the
    in-container real path); the luma plane is the first w*h bytes of
    every frame in all supported chroma layouts.
    """
    from ..functions import phash as _phash
    from ..functions import y4m as _y4m

    out = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = bytes(payload)
        if not _y4m.is_y4m(payload):
            raise NotImplementedError(
                "real perceptual hashing needs decodable frames — Y4M "
                "in-container; compressed video requires ffmpeg")
        for fi, w, h, planes in _y4m.iter_frames(payload):
            if fi % stride:
                continue
            # signed 64-bit for Spark's bigint
            ph = _phash.phash64(planes[:w * h], w, h)
            out.append((int(doc_id), fi,
                        ph - (1 << 64) if ph >= (1 << 63) else ph))
    return pd.DataFrame(out, columns=["doc_id", "frame_idx", "phash"]) \
        .astype({"doc_id": "int64", "frame_idx": "int32",
                 "phash": "int64"})


def frame_phashes(df: DataFrame) -> DataFrame:
    """mapInPandas twin of sample_frames for real Y4M perceptual hashes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield frame_phashes_batch(pdf)

    return df.mapInPandas(run, schema=PHASH_SCHEMA)


@query(
    "q71_frame_sample",
    f"""
    WITH meta AS (
        -- strlen = BYTE length in DuckDB, matching the Spark side's
        -- length(encode(text,'utf-8')); length(text) would count
        -- characters and diverge on any non-ASCII document
        SELECT doc_id,
               strlen(text) AS n_bytes,
               strlen(text) % 30 + 1 AS n_frames,
               strlen(text) % 640 + 16 AS width,
               (strlen(text) * 7) % 480 + 16 AS height
        FROM documents
    ),
    frames AS (
        SELECT doc_id, n_bytes, width, height,
               CAST(unnest(range(0, n_frames, {_FRAME_STRIDE})) AS INTEGER)
                   AS frame_idx
        FROM meta
    )
    SELECT doc_id, frame_idx,
           (n_bytes * 131 + frame_idx * 17) % 1000003 AS frame_checksum,
           CAST(CASE WHEN width >= height THEN {_RESIZE_BOX}
                     ELSE (width * {_RESIZE_BOX}) // height END
                AS INTEGER) AS resized_w,
           CAST(CASE WHEN width >= height
                     THEN (height * {_RESIZE_BOX}) // width
                     ELSE {_RESIZE_BOX} END AS INTEGER) AS resized_h
    FROM frames
    """,
)
def q71_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return sample_frames(payloads)


# --------------------------------------------------------------------------
# q133 — video near-dup via shared frame fingerprints: assets whose
# sampled frames collide on >= 2 checksums are duplicate candidates —
# the standard video-dedup recipe (per-frame perceptual hash -> inverted
# index -> pairs by shared-frame count).  The plumbing is the q76
# df-capped inverted index applied to the q71 frame stream: frames
# explode (mapInPandas, no shuffle), the index groups by checksum with a
# df cap bounding every block, pairs aggregate by shared-frame count.
#
# The fake codec makes checksums arithmetic in (payload length, frame
# idx) — equal-length assets share frames — which degenerates the
# SEMANTICS but exercises the full production PLUMBING, and makes the
# operator fully oracled; a real perceptual hash drops into
# sample_frames_batch behind the same gate as the Pillow decode.
# --------------------------------------------------------------------------
_FRAME_DF_CAP = 20   # max assets per checksum block (the q76 knob)
_MIN_SHARED = 2


def _dfcap_shared_key_pairs(keyed: DataFrame, key: str, df_cap: int,
                            min_shared: int, out_col: str) -> DataFrame:
    """(doc_id, key) -> (a_id, b_id, out_col) pairs sharing >= min_shared
    distinct keys, through the df-capped inverted index (keys held by
    > df_cap docs are dropped — the q76 block-size bound).

    The input relation is materialized ONCE via an eager localCheckpoint
    (r16 optimization): the index needs it three ways (the df counts,
    the probe side, and both halves of the self-join), and without the
    checkpoint each consumer re-evaluated the whole upstream pipeline —
    for the multimodal family that upstream is the mapInPandas DECODE,
    so one logical decode pass executed 4x per query (guide §8: decide
    on the small proxy, decode once).  The (doc_id, key) table is
    frames-sized — orders smaller than payload bytes — so pinning it is
    bounded; values are unchanged (same relation, one evaluation)."""
    keyed = keyed.localCheckpoint(eager=True)
    counts = keyed.groupBy(key).agg(F.count(F.lit(1)).alias("n_docs"))
    keep = (keyed.join(counts.filter(F.col("n_docs") <= df_cap), key)
            .select("doc_id", key))
    a, b = keep.alias("a"), keep.alias("b")
    return (a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("a_id"),
                     F.col("b.doc_id").alias("b_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias(out_col))
            .filter(F.col(out_col) >= min_shared))


@query(
    "q133_video_neardup",
    f"""
    WITH frames AS (
        SELECT doc_id,
               (strlen(text) * 131 + fi * 17) % 1000003 AS frame_checksum
        FROM documents,
             UNNEST(generate_series(0, strlen(text) % 30,
                                    {_FRAME_STRIDE})) AS t(fi)
        WHERE fi < strlen(text) % 30 + 1
    ),
    df AS (
        SELECT frame_checksum, COUNT(DISTINCT doc_id) AS n_docs
        FROM frames GROUP BY frame_checksum
    ),
    keep AS (
        SELECT DISTINCT f.doc_id, f.frame_checksum
        FROM frames f JOIN df ON f.frame_checksum = df.frame_checksum
        WHERE df.n_docs <= {_FRAME_DF_CAP}
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           COUNT(*) AS n_shared_frames
    FROM keep a JOIN keep b
      ON a.frame_checksum = b.frame_checksum AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_MIN_SHARED}
    """,
)
def q133_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id",
                        F.encode("text", "utf-8").alias("payload"))
    frames = (sample_frames(payloads)
              .select("doc_id", "frame_checksum").distinct())
    return _dfcap_shared_key_pairs(frames, "frame_checksum", _FRAME_DF_CAP,
                                   _MIN_SHARED, "n_shared_frames")


# --------------------------------------------------------------------------
# Real image near-dup: the end-to-end composition of the in-container
# codec family — decode (PNG/JPEG pixels), luma pHash, then q153's
# banded Hamming self-join on the REAL signatures.  This is the fake
# frame-checksum pipeline's production twin: re-encoded / lightly-noised
# images land within a few Hamming bits (tests/test_phash.py), so the
# pair set survives transformations exact hashes cannot.
#
# Scale shape (identical to q153): signatures are doc-sized; the
# pigeonhole band join — 4x16-bit words, so any pair with Hamming
# distance <= 3 < 4 bands shares at least one exact word — is a hash
# equi-join on (band, word) with no quadratic stage; exact bit_count
# verification touches candidates only.
# --------------------------------------------------------------------------
PHASH_IMG_SCHEMA = "doc_id bigint, phash bigint"
_PH_WORDS = 4  # 4 x 16-bit bands over the 64-bit hash
_PH_MAX_DEFAULT = 3  # < _PH_WORDS so the pigeonhole guarantee holds


def image_phashes(df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, phash) via REAL pixel decode.

    PNG and baseline JPEG payloads decode in-container; RGB collapses to
    BT.601 luma (the JPEG encoder's own Y) before hashing so the same
    image stored in either format hashes alike.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import jpeg as _jpeg
        from ..functions import phash as _phash
        from ..functions import png as _png

        for pdf in batches:
            recs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if _png.is_png(payload):
                    w, h, ch, px = _png.decode(payload)
                elif _jpeg.is_jpeg(payload):
                    w, h, ch, px = _jpeg.decode(payload)
                else:
                    raise NotImplementedError(
                        "image_phashes decodes PNG/baseline-JPEG "
                        "in-container; other formats need Pillow")
                arr = np.frombuffer(bytes(px), dtype=np.uint8)
                if ch >= 3:  # RGB / RGBA -> BT.601 luma
                    arr = arr.reshape(h, w, ch)
                    gray = np.clip(np.round(
                        0.299 * arr[..., 0] + 0.587 * arr[..., 1]
                        + 0.114 * arr[..., 2]), 0, 255).astype(np.uint8)
                elif ch == 2:  # gray + alpha
                    gray = arr.reshape(h, w, 2)[..., 0]
                else:
                    gray = arr.reshape(h, w)
                ph = _phash.phash64(gray.tobytes(), w, h)
                recs.append((int(doc_id),
                             ph - (1 << 64) if ph >= (1 << 63) else ph))
            yield pd.DataFrame(recs, columns=["doc_id", "phash"]).astype(
                {"doc_id": "int64", "phash": "int64"})

    return df.mapInPandas(run, schema=PHASH_IMG_SCHEMA)


def image_near_dup(df: DataFrame,
                   max_hamming: int = _PH_MAX_DEFAULT) -> DataFrame:
    """(doc_id, payload) -> (a_id, b_id, hamming) confirmed near-dup
    image pairs.  max_hamming must stay < 4 for the 4-band pigeonhole
    guarantee; raise the band count before raising the radius."""
    if not 0 <= max_hamming < _PH_WORDS:
        raise ValueError(
            f"max_hamming must be in [0, {_PH_WORDS}) for the "
            f"{_PH_WORDS}-band pigeonhole guarantee")
    # pin the doc-sized signature frame: the band self-join consumes it
    # twice, and its upstream is the Python-side pixel decode — the
    # expensive per-row transform the q47/q87 policy says to run once
    sig = image_phashes(df).select(
        "doc_id",
        *[F.expr(f"(phash >> {16 * w}) & 65535").alias(f"w{w}")
          for w in range(_PH_WORDS)]).localCheckpoint()
    bands = (sig.withColumn("band", F.explode(
                 F.expr(f"sequence(0, {_PH_WORDS - 1})")))
             .withColumn("bv", F.expr(
                 "CASE band WHEN 0 THEN w0 WHEN 1 THEN w1"
                 " WHEN 2 THEN w2 ELSE w3 END")))
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bv",
                     *[F.col(f"w{w}").alias(f"aw{w}")
                       for w in range(_PH_WORDS)])
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "bv",
                     *[F.col(f"w{w}").alias(f"bw{w}")
                       for w in range(_PH_WORDS)])
    ham = " + ".join(f"bit_count(aw{w} ^ bw{w})"
                     for w in range(_PH_WORDS))
    return (a.join(b, ["band", "bv"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("hamming", F.expr(ham))
            .filter(F.col("hamming") <= max_hamming)
            .select("a_id", "b_id",
                    F.col("hamming").cast("int").alias("hamming"))
            .distinct())


# --------------------------------------------------------------------------
# Real audio features: the audio member of the multimodal surface.  WAV
# payloads decode in-container (functions/wav.py); the features are the
# standard audio-curation signals a training pipeline filters on —
# duration, RMS level (dBFS), peak, zero-crossing rate, clipping ratio,
# silence ratio.  Compressed audio raises toward the ffmpeg gate like
# compressed video.  mapInPandas, one row per asset, no shuffle.
# --------------------------------------------------------------------------
AUDIO_SCHEMA = ("doc_id bigint, sample_rate int, n_channels int, "
                "duration_s double, rms_dbfs double, peak double, "
                "zero_cross_rate double, clip_ratio double, "
                "silence_ratio double")
_CLIP_T = 0.999
_SILENCE_T = 1e-3


def audio_features_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    from ..functions import wav as _wav

    recs = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = bytes(payload)
        if not _wav.is_wav(payload):
            raise NotImplementedError(
                "real audio decode of compressed formats requires ffmpeg "
                "— WAV (PCM / IEEE float) decodes via functions/wav.py")
        rate, x = _wav.decode(payload)
        mono = x.mean(axis=1)
        n = len(mono)
        rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
        rms_dbfs = 20.0 * np.log10(rms) if rms > 0 else -120.0
        zc = (float(np.count_nonzero(np.signbit(mono[1:])
                                     != np.signbit(mono[:-1]))) / (n - 1)
              if n > 1 else 0.0)
        recs.append((
            int(doc_id), int(rate), int(x.shape[1]),
            n / rate if rate else 0.0,
            round(max(rms_dbfs, -120.0), 6),
            round(float(np.abs(x).max()) if n else 0.0, 6),
            round(zc, 6),
            round(float(np.mean(np.abs(x) >= _CLIP_T)) if n else 0.0, 6),
            round(float(np.mean(np.abs(mono) < _SILENCE_T)) if n else 0.0,
                  6)))
    return pd.DataFrame(recs, columns=[
        "doc_id", "sample_rate", "n_channels", "duration_s", "rms_dbfs",
        "peak", "zero_cross_rate", "clip_ratio", "silence_ratio"]).astype(
            {"doc_id": "int64", "sample_rate": "int32",
             "n_channels": "int32"})


def audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas audio feature extractor: (doc_id, payload binary) ->
    one typed quality-signal row per asset."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_features_batch(pdf)

    return df.mapInPandas(run, schema=AUDIO_SCHEMA)


# --------------------------------------------------------------------------
# q227 — audio near-dup (round 16; VERDICT r15 task 7): multimodal
# parity with q133's video path, over the in-container WAV decoder.
#
# REAL path (audio_fingerprints / audio_near_dup): frame the decoded
# PCM (1024-sample windows, 512 hop), 17 log-spaced FFT band energies
# per frame, and the Haitsma-Kalker double-delta sign bits — bit m of
# frame n is 1 iff (E[n,m]-E[n,m+1]) - (E[n-1,m]-E[n-1,m+1]) > 0 — a
# 16-bit sub-fingerprint per frame that survives gain change and light
# noise (tests plant exactly those transforms).  All in-container: the
# WAV codec is functions/wav.py and the FFT is numpy's; compressed
# audio raises toward the ffmpeg gate like every compressed format.
#
# ORACLED path (q227): the deterministic fake twin over the documents
# table — frames are stride-16 char windows of the text payload and the
# "band energy" is the window's ascii sum mod a prime.  Unlike q133's
# length-only fake this is CONTENT-derived (shared text windows
# collide, disjoint text does not), and it exercises the identical
# production plumbing: frame explode, distinct sub-fingerprints,
# q76-style df-capped inverted index, pairs by shared-fingerprint
# count.  Both engines compute the fingerprint with the same integer
# arithmetic, so the oracle is exact.
#
# Scale shape (identical to q133): fingerprints are frames-sized (no
# shuffle until the index groupBy), every index block is bounded by the
# df cap, and the pair join is an equi-join on fingerprint keys — no
# quadratic stage.
# --------------------------------------------------------------------------
_AF_W = 32        # fake-path frame width (chars)
_AF_STRIDE = 16   # fake-path hop
_AF_P = 1_000_003
_AF_DF_CAP = 20   # max assets per fingerprint block (the q76 knob)
_AF_MIN_SHARED = 2

AUDIO_FP_SCHEMA = "doc_id bigint, frame_idx int, fp int"
_AF_FRAME = 1024  # real-path samples per frame
_AF_HOP = 512
_AF_BANDS = 17    # 17 band energies -> 16 Haitsma-Kalker bits


def audio_fingerprints_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, payload WAV bytes) -> one 16-bit Haitsma-Kalker
    sub-fingerprint row per PCM frame (REAL path, in-container)."""
    import numpy as np

    from ..functions import wav as _wav

    recs = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = bytes(payload)
        if not _wav.is_wav(payload):
            raise NotImplementedError(
                "real audio decode of compressed formats requires ffmpeg "
                "— WAV (PCM / IEEE float) decodes via functions/wav.py")
        rate, x = _wav.decode(payload)
        mono = x.mean(axis=1)
        n_frames = 1 + max(0, (len(mono) - _AF_FRAME) // _AF_HOP)
        if n_frames < 2:
            continue  # double-delta needs two frames
        # log-spaced band edges over 300 Hz .. min(3000, rate/2)
        hi = min(3000.0, rate / 2.0)
        edges = np.exp(np.linspace(np.log(300.0), np.log(hi),
                                   _AF_BANDS + 1))
        freqs = np.fft.rfftfreq(_AF_FRAME, d=1.0 / rate)
        band_of = np.searchsorted(edges, freqs, side="right") - 1
        win = np.hanning(_AF_FRAME)
        prev = None
        for f in range(n_frames):
            seg = mono[f * _AF_HOP:f * _AF_HOP + _AF_FRAME]
            mag = np.abs(np.fft.rfft(seg * win)) ** 2
            e = np.zeros(_AF_BANDS)
            for b in range(_AF_BANDS):
                m = band_of == b
                if m.any():
                    e[b] = mag[m].sum()
            if prev is not None:
                d = (e[:-1] - e[1:]) - (prev[:-1] - prev[1:])
                bits = (d > 0).astype(np.int64)
                fp = int((bits << np.arange(_AF_BANDS - 1)).sum())
                recs.append((int(doc_id), f, fp))
            prev = e
    return pd.DataFrame(recs, columns=["doc_id", "frame_idx", "fp"]) \
        .astype({"doc_id": "int64", "frame_idx": "int32", "fp": "int32"})


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """mapInPandas: (doc_id, payload WAV binary) -> per-frame 16-bit
    sub-fingerprints.  Embarrassingly parallel; no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_fingerprints_batch(pdf)

    return df.mapInPandas(run, schema=AUDIO_FP_SCHEMA)


def audio_near_dup(df: DataFrame,
                   min_shared: int = _AF_MIN_SHARED,
                   df_cap: int = _AF_DF_CAP) -> DataFrame:
    """(doc_id, payload WAV binary) -> (a_id, b_id, n_shared_fp) REAL
    audio near-dup pairs: assets sharing >= min_shared distinct
    sub-fingerprints, via the df-capped inverted index (boilerplate
    fingerprints occurring in > df_cap assets are dropped — the q76
    block-size bound, which is also what keeps the pair join linear)."""
    fps = (audio_fingerprints(df)
           .select("doc_id", "fp").distinct())
    return _dfcap_shared_key_pairs(fps, "fp", df_cap, min_shared,
                                   "n_shared_fp")


_Q227_FP_SQL = (f"list_sum(list_transform(generate_series(1, {_AF_W}), "
                f"i -> ascii(substr(substr(text, p, {_AF_W}), "
                f"CAST(i AS INTEGER), 1)))) % {_AF_P}")


@query(
    "q227_audio_neardup",
    f"""
    WITH fr AS (
        SELECT doc_id, CAST(fi * {_AF_STRIDE} + 1 AS INTEGER) AS p, text
        FROM documents,
             unnest(generate_series(0,
                 CAST(floor((length(text) - {_AF_W}) * 1.0
                            / {_AF_STRIDE}) AS INTEGER))) AS t(fi)
        WHERE length(text) >= {_AF_W}
    ),
    fp AS (
        SELECT DISTINCT doc_id, {_Q227_FP_SQL} AS fp
        FROM fr
    ),
    df AS (
        SELECT fp, COUNT(*) AS n_docs FROM fp GROUP BY fp
    ),
    keep AS (
        SELECT f.doc_id, f.fp
        FROM fp f JOIN df ON f.fp = df.fp
        WHERE df.n_docs <= {_AF_DF_CAP}
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM keep a JOIN keep b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_AF_MIN_SHARED}
    """,
)
def q227_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    # All frame fingerprints of a doc in ONE map-side expression (r16
    # optimization; values proven identical by oracle parity + the A/B
    # in OPTIMIZATION_r16.md): the original exploded a row per stride
    # position FIRST, so the Generate stage copied the full text into
    # every frame row (O(len^2/stride) bytes materialized) and then
    # re-evaluated substring(text, p, W) per frame — UTF8String
    # substring counts chars from the string start, an O(len) scan per
    # frame, O(len^2) per doc (the ngram_list_spark lesson, dedup.py).
    # Here the char codes are computed once per doc (one split+ascii
    # pass), each frame folds a W-int array slice (O(1) indexed), and
    # array_distinct replaces the (doc_id, fp) distinct SHUFFLE —
    # uniqueness is per-doc, so no exchange is needed to establish it.
    # load_spread parallelizes the pipeline off the one-split bench
    # scan exactly as the q76/q81 gram pipelines do.
    fps = (
        f"array_distinct(transform("
        f"sequence(0, CAST(floor((__n - {_AF_W})"
        f" / CAST({_AF_STRIDE} AS DOUBLE)) AS INT)),"
        f" fi -> aggregate(slice(__codes, fi * {_AF_STRIDE} + 1, {_AF_W}),"
        f" 0L, (acc, c) -> acc + c) % {_AF_P}))"
    )
    # __n rides along because split(text, '') appends one trailing empty
    # element (Java split limit -1), so size(__codes) != length(text)
    fp = (d.filter(F.length("text") >= _AF_W)
          .select("doc_id", F.length("text").alias("__n"),
                  F.expr("transform(split(text, ''), c -> ascii(c))")
                  .alias("__codes"))
          .select("doc_id", F.explode(F.expr(fps)).alias("fp")))
    return _dfcap_shared_key_pairs(fp, "fp", _AF_DF_CAP, _AF_MIN_SHARED,
                                   "n_shared_fp")
