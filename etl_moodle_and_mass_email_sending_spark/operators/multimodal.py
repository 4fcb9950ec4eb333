"""[EXT] Multimodal columns (SURVEY.md §7 M7): image/audio/video as opaque
``binary`` payload columns with typed metadata, processed by Arrow-batched
``mapInPandas`` workers.

Each operator has one kernel, which derives deterministic metadata and
features from the payload bytes themselves, so every result is
reproducible in SQL (the ``sql_*`` DuckDB twins). The package ships no
codec; the schemas, the binary column, the partitioning and the Arrow
batch shape are the contract a decoder would have to keep.

Scale design: payloads stay opaque binary end-to-end (no driver collect,
no base64 inflation); decode workers are Arrow-batched so at 100 TB the
Python boundary streams column batches, not rows. Feature extraction
emits fixed-width numeric columns → downstream joins/aggs are columnar.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..functions.text import SQL_WORDS_NONEMPTY, WORDS_NONEMPTY

MEDIA_TYPES = ("image", "audio", "video")
PAYLOAD_REPEAT = 8  # 8 × 16 md5 bytes = 128-byte payload


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media table from documents: deterministic binary
    payload (repeated md5 of the text) + declared metadata columns."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.unhex(F.repeat(F.md5("text"), PAYLOAD_REPEAT)).alias("payload"),
        F.struct(
            F.col("n_chars").cast("int").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


SQL_MEDIA_TABLE = f"""
    SELECT doc_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
           repeat(md5(text), {PAYLOAD_REPEAT}) AS payload_hex
    FROM documents
"""

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload_len", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _by_length(payloads: pd.Series, min_len: int = 0) -> Iterator[tuple]:
    """Yield ``(idx, mat)`` per payload length in one Arrow batch: the
    batch positions of the rows with that length and their bytes stacked
    into one ``(len(idx), length)`` uint8 matrix. Stacking each length on
    its own keeps every row on its own bytes, so a kernel's result does
    not depend on which rows share a batch. A payload shorter than
    ``min_len`` (the bytes the kernel reads) raises ValueError."""
    import numpy as np

    raw = [bytes(p) for p in payloads]
    lens = np.fromiter(map(len, raw), dtype=np.int64, count=len(raw))
    if len(raw) and lens.min() < min_len:
        raise ValueError(
            f"payloads must hold at least {min_len} bytes; "
            f"got lengths {sorted(set(lens[lens < min_len].tolist()))[:5]}"
        )
    for n in np.unique(lens):
        idx = np.flatnonzero(lens == n)
        mat = np.frombuffer(b"".join(raw[i] for i in idx), dtype=np.uint8)
        yield idx, mat.reshape(len(idx), n)


DECODE_HEAD_BYTES = 8  # four little-endian uint16 fields


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: metadata as little-endian uint16 reads from
    the payload head (reproducible in the SQL oracle), the whole batch
    with numpy slices, no Python row loop."""
    import numpy as np

    for pdf in batches:
        heads = np.zeros((len(pdf), DECODE_HEAD_BYTES), dtype=np.int32)
        for idx, mat in _by_length(pdf["payload"], DECODE_HEAD_BYTES):
            heads[idx] = mat[:, :DECODE_HEAD_BYTES]
        le16 = lambda off: heads[:, off] | (heads[:, off + 1] << 8)  # noqa: E731
        mt = pdf["media_type"].to_numpy()
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "media_type": mt,
                "payload_len": pdf["payload"].map(len).astype("int32"),
                "width": pd.array(
                    np.where(mt == "image", le16(0), -1), dtype="Int32"
                ),
                "height": pd.array(
                    np.where(mt == "image", le16(2), -1), dtype="Int32"
                ),
                "duration_ms": pd.array(
                    np.where((mt == "audio") | (mt == "video"), le16(4), -1),
                    dtype="Int32",
                ),
                "n_frames": pd.array(
                    np.where(mt == "video", le16(6), -1), dtype="Int32"
                ),
            }
        )
        for c in ("width", "height", "duration_ms", "n_frames"):
            out[c] = out[c].where(out[c] != -1, pd.NA)
        yield out


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode of the payload column → typed metadata."""
    return media.mapInPandas(_decode_batches, DECODED_SCHEMA)


# --------------------------------------------------------------------------
# Feature extraction — fixed-width numeric vector per payload.
# --------------------------------------------------------------------------

N_FEATURES = 8

# Scalar feat_0..feat_7 columns, NOT array<double>: a list-typed output
# column is unhashable in pandas sort/factorize, which crashes comparison
# harnesses that canonicalize frames driver-side; fixed-width scalars also
# give downstream joins/aggs plain columnar access with no explode.
FEATURES_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("media_type", StringType())]
    + [StructField(f"feat_{i}", DoubleType()) for i in range(N_FEATURES)]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: payload → fixed-width scalar
    feature columns (the embedding-ish representation a downstream
    similarity join consumes): the mean of each 16-byte stride.
    Payloads are fixed-width (PAYLOAD_REPEAT × 16 bytes), so the whole
    Arrow batch stacks into one ndarray and the strided mean is a single
    vectorized reshape — no Python row loop.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        width = PAYLOAD_REPEAT * 16
        stride = width // N_FEATURES
        for pdf in batches:
            lens = pdf["payload"].map(len)
            if not (lens == width).all():
                raise ValueError(
                    "extract_features requires fixed-width payloads of "
                    f"{width} bytes; got lengths {sorted(set(lens))[:5]}"
                )
            mat = np.frombuffer(
                b"".join(bytes(p) for p in pdf["payload"]), dtype=np.uint8
            ).reshape(-1, N_FEATURES, stride)
            feats = mat.astype(np.float64).mean(axis=2).round(6)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                }
            )
            for i in range(N_FEATURES):
                out[f"feat_{i}"] = feats[:, i]
            yield out

    return media.mapInPandas(run, FEATURES_SCHEMA)


def sql_extract_features() -> str:
    """Oracle twin: same strided byte-average over the hex payload."""
    stride = PAYLOAD_REPEAT * 16 // N_FEATURES  # bytes per stride
    feats = ", ".join(
        f"""round(list_sum(list_transform(generate_series(1, {stride}),
              b -> CAST('0x' || substr(payload_hex, {i * stride * 2} + (b - 1) * 2 + 1, 2) AS INTEGER)))
            / {float(stride)}, 6) AS feat_{i}"""
        for i in range(N_FEATURES)
    )
    return f"""
    SELECT doc_id, media_type, {feats}
    FROM ({SQL_MEDIA_TABLE})
    """


# --------------------------------------------------------------------------
# Resize — payload→payload transform keeping the binary plumbing real.
# --------------------------------------------------------------------------

RESIZE_W, RESIZE_H = 64, 64
RESIZE_REPEAT = 4  # fake resized payload = 4 × 16 md5 bytes

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload_hex", StringType()),
    ]
)


def resize_images(media: DataFrame) -> DataFrame:
    """Image rows → resized payloads: md5 of the hex payload and the
    target geometry, repeated — deterministic bytes standing in for the
    resampled pixel buffer. Output payload is hex-encoded so the oracle
    can hash-compare values."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.media_type != "image":
                    continue
                hexstr = bytes(row.payload).hex()
                digest = hashlib.md5(
                    f"{hexstr}_{RESIZE_W}x{RESIZE_H}".encode()
                ).hexdigest()
                out.append(
                    (
                        int(row.doc_id),
                        RESIZE_W,
                        RESIZE_H,
                        digest * RESIZE_REPEAT,
                    )
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED_SCHEMA])

    return media.mapInPandas(run, RESIZED_SCHEMA)


def sql_resize_images() -> str:
    return f"""
    SELECT doc_id, {RESIZE_W} AS width, {RESIZE_H} AS height,
           repeat(md5(payload_hex || '_{RESIZE_W}x{RESIZE_H}'), {RESIZE_REPEAT})
             AS payload_hex
    FROM ({SQL_MEDIA_TABLE}) WHERE media_type = 'image'
    """


# --------------------------------------------------------------------------
# Frame sampling — one input video row fans out to N frame rows.
# --------------------------------------------------------------------------

FRAME_BYTES = 16
MAX_FRAMES = 4

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_hex", StringType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Video rows → sampled frame rows (a mapInPandas fan-out: one input
    row yields several output rows — the Spark shape of ffmpeg frame
    extraction). A frame is a FRAME_BYTES-wide payload slice."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.media_type != "video":
                    continue
                b = bytes(row.payload)
                n_slots = len(b) // FRAME_BYTES
                for k, i in enumerate(range(0, n_slots, every_n)):
                    if k >= MAX_FRAMES:
                        break
                    frame = b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out.append((int(row.doc_id), i, frame.hex()))
            yield pd.DataFrame(out, columns=[f.name for f in FRAMES_SCHEMA])

    return media.mapInPandas(run, FRAMES_SCHEMA)


def sql_sample_frames(every_n: int = 1) -> str:
    n_slots = PAYLOAD_REPEAT * 16 // FRAME_BYTES
    return f"""
    SELECT m.doc_id,
           CAST(i AS INTEGER) AS frame_index,
           substr(m.payload_hex, i * {FRAME_BYTES * 2} + 1, {FRAME_BYTES * 2})
             AS frame_hex
    FROM ({SQL_MEDIA_TABLE}) m,
         LATERAL (SELECT unnest(generate_series(0, {n_slots - 1}, {every_n})) AS i) g
    WHERE m.media_type = 'video'
      AND (i / {every_n}) < {MAX_FRAMES}
    """


def _le16(hexcol: str, byte_off: int) -> str:
    """DuckDB: little-endian uint16 read from a hex string at byte_off."""
    hi = f"substr({hexcol}, {byte_off * 2 + 3}, 2)"
    lo = f"substr({hexcol}, {byte_off * 2 + 1}, 2)"
    return f"CAST(CAST('0x' || {hi} || {lo} AS INTEGER) AS INTEGER)"


def sql_decode_media() -> str:
    """Oracle twin of fake-decode over the same synthesized payload."""
    w, h, dur, fr = (_le16("payload_hex", o) for o in (0, 2, 4, 6))
    return f"""
    SELECT doc_id, media_type,
           CAST(length(payload_hex) / 2 AS INTEGER) AS payload_len,
           CASE WHEN media_type = 'image' THEN {w} END AS width,
           CASE WHEN media_type = 'image' THEN {h} END AS height,
           CASE WHEN media_type IN ('audio', 'video') THEN {dur} END AS duration_ms,
           CASE WHEN media_type = 'video' THEN {fr} END AS n_frames
    FROM ({SQL_MEDIA_TABLE})
    """


# --------------------------------------------------------------------------
# Audio frame windowing — overlapping (win, hop) frames over the payload
# with a per-frame integer energy, the Spark shape of librosa's STFT
# framing: filter to audio rows BEFORE the Python boundary (only audio
# payloads cross into Arrow), then a vectorized strided window over each
# payload-length group of the batch — one numpy fancy-index, no Python
# row loop, one output row per frame (bounded fan-out = payload_len/hop).
#
# Energy is an INTEGER byte sum, so cross-engine parity is exact — the
# same trick as sim_sq_topk's quantized scores.
# --------------------------------------------------------------------------

AUDIO_WIN_BYTES = 32
AUDIO_HOP_BYTES = 16

AUDIO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("energy", LongType()),
    ]
)


def audio_frame_energy(media: DataFrame) -> DataFrame:
    """Audio rows → one row per overlapping frame with its byte-sum
    energy; a payload shorter than AUDIO_WIN_BYTES has no frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            for idx, payloads in _by_length(pdf["payload"]):
                n_frames = max(
                    0,
                    (payloads.shape[1] - AUDIO_WIN_BYTES) // AUDIO_HOP_BYTES
                    + 1,
                )
                if not n_frames:
                    continue
                # (n_rows, n_frames, AUDIO_WIN_BYTES) strided view ->
                # exact int64 sums
                frame_at = (
                    np.arange(n_frames)[:, None] * AUDIO_HOP_BYTES
                    + np.arange(AUDIO_WIN_BYTES)[None, :]
                )
                energy = payloads[:, frame_at].astype(np.int64).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(doc_ids[idx], n_frames),
                        "frame_idx": np.tile(
                            np.arange(n_frames, dtype=np.int32), len(idx)
                        ),
                        "energy": energy.reshape(-1),
                    }
                )

    return media.filter(F.col("media_type") == "audio").mapInPandas(
        run, AUDIO_FRAMES_SCHEMA
    )


def sql_audio_frame_energy() -> str:
    payload_bytes = 16 * PAYLOAD_REPEAT
    n_frames = max(
        0, (payload_bytes - AUDIO_WIN_BYTES) // AUDIO_HOP_BYTES + 1
    )
    byte_at = (
        "CAST(CAST('0x' || substr(payload_hex, 2 * (f.frame_idx * "
        f"{AUDIO_HOP_BYTES} + j) + 1, 2) AS INTEGER) AS BIGINT)"
    )
    return f"""
    SELECT doc_id,
           CAST(f.frame_idx AS INTEGER) AS frame_idx,
           CAST(list_sum(list_transform(range(0, {AUDIO_WIN_BYTES}),
                j -> {byte_at})) AS BIGINT) AS energy
    FROM ({SQL_MEDIA_TABLE}) m,
         LATERAL (SELECT unnest(range(0, {n_frames})) AS frame_idx) f
    WHERE m.media_type = 'audio'
    """


# --------------------------------------------------------------------------
# Perceptual-hash (aHash) image dedup — the image-side twin of SimHash
# text dedup: treat the first 64 payload bytes as an 8×8 grayscale
# thumbnail, hash bit j = (pixel_j · 64 > Σ pixels) (integer compare, no
# float mean → exact cross-engine parity), then group identical hashes.
#
# Scale: the shuffle carries (doc_id, 64-bit hash) — 8 bytes per image,
# never payloads; identical-hash grouping is a uniform-key groupBy, the
# same shape as dedup_exact on text digests. Near-miss (hamming ≤ d)
# variants bucket on hash band prefixes exactly as operators/dedup.py's
# simhash_pairs does — not re-implemented here.
# --------------------------------------------------------------------------

PHASH_BITS = 64

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", StringType()),
    ]
)


def phash_images(images: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, 64-char bit-string aHash), one
    vectorized pass per Arrow batch (no Python row loop)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            pixels = np.zeros((len(pdf), PHASH_BITS), dtype=np.int64)
            for idx, mat in _by_length(pdf["payload"], PHASH_BITS):
                pixels[idx] = mat[:, :PHASH_BITS]
            total = pixels.sum(axis=1)
            bits = (pixels * PHASH_BITS > total[:, None]).astype(np.uint8)
            hashes = np.frombuffer(
                (bits + ord("0")).tobytes(), dtype=f"S{PHASH_BITS}"
            ).astype(str)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "phash": hashes}
            )

    return images.mapInPandas(run, PHASH_SCHEMA)


def phash_dedup(docs: DataFrame) -> DataFrame:
    """Image dedup over a (doc_id, text) corpus: synthesize the binary
    payload (as media_table does), perceptual-hash every image, and
    annotate each with its duplicate group — (doc_id, phash, n_copies,
    canonical_id)."""
    images = docs.select(
        "doc_id",
        F.unhex(F.repeat(F.md5("text"), PAYLOAD_REPEAT)).alias("payload"),
    )
    hashed = phash_images(images)
    w = Window.partitionBy("phash")
    return hashed.select(
        "doc_id",
        "phash",
        F.count("*").over(w).alias("n_copies"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )


def sql_phash_dedup(corpus_sql: str) -> str:
    b = PHASH_BITS
    return f"""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), {PAYLOAD_REPEAT}) AS payload_hex
      FROM ({corpus_sql})
    ),
    px AS (
      SELECT doc_id,
             list_transform(range(0, {b}),
                 j -> CAST(CAST('0x' || substr(payload_hex, 2 * j + 1, 2)
                      AS INTEGER) AS BIGINT)) AS p
      FROM img
    ),
    h AS (
      SELECT doc_id,
             array_to_string(list_transform(range(0, {b}),
                 j -> CASE WHEN p[CAST(j AS INTEGER) + 1] * {b} > list_sum(p)
                      THEN '1' ELSE '0' END), '') AS phash
      FROM px
    )
    SELECT doc_id, phash,
           count(*) OVER (PARTITION BY phash) AS n_copies,
           min(doc_id) OVER (PARTITION BY phash) AS canonical_id
    FROM h
    """


# --------------------------------------------------------------------------
# Video scene-change detection — per-frame intensity deltas: slice the
# payload into fixed 16-byte frames, sum each frame's bytes (integer
# "intensity"), and flag frames whose absolute delta from the previous
# frame exceeds the threshold. All-integer → exact cross-engine parity;
# deltas are computed WITHIN the row's own frame sequence (numpy diff
# per payload-length group of the batch), so no window shuffle exists
# at all — the operator is embarrassingly parallel over videos, which
# is the property that matters at 100 TB.
# --------------------------------------------------------------------------

SCENE_DELTA_THRESHOLD = 512

SCENES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("intensity", LongType()),
        StructField("delta", LongType()),
        StructField("is_scene_change", IntegerType()),
    ]
)


def detect_scene_changes(media: DataFrame) -> DataFrame:
    """Video rows → one row per frame with intensity, delta vs previous
    frame (0 for frame 0), and the scene-change flag; trailing bytes
    short of a whole frame are ignored."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            for idx, payloads in _by_length(pdf["payload"]):
                n_frames = payloads.shape[1] // FRAME_BYTES
                if not n_frames:
                    continue
                frames = payloads[:, : n_frames * FRAME_BYTES].reshape(
                    len(idx), n_frames, FRAME_BYTES
                )
                intensity = frames.astype(np.int64).sum(axis=2)
                delta = np.abs(
                    np.diff(intensity, axis=1, prepend=intensity[:, :1])
                )
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(doc_ids[idx], n_frames),
                        "frame_idx": np.tile(
                            np.arange(n_frames, dtype=np.int32), len(idx)
                        ),
                        "intensity": intensity.reshape(-1),
                        "delta": delta.reshape(-1),
                        "is_scene_change": (delta > SCENE_DELTA_THRESHOLD)
                        .astype(np.int32)
                        .reshape(-1),
                    }
                )

    return media.filter(F.col("media_type") == "video").mapInPandas(
        run, SCENES_SCHEMA
    )


def sql_detect_scene_changes() -> str:
    payload_bytes = 16 * PAYLOAD_REPEAT
    n_frames = payload_bytes // FRAME_BYTES
    byte_at = (
        "CAST(CAST('0x' || substr(payload_hex, 2 * (f.frame_idx * "
        f"{FRAME_BYTES} + j) + 1, 2) AS INTEGER) AS BIGINT)"
    )
    intensity = (
        f"CAST(list_sum(list_transform(range(0, {FRAME_BYTES}), "
        f"j -> {byte_at})) AS BIGINT)"
    )
    return f"""
    WITH frames AS (
      SELECT doc_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
             {intensity} AS intensity
      FROM ({SQL_MEDIA_TABLE}) m,
           LATERAL (SELECT unnest(range(0, {n_frames})) AS frame_idx) f
      WHERE m.media_type = 'video'
    )
    SELECT doc_id, frame_idx, intensity,
           CAST(coalesce(abs(intensity - lag(intensity) OVER w), 0)
                AS BIGINT) AS delta,
           CAST(coalesce(abs(intensity - lag(intensity) OVER w), 0)
                > {SCENE_DELTA_THRESHOLD} AS INTEGER) AS is_scene_change
    FROM frames
    WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    """


# --------------------------------------------------------------------------
# Audio silence detection — gaps-and-islands over the frame-energy
# stream: maximal runs of consecutive frames whose energy falls below
# the threshold (the VAD/silence-trim pass of an audio pipeline).
# Composes audio_frame_energy with the same islands technique as
# rel_sessionize: one window pass per doc to number runs (frame_idx −
# row_number is constant within a run), one groupBy to describe them.
# Both shuffles key on doc_id — frames of one recording stay together.
# --------------------------------------------------------------------------

SILENCE_THRESHOLD = 3500  # byte-sum energy below this = silent frame


def detect_silence_runs(media: DataFrame) -> DataFrame:
    """(doc_id, run_start, n_frames, min_energy): maximal silent runs
    per audio doc."""
    frames = audio_frame_energy(media)
    silent = frames.filter(F.col("energy") < SILENCE_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    runs = silent.withColumn(
        "_grp", F.col("frame_idx") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_id", "_grp")
        .agg(
            F.min("frame_idx").alias("run_start"),
            F.count("*").cast("int").alias("n_frames"),
            F.min("energy").alias("min_energy"),
        )
        .drop("_grp")
    )


def sql_detect_silence_runs() -> str:
    return f"""
    WITH frames AS ({sql_audio_frame_energy()}),
    silent AS (
      SELECT doc_id, frame_idx, energy FROM frames
      WHERE energy < {SILENCE_THRESHOLD}
    ),
    runs AS (
      SELECT doc_id, frame_idx, energy,
             frame_idx - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS grp
      FROM silent
    )
    SELECT doc_id, CAST(min(frame_idx) AS INTEGER) AS run_start,
           CAST(count(*) AS INTEGER) AS n_frames,
           min(energy) AS min_energy
    FROM runs GROUP BY doc_id, grp
    """


# --------------------------------------------------------------------------
# Image–text alignment scoring — the LAION-style pairing filter: embed
# the image (the strided-byte-mean features of extract_features), embed
# the caption text (hashed bag-of-words into the SAME N_FEATURES dims —
# deterministic integer sums, the stand-in for the CLIP text tower),
# and keep pairs whose cosine clears a threshold. At web-crawl scale
# this is the operator that decides which (image, alt-text) pairs enter
# the training set.
#
# Scale shape: the image side is the Arrow-batched mapInPandas feature
# pass (one scan); the text side is one explode + map-side-combining
# groupBy building 8 integer sums per doc; the pairing is a doc_id
# equi-join of two frames that are 1:1 with the corpus — AQE picks the
# join; nothing fans out. Integer text sums are order-independent, so
# the only float math is one cosine per pair, rounded to 6.
# --------------------------------------------------------------------------

CLIP_THRESHOLD = 0.5


def clip_align(media: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, clip_score, keep): caption↔image cosine for every image
    doc (captionless/tokenless docs drop — no text tower input)."""
    from ..functions.hashing import hash32

    feats = extract_features(media.filter(F.col("media_type") == "image"))
    toks = docs.select(
        "doc_id", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
    )
    h = hash32(F.col("token"))
    temb = toks.select(
        "doc_id",
        F.pmod(h, F.lit(N_FEATURES)).alias("_b"),
        F.pmod(h, F.lit(1000)).alias("_v"),
    ).groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("_b") == i, F.col("_v")).otherwise(0)).alias(
                f"_t{i}"
            )
            for i in range(N_FEATURES)
        ]
    )
    dot = sum(
        F.col(f"feat_{i}") * F.col(f"_t{i}") for i in range(N_FEATURES)
    )
    na = F.sqrt(sum(F.col(f"feat_{i}") ** 2 for i in range(N_FEATURES)))
    nb = F.sqrt(sum(F.col(f"_t{i}") ** 2 for i in range(N_FEATURES)))
    return (
        feats.join(temb, "doc_id")
        .filter(nb > 0)
        .select(
            "doc_id",
            F.round(dot / (na * nb), 6).alias("clip_score"),
        )
        .withColumn("keep", F.col("clip_score") >= CLIP_THRESHOLD)
    )


def sql_clip_align() -> str:
    """DuckDB twin: same fake towers, same cosine."""
    from ..functions.hashing import sql_hash32

    h = sql_hash32("token")
    tsums = ", ".join(
        f"CAST(sum(CASE WHEN ({h}) % {N_FEATURES} = {i} "
        f"THEN ({h}) % 1000 ELSE 0 END) AS BIGINT) AS t{i}"
        for i in range(N_FEATURES)
    )
    dot = " + ".join(f"f.feat_{i} * t.t{i}" for i in range(N_FEATURES))
    na = " + ".join(f"f.feat_{i} * f.feat_{i}" for i in range(N_FEATURES))
    nb = " + ".join(f"t.t{i} * t.t{i}" for i in range(N_FEATURES))
    return f"""
    WITH feats AS (
      SELECT * FROM ({sql_extract_features()}) WHERE media_type = 'image'
    ),
    toks AS (
      SELECT doc_id, unnest({SQL_WORDS_NONEMPTY}) AS token
      FROM documents
    ),
    temb AS (
      SELECT doc_id, {tsums} FROM toks GROUP BY doc_id
    )
    SELECT f.doc_id,
           round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS clip_score,
           round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) >= {CLIP_THRESHOLD}
             AS keep
    FROM feats f JOIN temb t ON f.doc_id = t.doc_id
    WHERE sqrt({nb}) > 0
    """


# --------------------------------------------------------------------------
# pHash Hamming-distance histogram — the image twin of the MinHash
# calibration: for every candidate image pair (same 16-bit hash
# prefix (8 bits) — the blocking key that keeps this off the all-pairs cliff),
# the Hamming distance between their 64-bit perceptual hashes, rolled
# into a histogram. The histogram's valley is where the dedup
# threshold belongs; without this frame the threshold is folklore.
# Integer character comparisons end to end — exact parity.
# --------------------------------------------------------------------------

PHASH_BLOCK_PREFIX = 8


def phash_hamming_histogram(docs: DataFrame) -> DataFrame:
    """(hamming, n_pairs): candidate-pair Hamming distances over
    prefix-blocked perceptual hashes."""
    images = docs.select(
        "doc_id",
        F.unhex(F.repeat(F.md5("text"), PAYLOAD_REPEAT)).alias("payload"),
    )
    # The 64-bit hash is packed into TWO bigint halves ONCE PER DOC
    # (conv base-2) so the per-PAIR distance is two XORs + two
    # popcounts in whole-stage codegen — the old form re-walked the
    # 64-char string through an interpreted higher-order filter per
    # pair (r9: 2.2 s → ~0.6 s at sf0.1; pairs dominate, so per-pair
    # cost is the whole job at scale).
    half = PHASH_BITS // 2
    hashed = (
        phash_images(images)
        .withColumn("block", F.substring("phash", 1, PHASH_BLOCK_PREFIX))
        .withColumn(
            "h1", F.conv(F.substring("phash", 1, half), 2, 10).cast("bigint")
        )
        .withColumn(
            "h2",
            F.conv(F.substring("phash", half + 1, half), 2, 10).cast(
                "bigint"
            ),
        )
        .localCheckpoint()
    )
    a = hashed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"),
        "block",
    )
    b = hashed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h1").alias("h1b"),
        F.col("h2").alias("h2b"),
        "block",
    )
    ham = F.expr("bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b)")
    return (
        a.join(b, on="block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(ham.cast("int").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


def sql_phash_hamming_histogram(corpus_sql: str) -> str:
    b = PHASH_BITS
    return f"""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), {PAYLOAD_REPEAT}) AS payload_hex
      FROM ({corpus_sql})
    ),
    px AS (
      SELECT doc_id,
             list_transform(range(0, {b}),
                 j -> CAST(CAST('0x' || substr(payload_hex, 2 * j + 1, 2)
                      AS INTEGER) AS BIGINT)) AS p
      FROM img
    ),
    h AS (
      SELECT doc_id,
             array_to_string(list_transform(range(0, {b}),
                 j -> CASE WHEN p[CAST(j AS INTEGER) + 1] * {b} > list_sum(p)
                      THEN '1' ELSE '0' END), '') AS phash
      FROM px
    ),
    blocked AS (
      SELECT doc_id, phash,
             substr(phash, 1, {PHASH_BLOCK_PREFIX}) AS block
      FROM h
    ),
    pairs AS (
      SELECT len(list_filter(range(1, {b} + 1),
                 i -> substr(a.phash, CAST(i AS INTEGER), 1)
                      <> substr(b.phash, CAST(i AS INTEGER), 1)))
               AS hamming
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.doc_id < b.doc_id
    )
    SELECT CAST(hamming AS INTEGER) AS hamming, count(*) AS n_pairs
    FROM pairs GROUP BY 1
    """


# --------------------------------------------------------------------------
# Audio fingerprint dedup — the audio member of the dedup family (text
# has MinHash, images aHash): the fingerprint is the energy-delta sign
# sequence over the STFT-style frames above (does energy rise or fall
# frame to frame — the Shazam-family invariant, robust to gain), and
# duplicate groups are exact fingerprint matches. Bits derive from the
# integer frame energies, so parity is exact; the fingerprint assembly
# is an ordered aggregation per doc (frames per doc are bounded by
# payload_len/hop, so the per-group sort is tiny).
# --------------------------------------------------------------------------


def audio_fingerprint_dedup(media: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, n_copies, canonical_id): energy-delta
    fingerprints over audio rows with exact-match duplicate groups."""
    frames = audio_frame_energy(media)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    bits = (
        frames.withColumn("_next", F.lead("energy").over(w))
        .filter(F.col("_next").isNotNull())
        .select(
            "doc_id",
            "frame_idx",
            F.when(F.col("_next") > F.col("energy"), F.lit("1"))
            .otherwise(F.lit("0"))
            .alias("bit"),
        )
    )
    fp = bits.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("frame_idx", "bit"))
                ),
                lambda s: s["bit"],
            ),
            "",
        ).alias("fingerprint")
    )
    wf = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count("*").over(wf).alias("n_copies"),
        F.min("doc_id").over(wf).alias("canonical_id"),
    )


def sql_audio_fingerprint_dedup() -> str:
    frames = sql_audio_frame_energy()
    return f"""
    WITH frames AS ({frames}),
    bits AS (
      SELECT doc_id, frame_idx,
             CASE WHEN lead(energy) OVER (PARTITION BY doc_id
                       ORDER BY frame_idx) > energy
                  THEN '1' ELSE '0' END AS bit,
             lead(energy) OVER (PARTITION BY doc_id
                  ORDER BY frame_idx) AS nxt
      FROM frames
    ),
    fp AS (
      SELECT doc_id,
             string_agg(bit, '' ORDER BY frame_idx) AS fingerprint
      FROM bits WHERE nxt IS NOT NULL
      GROUP BY doc_id
    )
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint) AS n_copies,
           min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id
    FROM fp
    """


# --------------------------------------------------------------------------
# Cross-video frame dedup — shared-frame detection over the sampled
# frame stream: frames quantize to a coarse 8-bit perceptual bucket
# (leading payload byte — the stand-in for a frame
# pHash band) and buckets seen in >= 2 distinct videos are reported:
# the common-intro / watermark screen of video curation.
#
# 100 TB shape: the fan-out reuses sample_frames' mapInPandas batches;
# the rollup groups by the 1-byte (2 hex chars) signature (map-side
# partial aggregation; 256 reducer keys), and the distinct-video count is an
# exact count_distinct over that bounded key space.
# --------------------------------------------------------------------------

FRAME_SIG_HEX = 2  # leading byte of the frame = the perceptual bucket


def video_frame_dedup(media: DataFrame) -> DataFrame:
    """(frame_sig, n_videos, n_frames): coarse frame signatures sampled
    from >= 2 distinct videos."""
    frames = sample_frames(media, every_n=1)
    per = (
        frames.select(
            "doc_id",
            F.substring("frame_hex", 1, FRAME_SIG_HEX).alias("frame_sig"),
        )
        .groupBy("frame_sig")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_videos"),
            F.count("*").cast("bigint").alias("n_frames"),
        )
    )
    return per.filter(F.col("n_videos") >= 2)


def sql_video_frame_dedup() -> str:
    return f"""
    WITH frames AS ({sql_sample_frames(every_n=1)})
    SELECT substr(frame_hex, 1, {FRAME_SIG_HEX}) AS frame_sig,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_videos,
           CAST(count(*) AS BIGINT) AS n_frames
    FROM frames
    GROUP BY 1
    HAVING count(DISTINCT doc_id) >= 2
    """


# --------------------------------------------------------------------------
# Payload byte-distribution stats — the corruption / truncation screen
# of media ingestion: a payload whose byte histogram collapses (few
# distinct values, one dominant byte) is a zero-filled or truncated
# blob, not encoded media. All-integer statistics, so cross-engine
# parity is exact; the only ratio rounds half-up explicitly.
#
# 100 TB shape: Arrow-batched mapInPandas, one numpy bincount per row
# inside the batch (vectorizable, no Python row loop for the
# histogram); output is one narrow row per payload, aggregated nowhere
# — the downstream consumer filters on the flags. The Python boundary
# carries only (doc_id, payload), never decoded frames.
# --------------------------------------------------------------------------

BYTE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_distinct_bytes", IntegerType()),
        StructField("top_byte", IntegerType()),
        StructField("top_share", DoubleType()),
    ]
)


def payload_byte_stats(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, n_distinct_bytes, top_byte, top_share):
    byte-histogram health stats per payload (top_byte ties break to the
    lowest byte value; share rounds half-up to 6)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # Payload lengths may differ row to row (truncation is
            # exactly the condition this operator screens for), so the
            # batch is histogrammed per length group — no per-row Python
            # histogram loop. Zero-length payloads emit no row (matching
            # the oracle, whose per-byte unnest produces nothing for
            # them).
            for idx, rows in _by_length(pdf["payload"]):
                n = rows.shape[1]
                if n == 0:
                    continue
                counts = np.zeros((len(idx), 256), dtype=np.int64)
                np.add.at(
                    counts,
                    (np.repeat(np.arange(len(idx)), n), rows.reshape(-1)),
                    1,
                )
                distinct = (counts > 0).sum(axis=1).astype(np.int32)
                top_byte = counts.argmax(axis=1).astype(np.int32)
                top = counts.max(axis=1)
                # explicit half-up rounding — np.round is half-even,
                # which diverges from both engines' SQL round()
                share = np.floor(top / n * 1e6 + 0.5) / 1e6
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy()[idx],
                        "media_type": pdf["media_type"].to_numpy()[idx],
                        "n_distinct_bytes": distinct,
                        "top_byte": top_byte,
                        "top_share": share,
                    }
                )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        run, BYTE_STATS_SCHEMA
    )


def sql_payload_byte_stats() -> str:
    # Per-row payload length derived from the payload itself (NOT a
    # hardcoded constant): truncated/odd-length payloads get correct
    # shares, and zero-length payloads emit no row (empty unnest) —
    # exactly the Spark side's per-length-group semantics.
    return f"""
    WITH src AS (
      SELECT doc_id, media_type, payload_hex,
             length(payload_hex) // 2 AS n
      FROM ({SQL_MEDIA_TABLE})
    ),
    bytes AS (
      SELECT doc_id, media_type, n,
             CAST('0x' || substr(payload_hex, 2 * b.i + 1, 2) AS INTEGER)
               AS byte
      FROM src m,
           LATERAL (SELECT unnest(range(0, m.n)) AS i) b
    ),
    hist AS (
      SELECT doc_id, media_type, n, byte, count(*) AS c
      FROM bytes GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, media_type,
           CAST(count(*) AS INTEGER) AS n_distinct_bytes,
           CAST(arg_min(byte, -c * 256 + byte) AS INTEGER) AS top_byte,
           round(CAST(max(c) AS DOUBLE) / any_value(n), 6) AS top_share
    FROM hist GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# Payload byte entropy (round 9) — the compression/corruption screen
# next to payload_byte_stats: Shannon entropy of the payload's byte
# histogram. Near 8 bits/byte = already-compressed or encrypted
# content (re-encoding is wasted compute; encrypted blobs are not
# decodable media); near 0 = constant padding / zeroed corruption.
# The screen a multimodal ingest runs BEFORE paying for decode.
#
# 100 TB shape: Arrow-batched mapInPandas, whole batch histogrammed
# as one (rows × 256) matrix per length group — no per-row Python
# loop; output is one narrow row per payload.
# --------------------------------------------------------------------------

ENTROPY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload_len", IntegerType()),
        StructField("entropy_bits", DoubleType()),
    ]
)


def payload_entropy(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, payload_len, entropy_bits): byte-level
    Shannon entropy per payload (0 for empty payloads, matching the
    oracle's empty-unnest sum)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            ent = np.zeros(len(pdf), dtype=np.float64)
            for idx, rows in _by_length(pdf["payload"]):
                n = rows.shape[1]
                if n == 0:
                    continue
                counts = np.zeros((len(idx), 256), dtype=np.int64)
                np.add.at(
                    counts,
                    (np.repeat(np.arange(len(idx)), n), rows.reshape(-1)),
                    1,
                )
                p = counts / n
                ent[idx] = -np.where(
                    counts > 0, p * np.log2(p, where=counts > 0), 0.0
                ).sum(axis=1)
            # half-up rounding (np.round is half-even; SQL round is not)
            ent = np.floor(ent * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "payload_len": pdf["payload"].map(len).astype("int32"),
                    "entropy_bits": ent,
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        run, ENTROPY_SCHEMA
    )


def sql_payload_entropy() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, media_type, payload_hex,
             length(payload_hex) // 2 AS n
      FROM ({SQL_MEDIA_TABLE})
    ),
    bytes AS (
      SELECT doc_id, media_type, n,
             CAST('0x' || substr(payload_hex, 2 * b.i + 1, 2) AS INTEGER)
               AS byte
      FROM src m,
           LATERAL (SELECT unnest(range(0, m.n)) AS i) b
    ),
    hist AS (
      SELECT doc_id, media_type, n, byte, count(*) AS c
      FROM bytes GROUP BY 1, 2, 3, 4
    ),
    ent AS (
      SELECT doc_id, media_type, CAST(any_value(n) AS INTEGER)
               AS payload_len,
             -sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))
               AS e
      FROM hist GROUP BY 1, 2
    )
    SELECT s.doc_id, s.media_type,
           CAST(coalesce(e.payload_len, 0) AS INTEGER) AS payload_len,
           coalesce(floor(e.e * 1e6 + 0.5) / 1e6, 0.0) AS entropy_bits
    FROM src s LEFT JOIN ent e USING (doc_id, media_type)
    """


# --------------------------------------------------------------------------
# Codec sniffing (round 9) — magic-byte format detection over opaque
# payloads: the first screen a multimodal ingest runs on a crawl drop,
# BEFORE paying for decode — route each blob by its leading bytes
# (PNG / JPEG / GIF / RIFF-WAVE / unknown) and cross-check against the
# format the manifest declared. A source whose declared/sniffed
# mismatch rate spikes is mislabeled or corrupted and gets quarantined,
# not decoded.
#
# The wire table prepends a deterministic per-doc magic (doc_id % 5
# picks the format; class 'raw' gets none) so the sniffer has real
# structure to detect; the sniffer itself reads ONLY the payload bytes.
# Scale: detection is substring/startswith on the first 12 bytes inside
# whole-stage codegen (no UDF, no decode), then one hash aggregation on
# (source, declared, sniffed) — the report is tiny.
# --------------------------------------------------------------------------

_WIRE_FORMATS = [
    ("png", "89504E470D0A1A0A"),
    ("jpeg", "FFD8FFE000104A46"),
    ("gif", "474946383961"),
    ("wav", "524946462408000057415645"),
    ("raw", ""),
]


def wire_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, source, declared, payload) with the magic
    header matching ``declared`` spliced onto the md5-stream payload."""
    d = load_table(spark, sf_dir, "documents")
    idx = (F.col("doc_id") % 5 + 1).cast("int")
    magic = F.element_at(
        F.array(*[F.lit(h) for _, h in _WIRE_FORMATS]), idx
    )
    declared = F.element_at(
        F.array(*[F.lit(n) for n, _ in _WIRE_FORMATS]), idx
    )
    return d.select(
        "doc_id",
        "source",
        declared.alias("declared"),
        F.unhex(
            F.concat(magic, F.repeat(F.md5("text"), PAYLOAD_REPEAT))
        ).alias("payload"),
    )


def codec_sniff(wire: DataFrame) -> DataFrame:
    """(source, declared, sniffed, n_payloads, total_bytes, n_mismatch):
    per-source routing table from magic bytes alone."""
    head = F.upper(F.hex(F.substring("payload", 1, 12)))
    sniffed = (
        F.when(head.startswith("89504E470D0A1A0A"), "png")
        .when(head.startswith("FFD8FF"), "jpeg")
        .when(
            head.startswith("474946383761")
            | head.startswith("474946383961"),
            "gif",
        )
        .when(
            (F.substring(head, 1, 8) == "52494646")
            & (F.substring(head, 17, 8) == "57415645"),
            "wav",
        )
        .otherwise("unknown")
    )
    return (
        wire.select(
            "source",
            "declared",
            sniffed.alias("sniffed"),
            F.length("payload").alias("_b"),
        )
        .groupBy("source", "declared", "sniffed")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            F.sum("_b").cast("bigint").alias("total_bytes"),
            F.sum(
                (
                    (F.col("declared") != F.col("sniffed"))
                    & ~(
                        (F.col("declared") == "raw")
                        & (F.col("sniffed") == "unknown")
                    )
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_mismatch"),
        )
    )


def sql_codec_sniff() -> str:
    magic_arr = ", ".join(f"'{h}'" for _, h in _WIRE_FORMATS)
    name_arr = ", ".join(f"'{n}'" for n, _ in _WIRE_FORMATS)
    return f"""
    WITH wire AS (
      SELECT doc_id, source,
             [{name_arr}][CAST(doc_id % 5 + 1 AS INTEGER)] AS declared,
             upper([{magic_arr}][CAST(doc_id % 5 + 1 AS INTEGER)]
                   || repeat(md5(text), {PAYLOAD_REPEAT})) AS payload_hex
      FROM documents
    ),
    sniffed AS (
      SELECT source, declared,
             CASE
               WHEN substr(payload_hex, 1, 16) = '89504E470D0A1A0A'
                 THEN 'png'
               WHEN substr(payload_hex, 1, 6) = 'FFD8FF' THEN 'jpeg'
               WHEN substr(payload_hex, 1, 12) IN
                    ('474946383761', '474946383961') THEN 'gif'
               WHEN substr(payload_hex, 1, 8) = '52494646'
                    AND substr(payload_hex, 17, 8) = '57415645'
                 THEN 'wav'
               ELSE 'unknown'
             END AS sniffed,
             length(payload_hex) / 2 AS b
      FROM wire
    )
    SELECT source, declared, sniffed,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(b) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN declared <> sniffed
                         AND NOT (declared = 'raw'
                                  AND sniffed = 'unknown')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM sniffed GROUP BY 1, 2, 3
    """


# --------------------------------------------------------------------------
# Modality balance (round 10) — the multimodal twin of the source
# mixture report: per (origin source, media type), item and byte
# volume plus the within-source modality mix. A multimodal training
# recipe fixes a modality ratio (e.g. 60/25/15 image/audio/video);
# this is the report that says which ingest source is off-recipe
# BEFORE the sampler tries to correct it. One rollup over the media
# table (map-side combined, |sources|·|modalities| cells), shares via
# a second |sources|-row rollup joined back — no window over the scan.
# --------------------------------------------------------------------------


def modality_balance(media: DataFrame) -> DataFrame:
    """(source, media_type, n_items, bytes_total, declared_total,
    item_share) over the media table's meta.origin provenance."""
    cells = media.select(
        F.col("meta.origin").alias("source"),
        "media_type",
        F.length("payload").cast("bigint").alias("_b"),
        F.col("meta.declared_size").cast("bigint").alias("_d"),
    ).groupBy("source", "media_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("_b").cast("bigint").alias("bytes_total"),
        F.sum("_d").cast("bigint").alias("declared_total"),
    )
    per_src = cells.groupBy("source").agg(
        F.sum("n_items").alias("_n")
    )
    return cells.join(per_src, "source").select(
        "source",
        "media_type",
        "n_items",
        "bytes_total",
        "declared_total",
        F.round(F.col("n_items") / F.col("_n"), 6).alias("item_share"),
    )


def sql_modality_balance() -> str:
    return f"""
    WITH media AS (
      SELECT doc_id, source,
             ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
               AS media_type,
             {16 * PAYLOAD_REPEAT} AS payload_bytes,
             n_chars AS declared_size
      FROM documents
    ),
    cells AS (
      SELECT source, media_type,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(payload_bytes) AS BIGINT) AS bytes_total,
             CAST(sum(declared_size) AS BIGINT) AS declared_total
      FROM media GROUP BY 1, 2
    ),
    per_src AS (SELECT source, sum(n_items) AS n FROM cells GROUP BY 1)
    SELECT c.source, c.media_type, c.n_items, c.bytes_total,
           c.declared_total,
           round(CAST(c.n_items AS DOUBLE) / p.n, 6) AS item_share
    FROM cells c JOIN per_src p USING (source)
    """


# --------------------------------------------------------------------------
# Keyframe extraction (round 13) — the standard video-curation step
# AFTER scene detection: keep frame 0 (every clip's mandatory
# keyframe) plus each scene-change frame, and carry the frame payload
# for the downstream embed/caption stage. Composes detect_scene_changes
# (which already yields per-frame intensity + the change flag) with a
# payload-slice projection joined back on doc_id — the frame bytes are
# cut from the SAME media row, so the join is co-keyed (hash on
# doc_id; in production both sides read one bucketed media table and
# the join is co-located, no second decode pass).
#
# 100 TB shape: output is O(videos x scenes) — the curated subset,
# typically 1-3 orders smaller than the frame stream; the only
# shuffle is the doc_id hash join of two frames derived from one scan.
# --------------------------------------------------------------------------


def keyframe_extract(media: DataFrame) -> DataFrame:
    """Frame 0 + scene-change frames, each with its frame bytes:
    ``frame_hex`` is the frame's FRAME_BYTES-wide payload slice,
    hex-encoded."""
    scenes = detect_scene_changes(media)
    keys = scenes.filter(
        (F.col("frame_idx") == 0) | (F.col("is_scene_change") == 1)
    )
    payloads = media.filter(F.col("media_type") == "video").select(
        "doc_id", F.lower(F.hex("payload")).alias("_hex")
    )
    return keys.join(payloads, "doc_id").select(
        "doc_id",
        "frame_idx",
        "intensity",
        (F.col("frame_idx") == 0).alias("is_first"),
        F.substring(
            F.col("_hex"),
            F.col("frame_idx") * (FRAME_BYTES * 2) + 1,
            FRAME_BYTES * 2,
        ).alias("frame_hex"),
    )


def sql_keyframe_extract() -> str:
    scenes = sql_detect_scene_changes()
    return f"""
    WITH scenes AS ({scenes}),
    payloads AS (
      SELECT doc_id, payload_hex FROM ({SQL_MEDIA_TABLE})
      WHERE media_type = 'video'
    )
    SELECT s.doc_id, s.frame_idx, s.intensity,
           s.frame_idx = 0 AS is_first,
           substr(p.payload_hex,
                  s.frame_idx * {FRAME_BYTES * 2} + 1,
                  {FRAME_BYTES * 2}) AS frame_hex
    FROM scenes s JOIN payloads p USING (doc_id)
    WHERE s.frame_idx = 0 OR s.is_scene_change = 1
    """
