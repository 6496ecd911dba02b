"""Multimodal-column operators (BASELINE north star §2.4).

Pattern: media (image/audio/video) travels as an opaque ``binary`` column
with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched Pandas functions over ``mapInPandas``. The real codec
libraries aren't in this container, so the *decode* is a clearly marked
deterministic stub — but the Spark plumbing (binary schema, Arrow batch
transfer, UDF signature, partition behavior) is real and oracle-checked:
the stub derives metadata from the bytes deterministically, so DuckDB can
verify the full path.

At scale: mapInPandas streams Arrow batches (spark.sql.execution.arrow.
maxRecordsPerBatch) so one task never materializes a partition of media
blobs; pair with small files → maxPartitionBytes tuning for real media.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query

_DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_hash string, "
    "fake_width bigint, fake_height bigint, n_frames bigint"
)


def _decode_stub(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: deterministic pseudo-metadata from the raw bytes.

    A real deployment plugs Pillow/torchaudio/PyAV in here; the container
    has none of them, so we derive (width, height, frames) from byte
    length — keeping every downstream shape real and testable.
    """
    n = len(payload)
    return (n % 640 + 1, (n * 7) % 480 + 1, n % 16 + 1)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        dims = [_decode_stub(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in payloads],
                "content_hash": [hashlib.sha256(p).hexdigest() for p in payloads],
                "fake_width": [d[0] for d in dims],
                "fake_height": [d[1] for d in dims],
                "n_frames": [d[2] for d in dims],
            }
        )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)       AS n_bytes,
           sha256(text)                                     AS content_hash,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT)       AS fake_width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS fake_height,
           CAST(octet_length(encode(text)) % 16 + 1 AS BIGINT)        AS n_frames
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents.text encoded to a BinaryType payload stands in for media
    # bytes; mapInPandas(+Arrow) carries it to Python, the stub "decodes",
    # and DuckDB independently recomputes the metadata from the same bytes.
    d = spark.table("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return d.mapInPandas(_decode_batches, schema=_DECODE_SCHEMA)


@query(
    "multimodal_filter_resize",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS w,
             CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, n_bytes, w, h,
           CAST(least(w, 224) AS BIGINT) AS out_w,
           CAST(least(h, 224) AS BIGINT) AS out_h,
           round(CAST(w AS DOUBLE) / h, 6) AS aspect
    FROM meta
    WHERE n_bytes >= 200
    """,
)
def multimodal_filter_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Typical media pipeline stage: filter on metadata, compute resize
    # targets JVM-side (the actual pixel resample would live in the same
    # mapInPandas stage as the decode stub).
    d = spark.table("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    meta = d.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        (F.length("payload") % 640 + 1).cast("long").alias("w"),
        ((F.length("payload") * 7) % 480 + 1).cast("long").alias("h"),
    )
    return meta.filter(F.col("n_bytes") >= 200).select(
        "doc_id",
        "n_bytes",
        "w",
        "h",
        F.least(F.col("w"), F.lit(224)).cast("long").alias("out_w"),
        F.least(F.col("h"), F.lit(224)).cast("long").alias("out_h"),
        F.round(F.col("w").cast("double") / F.col("h"), 6).alias("aspect"),
    )


def _make_media(doc_id: int) -> bytes:
    """Deterministic REAL media bytes per doc: even ids get a mono 16-bit
    WAV (stdlib ``wave`` writer), odd ids a 24-bit uncompressed BMP —
    formats decodable with zero external codec libraries."""
    import io
    import struct
    import wave

    import numpy as np

    if doc_id % 2 == 0:
        n = 50 + doc_id % 100
        samples = np.array(
            [(doc_id * 31 + i * 17) % 2000 - 1000 for i in range(n)], dtype=np.int16
        )
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        return buf.getvalue()
    width, height = doc_id % 31 + 1, doc_id % 17 + 1
    row_bytes = (width * 3 + 3) // 4 * 4
    pixels = bytearray()
    for y in range(height):
        row = bytearray()
        for x in range(width):
            v = (doc_id + x + y) % 256
            row += bytes((v, v, v))
        row += b"\x00" * (row_bytes - len(row))
        pixels += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + dib + bytes(pixels)


def _decode_media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL decoders: wave-module WAV parse (header + PCM frames), struct
    BMP parse (DIB header fields). Runs per Arrow batch."""
    import io
    import math
    import struct
    import wave

    import numpy as np

    for pdf in batches:
        out = {
            "doc_id": [], "media_type": [], "sample_rate": [], "n_samples": [],
            "mean_abs_amplitude": [], "width": [], "height": [], "bpp": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = bytes(payload)
            out["doc_id"].append(doc_id)
            if payload[:4] == b"RIFF":
                with wave.open(io.BytesIO(payload), "rb") as w:
                    sr, nf = w.getframerate(), w.getnframes()
                    data = np.frombuffer(w.readframes(nf), dtype=np.int16)
                out["media_type"].append("wav")
                out["sample_rate"].append(sr)
                out["n_samples"].append(nf)
                # IEEE half-up, not Python banker's round: sum/nf is a
                # grid-aligned rational (nf can be 2^7 = 128), so an
                # exact .5 at the 7th decimal is REACHABLE for odd sums
                # and the engines must break it like DuckDB's
                # half-away-from-zero does (equal for these >=0 values).
                # The current fixture dodges it only by a parity
                # accident (even nf => even sum).
                s_abs = int(np.abs(data.astype(np.int64)).sum())
                out["mean_abs_amplitude"].append(
                    math.floor(s_abs / nf * 1e6 + 0.5) / 1e6
                )
                out["width"].append(None)
                out["height"].append(None)
                out["bpp"].append(None)
            else:
                w_, h_ = struct.unpack_from("<ii", payload, 18)
                bpp = struct.unpack_from("<H", payload, 28)[0]
                out["media_type"].append("bmp")
                out["sample_rate"].append(None)
                out["n_samples"].append(None)
                out["mean_abs_amplitude"].append(None)
                out["width"].append(w_)
                out["height"].append(h_)
                out["bpp"].append(bpp)
        yield pd.DataFrame(out)


@query(
    "multimodal_decode_wav_bmp",
    oracle="""
    SELECT doc_id, 'wav' AS media_type,
           CAST(8000 AS BIGINT)               AS sample_rate,
           CAST(50 + doc_id % 100 AS BIGINT)  AS n_samples,
           round(CAST(list_sum(list_transform(
                   generate_series(0, 50 + doc_id % 100 - 1),
                   i -> abs((doc_id * 31 + i * 17) % 2000 - 1000))) AS DOUBLE)
                 / (50 + doc_id % 100), 6)    AS mean_abs_amplitude,
           CAST(NULL AS BIGINT) AS width,
           CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS bpp
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 'bmp',
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(doc_id % 31 + 1 AS BIGINT),
           CAST(doc_id % 17 + 1 AS BIGINT),
           CAST(24 AS BIGINT)
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def multimodal_decode_wav_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip, no external libraries: each document gets
    deterministic media bytes (even doc_id → mono 16-bit PCM WAV written
    by the stdlib ``wave`` module; odd → 24-bit uncompressed BMP), and a
    second Arrow-batched stage decodes them back with real parsers (wave
    reader / struct DIB-header parse + PCM sample statistics). The oracle
    recomputes the expected metadata from the generation arithmetic alone,
    so a value match proves encoder AND decoder are faithful — this is the
    upgrade path from the `_decode_stub` tier above: swap `_make_media`
    for `binaryFile` ingest and these decoders for Pillow/PyAV when the
    libs exist, with identical Spark plumbing.
    """
    d = spark.table("documents").select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        _decode_media_batches,
        schema=(
            "doc_id bigint, media_type string, sample_rate bigint, "
            "n_samples bigint, mean_abs_amplitude double, "
            "width bigint, height bigint, bpp bigint"
        ),
    )


# ---------------------------------------------------------------------------
# video frame sampling (raw container, real parser)
# ---------------------------------------------------------------------------

#: Sample every k-th frame.
FRAME_STRIDE = 3


def _make_video(doc_id: int) -> bytes:
    """Deterministic raw 'video': a 16-byte header (magic, width, height,
    n_frames) followed by n_frames uncompressed 8-bit grayscale frames,
    pixel(f, x, y) = (doc_id·7 + f·13 + x + y) mod 256. A stand-in for a
    real container with the same plumbing shape (header parse → frame
    seek → pixel stats); swap for PyAV when the lib exists."""
    import struct

    w = doc_id % 16 + 4
    h = doc_id % 8 + 4
    nf = doc_id % 20 + 5
    frames = bytearray()
    for f in range(nf):
        base = doc_id * 7 + f * 13
        for y in range(h):
            for x in range(w):
                frames.append((base + x + y) % 256)
    return struct.pack("<4sIII", b"RVID", w, h, nf) + bytes(frames)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             doc_id % 16 + 4 AS w,
             doc_id % 8 + 4 AS h,
             doc_id % 20 + 5 AS nf
      FROM documents
    ), fr AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS f
      FROM v
    ), sampled AS (
      SELECT * FROM fr WHERE f % {FRAME_STRIDE} = 0
    ), px AS (
      SELECT doc_id, w, h, nf, f,
             unnest(generate_series(0, w * h - 1)) AS p
      FROM sampled
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(sum((doc_id * 7 + f * 13 + p % w + p // w) % 256)
                * 1000000 // (w * h) AS BIGINT) AS mean_pixel_ppm
    FROM px
    GROUP BY doc_id, f, nf, w, h
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video FRAME SAMPLING with a real parser: encode a deterministic
    raw multi-frame container per doc (header + uncompressed grayscale
    frames), then an Arrow-batched stage seeks every FRAME_STRIDE-th
    frame directly (header gives the frame size → byte offset, no full
    decode of skipped frames — the cheap-seek property real samplers
    rely on) and emits per-sampled-frame pixel statistics. The mean is
    integer-exact (ppm fixed-point: sum·10⁶ // pixels), so the oracle —
    which recomputes from the generation arithmetic alone — value-hashes
    bitwise; a match proves writer AND sampler faithful.

    Scale shape: both stages are Arrow-batched ``mapInPandas`` over rows
    partitioned by the natural file/doc key — embarrassingly parallel,
    no shuffle at all until a downstream agg; sampled-frame output is
    1/stride of the frame count. The binary payload never enters a
    shuffle."""
    import numpy as np
    import struct

    d = spark.table("documents").select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_video(int(i)) for i in pdf["doc_id"]],
                }
            )

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "n_frames": [],
                "width": [], "height": [], "mean_pixel_ppm": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                magic, w, h, nf = struct.unpack_from("<4sIII", payload, 0)
                assert magic == b"RVID"
                fsize = w * h
                for f in range(0, nf, FRAME_STRIDE):
                    off = 16 + f * fsize  # direct seek — skipped frames unread
                    frame = np.frombuffer(payload, dtype=np.uint8,
                                          count=fsize, offset=off)
                    s = int(frame.astype(np.int64).sum())
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(f)
                    out["n_frames"].append(nf)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_pixel_ppm"].append(s * 1000000 // fsize)
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        sample_batches,
        schema=(
            "doc_id bigint, frame_idx bigint, n_frames bigint, "
            "width bigint, height bigint, mean_pixel_ppm bigint"
        ),
    # pin-before-sort (r15): two identical decode stages ran without it
    ).transform(pin, "reuse").orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# audio feature extraction (real WAV decode, framed energy + ZCR)
# ---------------------------------------------------------------------------

#: Audio analysis frame length (samples).
AUDIO_FRAME_W = 16


@query(
    "multimodal_audio_features",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             50 + doc_id % 100 AS n,
             list_transform(generate_series(0, 50 + doc_id % 100 - 1),
                            i -> (doc_id * 31 + i * 17) % 2000 - 1000) AS s
      FROM documents WHERE doc_id % 2 = 0
    ), f AS (
      SELECT doc_id, n, s,
             list_transform(
               generate_series(0, CAST(ceil(n / {AUDIO_FRAME_W}.0) AS BIGINT) - 1),
               f -> list_sum(list_transform(
                      generate_series(f * {AUDIO_FRAME_W},
                                      least(f * {AUDIO_FRAME_W} + {AUDIO_FRAME_W - 1},
                                            n - 1)),
                      i -> s[i + 1] * s[i + 1]))) AS fe,
             list_sum(list_transform(generate_series(1, n - 1),
                      i -> CASE WHEN s[i] * s[i + 1] < 0 THEN 1 ELSE 0 END)) AS zc
      FROM p
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(len(fe) AS BIGINT) AS n_frames,
           CAST(list_sum(fe) AS BIGINT) AS total_energy,
           CAST(coalesce(zc, 0) AS BIGINT) AS n_zero_crossings,
           CAST(list_position(fe, list_max(fe)) - 1 AS BIGINT) AS peak_frame_idx,
           CAST(list_max(fe) AS BIGINT) AS peak_frame_energy
    FROM f ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over REAL WAV bytes (no external codec):
    the PCM stream is framed into {AUDIO_FRAME_W}-sample windows and
    reduced to per-frame energy (Σ sample² — int64-exact), zero-crossing
    count, and the peak-energy frame — the energy/ZCR screen a speech
    pipeline runs for voice-activity filtering and silence trimming
    before any model sees the audio. The oracle recomputes every number
    from the generator arithmetic alone, so a value match proves the
    stdlib ``wave`` decode AND the numpy frame math are faithful
    end-to-end (same contract as multimodal_decode_wav_bmp).

    Scale shape: two Arrow-batched ``mapInPandas`` stages (encode,
    then decode+reduce) — binary never shuffles, features are a few
    integers per file; at 100 TB of audio the same plan reads
    ``binaryFile`` splits instead of the deterministic generator, with
    maxRecordsPerBatch bounding how many blobs one Arrow batch holds.
    All outputs are integers → bit-exact across engines."""
    import io
    import wave

    import numpy as np

    d = spark.table("documents").filter(F.col("doc_id") % 2 == 0).select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_samples": [], "n_frames": [],
                "total_energy": [], "n_zero_crossings": [],
                "peak_frame_idx": [], "peak_frame_energy": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    data = np.frombuffer(
                        w.readframes(w.getnframes()), dtype=np.int16
                    ).astype(np.int64)
                n = len(data)
                nf = -(-n // AUDIO_FRAME_W)
                fe = [
                    int((data[f * AUDIO_FRAME_W:(f + 1) * AUDIO_FRAME_W] ** 2).sum())
                    for f in range(nf)
                ]
                peak = max(fe)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(n)
                out["n_frames"].append(nf)
                out["total_energy"].append(sum(fe))
                out["n_zero_crossings"].append(int(((data[:-1] * data[1:]) < 0).sum()))
                out["peak_frame_idx"].append(fe.index(peak))
                out["peak_frame_energy"].append(peak)
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        feature_batches,
        schema=(
            "doc_id bigint, n_samples bigint, n_frames bigint, "
            "total_energy bigint, n_zero_crossings bigint, "
            "peak_frame_idx bigint, peak_frame_energy bigint"
        ),
    ).transform(pin, "reuse").orderBy("doc_id")


# ---------------------------------------------------------------------------
# perceptual image hash (aHash) over real BMP decode
# ---------------------------------------------------------------------------


#: Arithmetic recomputation of the aHash signature relation — the shared
#: oracle CTE for every query built on the signatures (per-image emit,
#: signature-cluster dedup).
_SQL_AHASH = """
    WITH d AS (
      SELECT doc_id, doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS h
      FROM documents WHERE doc_id % 2 = 1
    ), px AS (
      SELECT d.doc_id, d.w, d.h, x.x, y.y,
             (d.doc_id + x.x + y.y) % 256 AS v,
             (x.x * least(d.w, 8)) // d.w AS bx,
             (y.y * least(d.h, 8)) // d.h AS by
      FROM d,
           LATERAL (SELECT unnest(range(0, d.w)) AS x) x,
           LATERAL (SELECT unnest(range(0, d.h)) AS y) y
    ), blk AS (
      SELECT doc_id, by, bx, sum(v) AS bsum, count(*) AS bn
      FROM px GROUP BY doc_id, by, bx
    ), tot AS (
      SELECT doc_id, max(w) AS w, max(h) AS h,
             sum(v) AS px_total, count(*) AS n_px
      FROM px GROUP BY doc_id
    ), sig AS (
      SELECT b.doc_id,
             CAST(max(t.w) AS BIGINT)        AS width,
             CAST(max(t.h) AS BIGINT)        AS height,
             CAST(max(t.px_total) AS BIGINT) AS px_total,
             CAST(max(t.n_px) AS BIGINT)     AS n_px,
             string_agg(
               CASE WHEN b.bsum * t.n_px >= t.px_total * b.bn
                    THEN '1' ELSE '0' END, '' ORDER BY b.by, b.bx) AS ahash
      FROM blk b JOIN tot t USING (doc_id)
      GROUP BY b.doc_id
    )
"""


def _ahash_signatures(spark: SparkSession) -> DataFrame:
    """(doc_id, width, height, px_total, n_px, ahash) signature relation,
    unsorted: encode real BMP bytes, decode with struct/numpy, fold into
    the min(dim,8)×min(dim,8) block-mean threshold signature. Two
    Arrow-batched mapInPandas stages, zero shuffles — binary never leaves
    its partition. The block/global mean comparison is cross-multiplied
    in int64 (block_sum·n_px ≥ px_total·block_n) → integer-exact."""
    import struct

    import numpy as np

    d = spark.table("documents").filter(F.col("doc_id") % 2 == 1).select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    def ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "px_total": [], "n_px": [], "ahash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                w, h = struct.unpack_from("<ii", payload, 18)
                off = struct.unpack_from("<I", payload, 10)[0]
                row_bytes = (w * 3 + 3) // 4 * 4
                rows = np.frombuffer(
                    payload, dtype=np.uint8, count=h * row_bytes, offset=off
                ).reshape(h, row_bytes)
                # Grayscale generator → channel 0 of each 3-byte pixel.
                px = rows[:, : w * 3 : 3].astype(np.int64)
                gw, gh = min(w, 8), min(h, 8)
                bx = np.arange(w) * gw // w
                by = np.arange(h) * gh // h
                # Block sums/counts via two bincount folds (rows then cols).
                col_sum = np.zeros((h, gw), dtype=np.int64)
                for j in range(gw):
                    col_sum[:, j] = px[:, bx == j].sum(axis=1)
                bsum = np.zeros((gh, gw), dtype=np.int64)
                for i in range(gh):
                    bsum[i] = col_sum[by == i].sum(axis=0)
                bn = np.outer(np.bincount(by, minlength=gh),
                              np.bincount(bx, minlength=gw)).astype(np.int64)
                total, n_px = int(px.sum()), w * h
                bits = (bsum * n_px >= total * bn).astype(np.uint8)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["px_total"].append(total)
                out["n_px"].append(n_px)
                out["ahash"].append("".join("1" if b else "0" for b in bits.ravel()))
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        ahash_batches,
        schema=(
            "doc_id bigint, width bigint, height bigint, "
            "px_total bigint, n_px bigint, ahash string"
        ),
    )


@query(
    "multimodal_image_ahash",
    oracle=_SQL_AHASH
    + """
    SELECT doc_id, width, height, px_total, n_px, ahash
    FROM sig ORDER BY doc_id
    """,
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL BMP bytes: encode stage
    writes each odd-doc image as a 24-bit uncompressed BMP, decode stage
    parses the DIB header + padded pixel rows back with struct/numpy and
    emits the min(dim,8)×min(dim,8) block-mean threshold signature — the
    near-duplicate-image fingerprint an image-dedup pipeline computes
    before signature-bucket clustering. Every output is integer-exact and
    the oracle recomputes all of them from the pixel-generation
    arithmetic alone — a value match proves the encoder, the real BMP
    parse, and the block fold are faithful end-to-end (same contract as
    multimodal_decode_wav_bmp).

    Scale shape: see :func:`_ahash_signatures` — map-only; at 100 TB the
    encode stage is replaced by binaryFile splits; downstream grouping
    shuffles only the 8-byte signatures, never pixels."""
    return (
        _ahash_signatures(spark)
        .transform(pin, "reuse")
        .orderBy("doc_id")
    )


@query(
    "dedup_image_ahash",
    oracle=_SQL_AHASH
    + """
    SELECT least(width, 8)  AS gw,
           least(height, 8) AS gh,
           ahash,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(doc_id) AS BIGINT) AS canonical_id
    FROM sig
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
    ORDER BY gw, gh, ahash
    """,
)
def dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual-signature equality: images sharing the
    same (block-grid, aHash) signature collapse into one cluster with the
    lowest doc_id canonical — the screenshot/resize/re-encode duplicate
    collapse an image-corpus pipeline runs before training (byte-level
    exact dedup misses these; this catches them because aHash is
    invariant to the re-encodes that change bytes but not appearance).
    The grid dims join the key so signatures of different block shapes
    (e.g. 4×8 vs 8×4, same 32-bit string length) never alias.

    Scale shape: the signature relation is map-only (zero shuffles,
    :func:`_ahash_signatures`); clustering is ONE map-side-combined
    groupBy carrying ≤8-byte signatures + two ints per image — pixels
    never shuffle, output is bounded by distinct signatures. A
    Hamming-tolerant variant would band the signature like
    dedup_minhash_lsh; on this corpus hd≤3 collapses 47% of all pairs
    (measured at sf0.1), so exact-signature buckets are the
    output-bounded choice."""
    sig = _ahash_signatures(spark)
    return (
        sig.groupBy(
            F.least(F.col("width"), F.lit(8)).alias("gw"),
            F.least(F.col("height"), F.lit(8)).alias("gh"),
            "ahash",
        )
        .agg(
            F.count("*").cast("long").alias("n_images"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_images") >= 2)
        .orderBy("gw", "gh", "ahash")
    )


# ---------------------------------------------------------------------------
# video scene-cut detection
# ---------------------------------------------------------------------------

#: Mean-abs-diff threshold (pixel levels) above which a consecutive-frame
#: transition counts as a hard cut. Compared cross-multiplied in int64:
#: sum_abs_diff > _CUT_THRESHOLD · n_px.
_CUT_THRESHOLD = 64


@query(
    "multimodal_video_scene_cuts",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             doc_id % 16 + 4 AS w,
             doc_id % 8 + 4 AS h,
             doc_id % 20 + 5 AS nf
      FROM documents
    ), fr AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 2)) AS f
      FROM v
    ), px AS (
      SELECT doc_id, w, h, nf, f,
             unnest(generate_series(0, w * h - 1)) AS p
      FROM fr
    ), diffs AS (
      SELECT doc_id, nf, f, w * h AS n_px,
             sum(abs(
               ((doc_id * 7 + f * 13 + p // w + p % w) % 256)
               - ((doc_id * 7 + (f + 1) * 13 + p // w + p % w) % 256)
             )) AS sum_abs_diff
      FROM px GROUP BY doc_id, nf, f, w, h
    )
    SELECT doc_id,
           CAST(max(nf) AS BIGINT) AS n_frames,
           CAST(count(*) FILTER (
             WHERE sum_abs_diff > {_CUT_THRESHOLD} * n_px) AS BIGINT)
                                   AS n_cuts,
           CAST(sum(sum_abs_diff) AS BIGINT) AS total_abs_diff
    FROM diffs GROUP BY doc_id ORDER BY doc_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-cut detection over the raw video container: consecutive-frame
    mean absolute pixel difference, thresholded at {_CUT_THRESHOLD}
    levels — the shot-boundary screen a video-corpus pipeline runs to
    pick clip boundaries before sampling training frames (cuts are where
    content changes; sampling across them mixes scenes). The comparison
    is cross-multiplied in int64 (Σ|Δ| > τ·n_px), every output integer-
    exact, and the oracle recomputes the full diff cascade from the
    generation arithmetic alone — a value match proves writer, parser,
    and temporal-diff fold end-to-end.

    Scale shape: one encode + one decode/diff Arrow-batched mapInPandas
    pair, zero shuffles before the final presentation sort — each video's
    frames are consecutive bytes in ONE row, so the temporal diff needs
    no self-join and no window; at 100 TB the same stage reads
    binaryFile splits and emits three ints per video. Contrast with a
    frames-as-rows layout, where every consecutive-pair diff would be a
    video-keyed window over a frames-sized shuffle."""
    import struct

    import numpy as np

    d = spark.table("documents").select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_video(int(i)) for i in pdf["doc_id"]],
                }
            )

    def cuts_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "n_cuts": [], "total_abs_diff": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                magic, w, h, nf = struct.unpack_from("<4sIII", payload, 0)
                assert magic == b"RVID"
                frames = np.frombuffer(
                    payload, dtype=np.uint8, count=nf * w * h, offset=16
                ).reshape(nf, w * h).astype(np.int64)
                diff = np.abs(frames[1:] - frames[:-1]).sum(axis=1)
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
                out["n_cuts"].append(int((diff > _CUT_THRESHOLD * w * h).sum()))
                out["total_abs_diff"].append(int(diff.sum()))
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        cuts_batches,
        schema=(
            "doc_id bigint, n_frames bigint, n_cuts bigint, "
            "total_abs_diff bigint"
        ),
    ).transform(pin, "reuse").orderBy("doc_id")


# ---------------------------------------------------------------------------
# voice-activity segmentation
# ---------------------------------------------------------------------------

#: Frame-energy threshold separating voiced from silent frames (the
#: corpus' frame-energy median is ~4.1e6; see SCALE.md probe).
_VAD_THRESHOLD = 5_000_000


@query(
    "multimodal_audio_vad_segments",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             50 + doc_id % 100 AS n,
             list_transform(generate_series(0, 50 + doc_id % 100 - 1),
                            i -> (doc_id * 31 + i * 17) % 2000 - 1000) AS s
      FROM documents WHERE doc_id % 2 = 0
    ), f AS (
      SELECT doc_id, n,
             list_transform(
               generate_series(0, CAST(ceil(n / {AUDIO_FRAME_W}.0) AS BIGINT) - 1),
               f -> list_sum(list_transform(
                      generate_series(f * {AUDIO_FRAME_W},
                                      least(f * {AUDIO_FRAME_W} + {AUDIO_FRAME_W - 1},
                                            n - 1)),
                      i -> s[i + 1] * s[i + 1]))) AS fe
      FROM p
    ), voiced AS (
      SELECT doc_id, len(fe) AS n_frames, v.f AS fidx
      FROM f, LATERAL (SELECT unnest(generate_series(1, len(fe))) AS f) v
      WHERE fe[v.f] > {_VAD_THRESHOLD}
    ), runs AS (
      SELECT doc_id, n_frames,
             fidx - row_number() OVER (PARTITION BY doc_id ORDER BY fidx)
               AS grp
      FROM voiced
    ), seg AS (
      SELECT doc_id, max(n_frames) AS n_frames, grp, count(*) AS seg_len
      FROM runs GROUP BY doc_id, grp
    ), per_doc AS (
      SELECT doc_id, max(n_frames) AS n_frames,
             count(*) AS n_segments,
             sum(seg_len) AS n_voiced,
             max(seg_len) AS longest_segment
      FROM seg GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(f.fe_len AS BIGINT)                      AS n_frames,
           CAST(coalesce(p.n_voiced, 0) AS BIGINT)       AS n_voiced,
           CAST(coalesce(p.n_segments, 0) AS BIGINT)     AS n_segments,
           CAST(coalesce(p.longest_segment, 0) AS BIGINT) AS longest_segment
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
      JOIN (SELECT doc_id, len(fe) AS fe_len FROM f) f USING (doc_id)
      LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over real WAV decode: frames above the
    {_VAD_THRESHOLD} energy threshold are voiced, and maximal voiced runs
    become segments — the silence-trim / clip-boundary pass a speech
    pipeline runs before transcription (per file: voiced frame count,
    segment count, longest segment). Energies are int64-exact, the run
    decomposition is integer arithmetic, and the oracle recomputes the
    whole cascade (including the gaps-and-islands grouping) from the
    generation arithmetic — writer, stdlib wave decode, and run-length
    fold all proven end-to-end.

    Scale shape: one encode + one decode/segment Arrow-batched
    mapInPandas pair, zero shuffles before the presentation sort — a
    file's frames are consecutive samples of ONE row, so the run-length
    pass is a numpy diff inside the stage, never a frames-sized shuffle
    + islands window (contrast: the oracle, holding frames as rows, pays
    exactly that window — the row-per-frame layout's cost)."""
    import io
    import struct
    import wave

    import numpy as np

    d = spark.table("documents").filter(F.col("doc_id") % 2 == 0).select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    def vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_voiced": [],
                "n_segments": [], "longest_segment": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    nf = w.getnframes()
                    data = np.frombuffer(
                        w.readframes(nf), dtype=np.int16
                    ).astype(np.int64)
                n_frames = -(-nf // AUDIO_FRAME_W)
                pad = np.zeros(n_frames * AUDIO_FRAME_W, dtype=np.int64)
                pad[:nf] = data * data
                fe = pad.reshape(n_frames, AUDIO_FRAME_W).sum(axis=1)
                voiced = fe > _VAD_THRESHOLD
                # run-length decomposition: starts where voiced rises
                starts = int(
                    (voiced & ~np.concatenate(([False], voiced[:-1]))).sum()
                )
                longest = 0
                run = 0
                for v in voiced:
                    run = run + 1 if v else 0
                    longest = max(longest, run)
                out["doc_id"].append(doc_id)
                out["n_frames"].append(n_frames)
                out["n_voiced"].append(int(voiced.sum()))
                out["n_segments"].append(starts)
                out["longest_segment"].append(longest)
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        vad_batches,
        schema=(
            "doc_id bigint, n_frames bigint, n_voiced bigint, "
            "n_segments bigint, longest_segment bigint"
        ),
    ).transform(pin, "reuse").orderBy("doc_id")


@query(
    "multimodal_image_dhash",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS h
      FROM documents WHERE doc_id % 2 = 1
    ), px AS (
      SELECT d.doc_id, d.w, d.h,
             (d.doc_id + x.x + y.y) % 256 AS v,
             (y.y * least(d.h, 8)) // d.h AS by,
             (x.x * least(d.w, 9)) // d.w AS bx
      FROM d,
           LATERAL (SELECT unnest(range(0, d.w)) AS x) x,
           LATERAL (SELECT unnest(range(0, d.h)) AS y) y
    ), blk AS (
      SELECT doc_id, by, bx, sum(v) AS s, count(*) AS n
      FROM px GROUP BY doc_id, by, bx
    ), bits AS (
      SELECT a.doc_id,
             string_agg(CASE WHEN b.s * a.n > a.s * b.n THEN '1' ELSE '0' END,
                        '' ORDER BY a.by, a.bx) AS dhash
      FROM blk a JOIN blk b
        ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1
      GROUP BY a.doc_id
    ), dims AS (
      SELECT doc_id, CAST(max(w) AS BIGINT) AS width,
             CAST(max(h) AS BIGINT) AS height
      FROM px GROUP BY doc_id
    )
    SELECT dims.doc_id, dims.width, dims.height,
           coalesce(bits.dhash, '') AS dhash
    FROM dims LEFT JOIN bits USING (doc_id)
    ORDER BY doc_id
    """,
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL BMP decode: fold the
    grayscale image into a min(w,9)×min(h,8) block-mean grid and emit one
    bit per horizontally-adjacent pair (right mean > left mean) — the
    gradient fingerprint that, unlike multimodal_image_ahash's global-
    mean threshold, is invariant to uniform brightness shifts (the
    re-encode artifact aHash is weakest against; production image-dedup
    stacks run both). The mean comparison cross-multiplies in int64
    (s_right·n_left > s_left·n_right) — integer-exact, no float means;
    a 1-column image legitimately emits the empty hash ('' both engines).

    Scale shape: same contract as :func:`_ahash_signatures` — two
    Arrow-batched mapInPandas stages, ZERO shuffles, pixels never leave
    their partition; at 100 TB the encode stage is replaced by
    binaryFile splits and downstream dedup shuffles only ≤8-byte
    signatures. Oracle recomputes the full pipe from the pixel
    arithmetic (value match proves encoder + real BMP parse + block
    fold end-to-end)."""
    import struct

    import numpy as np

    d = spark.table("documents").filter(F.col("doc_id") % 2 == 1).select("doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    def dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "dhash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                w, h = struct.unpack_from("<ii", payload, 18)
                off = struct.unpack_from("<I", payload, 10)[0]
                row_bytes = (w * 3 + 3) // 4 * 4
                rows = np.frombuffer(
                    payload, dtype=np.uint8, count=h * row_bytes, offset=off
                ).reshape(h, row_bytes)
                px = rows[:, : w * 3 : 3].astype(np.int64)
                gw, gh = min(w, 9), min(h, 8)
                bx = np.arange(w) * gw // w
                by = np.arange(h) * gh // h
                s = np.zeros((gh, gw), dtype=np.int64)
                n = np.zeros((gh, gw), dtype=np.int64)
                for i in range(gh):
                    ri = px[by == i]
                    for j in range(gw):
                        blkpx = ri[:, bx == j]
                        s[i, j] = blkpx.sum()
                        n[i, j] = blkpx.size
                bits = []
                for i in range(gh):
                    for j in range(gw - 1):
                        bits.append(
                            "1" if s[i, j + 1] * n[i, j] > s[i, j] * n[i, j + 1]
                            else "0"
                        )
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["dhash"].append("".join(bits))
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    return media.mapInPandas(
        dhash_batches,
        schema="doc_id bigint, width bigint, height bigint, dhash string",
    ).transform(pin, "reuse").orderBy("doc_id")


# ---------------------------------------------------------------------------
# audio spectrogram: framed DFT over real WAV decode, integer-nano exact
# ---------------------------------------------------------------------------

#: DFT bands (bins of the 16-point transform) and the twiddle factors as
#: INTEGER NANOS — cos/sin(2πkj/16) pre-rounded onto the 1e-9 grid once,
#: at module level. The literals ARE the spec: both engines multiply
#: int16 samples by these exact integers and sum in int64, so the frame
#: sums are bit-identical by construction; floats only enter in the one
#: shared power expression.
_DFT_N = 16
_DFT_BANDS = (1, 2, 3, 4)


def _tw_nanos() -> tuple:
    import math as _m

    out = []
    for k in _DFT_BANDS:
        for j in range(_DFT_N):
            ang = 2.0 * _m.pi * k * j / _DFT_N
            out.append(
                (
                    k,
                    j,
                    int(_m.floor(_m.cos(ang) * 1e9 + 0.5)),
                    int(_m.floor(_m.sin(ang) * 1e9 + 0.5)),
                )
            )
    return tuple(out)


_TWIDDLES = _tw_nanos()
_SQL_TWIDDLES = ", ".join(f"({k}, {j}, {c}, {s})" for k, j, c, s in _TWIDDLES)

#: Per-frame band power from the exact integer-nano component sums —
#: the ONE place floats appear, identical shape on both engines.
_DFT_POWER = (
    "((CAST(re_n AS DOUBLE) / 1000000000.0)"
    " * (CAST(re_n AS DOUBLE) / 1000000000.0)"
    " + (CAST(im_n AS DOUBLE) / 1000000000.0)"
    "   * (CAST(im_n AS DOUBLE) / 1000000000.0))"
)


@query(
    "multimodal_audio_spectrogram",
    oracle=f"""
    WITH tw(k, j, cv, sv) AS (VALUES {_SQL_TWIDDLES}),
    p AS (
      SELECT doc_id, 50 + doc_id % 100 AS n
      FROM documents WHERE doc_id % 2 = 0
    ), fr AS (
      SELECT doc_id, n, unnest(generate_series(0, n // {_DFT_N} - 1)) AS f
      FROM p
    ), comp AS (
      SELECT fr.doc_id, fr.f, tw.k,
             CAST(sum(((fr.doc_id * 31 + (fr.f * {_DFT_N} + tw.j) * 17) % 2000
                       - 1000) * tw.cv) AS BIGINT) AS re_n,
             CAST(sum(((fr.doc_id * 31 + (fr.f * {_DFT_N} + tw.j) * 17) % 2000
                       - 1000) * tw.sv) AS BIGINT) AS im_n
      FROM fr JOIN tw ON true
      GROUP BY 1, 2, 3
    ), pw AS (
      SELECT doc_id, k, f,
             CAST({_sql_round_ieee(_DFT_POWER, 6)} AS DECIMAL(38,6)) AS p6
      FROM comp
    ), ranked AS (
      SELECT doc_id, k, f, p6,
             row_number() OVER (PARTITION BY doc_id, k
                                ORDER BY p6 DESC, f) AS rk
      FROM pw
    )
    SELECT doc_id, CAST(k AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(p6) AS DOUBLE) AS power_total,
           CAST(min(CASE WHEN rk = 1 THEN f END) AS BIGINT) AS peak_frame,
           CAST(max(CASE WHEN rk = 1 THEN p6 END) AS DOUBLE) AS peak_power
    FROM ranked GROUP BY doc_id, k
    """,
)
def multimodal_audio_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed spectrogram over REAL WAV decode: each audio doc's PCM
    stream is cut into full {_DFT_N}-sample frames and transformed with
    a {_DFT_N}-point DFT at bands k∈{_DFT_BANDS}; per (doc, band) the
    op reports frame count, total band power, and the peak frame — the
    frequency-domain screen (hum detection, band-limited silence, codec
    artifacts) that energy/ZCR (multimodal_audio_features) cannot see.

    The cross-engine-exactness trick: the twiddle factors are INTEGER
    NANO literals fixed at module level, so every frame's DFT component
    is an exact int64 sum (|re| ≤ 16·1000·10⁹ ≈ 1.6e13) computed
    identically by numpy (Spark, over the stdlib-wave-decoded bytes)
    and SQL (oracle, over the generator arithmetic); band power is the
    ONE shared IEEE expression, rounded onto the 1e-6 grid before the
    per-doc DECIMAL total. A value match proves the real WAV parse and
    the transform end-to-end.

    Scale shape: decode + DFT are Arrow-batched map-only stages (the
    16×4 integer matmul rides inside the partition, samples never
    shuffle); the only exchange carries (doc, frame, band) component
    pairs — 4 ints per frame, not audio. Peak selection is a
    PARTITIONED window over that bounded relation."""
    import io
    import wave

    import numpy as np

    d = spark.table("documents").filter(F.col("doc_id") % 2 == 0).select("doc_id")
    cmat = np.array(
        [[c for k2, j, c, s in _TWIDDLES if k2 == k] for k in _DFT_BANDS],
        dtype=np.int64,
    )
    smat = np.array(
        [[s for k2, j, c, s in _TWIDDLES if k2 == k] for k in _DFT_BANDS],
        dtype=np.int64,
    )

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_make_media(int(i)) for i in pdf["doc_id"]],
                }
            )

    def dft_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "f": [], "k": [], "re_n": [], "im_n": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    data = np.frombuffer(
                        w.readframes(w.getnframes()), dtype=np.int16
                    ).astype(np.int64)
                nfr = len(data) // _DFT_N
                for f in range(nfr):
                    x = data[f * _DFT_N : (f + 1) * _DFT_N]
                    re = cmat @ x
                    im = smat @ x
                    for bi, k in enumerate(_DFT_BANDS):
                        out["doc_id"].append(int(doc_id))
                        out["f"].append(f)
                        out["k"].append(k)
                        out["re_n"].append(int(re[bi]))
                        out["im_n"].append(int(im[bi]))
            yield pd.DataFrame(out)

    media = d.mapInPandas(encode_batches, schema="doc_id bigint, payload binary")
    comp = media.mapInPandas(
        dft_batches,
        schema="doc_id bigint, f bigint, k bigint, re_n bigint, im_n bigint",
    )
    pw = comp.select(
        "doc_id",
        "k",
        "f",
        _round_ieee(F.expr(_DFT_POWER), 6).cast("decimal(38,6)").alias("p6"),
    )
    wr = W.partitionBy("doc_id", "k").orderBy(F.desc("p6"), "f")
    ranked = pw.withColumn("rk", F.row_number().over(wr))
    return ranked.groupBy("doc_id", F.col("k").cast("long").alias("band")).agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("p6").cast("double").alias("power_total"),
        F.min(F.when(F.col("rk") == 1, F.col("f"))).cast("long").alias("peak_frame"),
        F.max(F.when(F.col("rk") == 1, F.col("p6"))).cast("double").alias("peak_power"),
    )
