"""Multimodal-column operators (BASELINE north star §2.4).

Pattern: media (image/audio/video) travels as an opaque ``binary`` column
and is decoded by Arrow-batched Pandas functions over ``mapInPandas``.
Two tiers:

- The STUB tier (``multimodal_decode``, ``multimodal_filter_resize``)
  treats the UTF-8 bytes of ``documents.text`` as a payload and derives
  pseudo-metadata from its length; DuckDB recomputes the same numbers.
- The REAL-codec tier writes deterministic media bytes per document and
  decodes them with stdlib/numpy parsers (the ``wave`` module, ``struct``
  headers, raw pixel rows). No codec library is needed, and each oracle
  recomputes every output from the generator arithmetic alone, so a value
  match proves writer, parser and fold end to end.

Encoded media relations of the real tier, each ``doc_id, payload``:

- M ``_media(spark, kind=None)``: a mono 16-bit 8 kHz WAV for even ids
  and a 24-bit uncompressed BMP for odd ids; ``kind="wav"`` or ``"bmp"``
  keeps one kind, filtered before encoding.
- R ``_videos(spark)``: a raw container (16-byte header, then
  uncompressed 8-bit grayscale frames).

One ``mapInPandas`` encoder (``_encoded``) builds both. Decode kernels,
each written once and each beside its DuckDB twin (the paired style of
text.py and vectors.py; tests/test_media_relations.py holds every pair
equal row for row):

- ``_pcm(payload)``: int64 samples ↔ ``_SQL_PCM`` (``doc_id, n, s``).
- ``_frame_energy(pcm)``: Σ sample² per ``AUDIO_FRAME_W`` window, the
  last window partial ↔ ``_SQL_FRAME_ENERGY`` (``doc_id, n, fe``).
- ``_gray(payload)``: ``(w, h, px)`` ↔ ``_SQL_GRAY``, one row per pixel.
- ``_block_sums(px, gw, gh)``: pixel sums and counts over a
  min(w, gw)×min(h, gh) block grid ↔ ``_sql_blocks(gw, gh)``.
- ``_video(payload)``: ``(w, h, nf, frames)`` ↔ ``_SQL_VIDEO``
  (``doc_id, w, h, nf``) and the pixel formula ``_sql_video_px(f)``.

``_per_doc(media, fn, schema)`` is the one decode stage: ``fn(doc_id,
payload)`` returns that document's output rows. Both stages run inside
the scan stage, so a payload never enters a shuffle; builders return
unpinned relations and each operator pins at its call site.

Id rule: a document's media derive from ``a = abs(doc_id)`` on both
engines — its kind (parity of a), sizes and sample/pixel values — while
every output keeps the signed ``doc_id``. Python's ``%`` floors and both
engines' ``%`` truncate; on a ≥ 0 operand they agree, so writer and
twins agree for any id.

At scale: mapInPandas streams Arrow batches (spark.sql.execution.arrow.
maxRecordsPerBatch) so one task never materializes a partition of media
blobs; at 100 TB the encoder is replaced by ``binaryFile`` splits and the
kernels by Pillow/PyAV, with the same plumbing.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
from collections.abc import Callable, Iterator

import numpy as np
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


# ---------------------------------------------------------------------------
# the real-codec tier: encoded media relations, decode kernels, SQL twins
# ---------------------------------------------------------------------------

#: Sample rate and bit depth every encoded WAV and BMP carries; ``_pcm``
#: and ``_gray`` reject a header that says otherwise.
_RATE = 8000
_BPP = 24
#: Audio analysis frame length (samples).
AUDIO_FRAME_W = 16
#: Sample every k-th video frame.
FRAME_STRIDE = 3


def _make_media(doc_id: int) -> bytes:
    """M's payload: a mono 16-bit WAV (stdlib ``wave`` writer) of
    50 + a % 100 samples (a·31 + i·17) % 2000 − 1000 for even
    a = |doc_id|, else an a % 31 + 1 by a % 17 + 1 24-bit uncompressed
    BMP of grey pixels (a + x + y) % 256."""
    a = abs(doc_id)
    if a % 2 == 0:
        samples = (a * 31 + np.arange(50 + a % 100) * 17) % 2000 - 1000
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(_RATE)
            w.writeframes(samples.astype(np.int16).tobytes())
        return buf.getvalue()
    width, height = a % 31 + 1, a % 17 + 1
    row_bytes = (width * 3 + 3) // 4 * 4
    v = (a + np.add.outer(np.arange(height), np.arange(width))) % 256
    rows = np.zeros((height, row_bytes), dtype=np.uint8)
    rows[:, : width * 3] = np.repeat(v, 3, axis=1)
    pixels = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, _BPP, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + dib + pixels


def _make_video(doc_id: int) -> bytes:
    """R's payload: a 16-byte header (magic, width, height, n_frames)
    followed by n_frames uncompressed 8-bit grayscale frames,
    pixel(f, x, y) = (a·7 + f·13 + x + y) mod 256 for a = |doc_id|. A
    stand-in for a real container with the same plumbing shape (header
    parse → frame seek → pixel stats)."""
    a = abs(doc_id)
    w, h, nf = a % 16 + 4, a % 8 + 4, a % 20 + 5
    f, y, x = np.ogrid[:nf, :h, :w]
    frames = (a * 7 + f * 13 + y + x) % 256
    return struct.pack("<4sIII", b"RVID", w, h, nf) + frames.astype(np.uint8).tobytes()


def _encoded(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """``doc_id, payload``: ``make(doc_id)`` for each row of ``docs``."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": [make(int(i)) for i in pdf["doc_id"]]}
            )

    return docs.mapInPandas(encode, schema="doc_id bigint, payload binary")


def _media(spark: SparkSession, kind: str | None = None) -> DataFrame:
    """M: ``doc_id, payload``, WAV for even |doc_id|, BMP for odd."""
    d = spark.table("documents").select("doc_id")
    if kind is not None:
        d = d.filter(F.abs("doc_id") % 2 == ("wav", "bmp").index(kind))
    return _encoded(d, _make_media)


def _videos(spark: SparkSession) -> DataFrame:
    """R: ``doc_id, payload``, one raw video per document."""
    return _encoded(spark.table("documents").select("doc_id"), _make_video)


def _per_doc(
    media: DataFrame, fn: Callable[[int, bytes], list[tuple]], schema: str
) -> DataFrame:
    """One Arrow stage over M or R: ``fn(doc_id, payload)`` returns that
    document's output rows, in the column order of ``schema``."""
    cols = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for d, p in zip(pdf["doc_id"], pdf["payload"])
                for r in fn(int(d), bytes(p))
            ]
            yield pd.DataFrame.from_records(rows, columns=cols)

    return media.mapInPandas(run, schema=schema)


def _pcm(payload: bytes) -> np.ndarray:
    """The int64 samples of a mono 16-bit WAV at ``_RATE`` Hz."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if (w.getnchannels(), w.getsampwidth(), w.getframerate()) != (1, 2, _RATE):
            raise ValueError(f"not a mono 16-bit {_RATE} Hz WAV")
        return np.frombuffer(w.readframes(w.getnframes()), dtype=np.int16).astype(
            np.int64
        )


#: ``doc_id, n, s``: the samples of each WAV of M.
_SQL_PCM = """
    SELECT doc_id, 50 + abs(doc_id) % 100 AS n,
           list_transform(generate_series(0, 50 + abs(doc_id) % 100 - 1),
                          i -> (abs(doc_id) * 31 + i * 17) % 2000 - 1000) AS s
    FROM documents WHERE abs(doc_id) % 2 = 0
"""


def _frame_energy(pcm: np.ndarray) -> np.ndarray:
    """Σ sample² (int64) of each ``AUDIO_FRAME_W``-sample window, the last
    one partial."""
    pad = np.zeros(-(-len(pcm) // AUDIO_FRAME_W) * AUDIO_FRAME_W, dtype=np.int64)
    pad[: len(pcm)] = pcm * pcm
    return pad.reshape(-1, AUDIO_FRAME_W).sum(axis=1)


#: ``doc_id, n, fe``: the frame energies of each WAV of M.
_SQL_FRAME_ENERGY = f"""
    SELECT doc_id, n,
           list_transform(
             generate_series(0, CAST(ceil(n / {AUDIO_FRAME_W}.0) AS BIGINT) - 1),
             f -> list_sum(list_transform(
                    generate_series(f * {AUDIO_FRAME_W},
                                    least(f * {AUDIO_FRAME_W} + {AUDIO_FRAME_W - 1},
                                          n - 1)),
                    i -> s[i + 1] * s[i + 1]))) AS fe
    FROM ({_SQL_PCM})
"""


def _gray(payload: bytes) -> tuple[int, int, np.ndarray]:
    """``(w, h, px)`` of a 24-bit BMP of grey pixels: px is the h×w int64
    grid of channel 0 of each padded pixel row."""
    off, w, h, _, bpp = struct.unpack_from("<I4xiiHH", payload, 10)
    if bpp != _BPP:
        raise ValueError(f"not a {_BPP}-bit BMP")
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, dtype=np.uint8, count=h * row_bytes, offset=off)
    return w, h, rows.reshape(h, row_bytes)[:, : w * 3 : 3].astype(np.int64)


#: ``doc_id, w, h``: the size of each BMP of M.
_SQL_BMP = """
    SELECT doc_id, abs(doc_id) % 31 + 1 AS w, abs(doc_id) % 17 + 1 AS h
    FROM documents WHERE abs(doc_id) % 2 = 1
"""

#: ``doc_id, w, h, x, y, v``: one row per pixel of each BMP of M.
_SQL_GRAY = f"""
    SELECT d.doc_id, d.w, d.h, x.x, y.y, (abs(d.doc_id) + x.x + y.y) % 256 AS v
    FROM ({_SQL_BMP}) d,
         LATERAL (SELECT unnest(range(0, d.w)) AS x) x,
         LATERAL (SELECT unnest(range(0, d.h)) AS y) y
"""


def _block_sums(px: np.ndarray, gw: int, gh: int) -> tuple[np.ndarray, np.ndarray]:
    """(sums, counts), each min(h, gh)×min(w, gw): pixel x of a w-wide
    image falls in block column x·min(w, gw) // w, rows alike."""
    h, w = px.shape
    gw, gh = min(w, gw), min(h, gh)
    by, bx = np.arange(h) * gh // h, np.arange(w) * gw // w
    s = np.zeros((gh, gw), dtype=np.int64)
    np.add.at(s, (by[:, None], bx[None, :]), px)
    return s, np.outer(np.bincount(by, minlength=gh), np.bincount(bx, minlength=gw))


def _sql_blocks(gw: int, gh: int) -> str:
    """``doc_id, w, h, by, bx, s, n``: the twin of ``_block_sums``."""
    return f"""
      SELECT doc_id, w, h, by, bx, sum(v) AS s, count(*) AS n
      FROM (SELECT *, (x * least(w, {gw})) // w AS bx,
                      (y * least(h, {gh})) // h AS by
            FROM ({_SQL_GRAY}))
      GROUP BY doc_id, w, h, by, bx
    """


def _bits(b: np.ndarray) -> str:
    """A boolean grid as a row-major '0'/'1' string."""
    return "".join(b.ravel().astype(np.uint8).astype(str))


def _video(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """``(w, h, nf, frames)``: frames is a view of the nf·w·h frame bytes,
    so slicing one frame reads only that frame."""
    magic, w, h, nf = struct.unpack_from("<4sIII", payload, 0)
    if magic != b"RVID":
        raise ValueError("not a raw video")
    return w, h, nf, np.frombuffer(payload, dtype=np.uint8, count=nf * w * h, offset=16)


#: ``doc_id, w, h, nf``: the size of each video of R.
_SQL_VIDEO = """
    SELECT doc_id, abs(doc_id) % 16 + 4 AS w, abs(doc_id) % 8 + 4 AS h,
           abs(doc_id) % 20 + 5 AS nf
    FROM documents
"""


def _sql_video_px(f: str) -> str:
    """Pixel ``p`` (row-major) of frame ``f`` of a video of R."""
    return f"(abs(doc_id) * 7 + {f} * 13 + p % w + p // w) % 256"


# ---------------------------------------------------------------------------
# WAV/BMP decode
# ---------------------------------------------------------------------------


def _decode_one(doc_id: int, payload: bytes) -> list[tuple]:
    if payload[:4] == b"RIFF":
        s = _pcm(payload)
        # IEEE half-up, not Python banker's round: sum/n is a grid-aligned
        # rational (n can be 2^7 = 128), so an exact .5 at the 7th decimal
        # is REACHABLE for odd sums and must break like DuckDB's
        # half-away-from-zero does (equal for these >=0 values).
        mean = math.floor(int(np.abs(s).sum()) / len(s) * 1e6 + 0.5) / 1e6
        return [(doc_id, "wav", _RATE, len(s), mean, None, None, None)]
    w, h, _ = _gray(payload)
    return [(doc_id, "bmp", None, None, None, w, h, _BPP)]


@query(
    "multimodal_decode_wav_bmp",
    oracle=f"""
    SELECT doc_id, 'wav' AS media_type,
           CAST({_RATE} AS BIGINT)            AS sample_rate,
           CAST(n AS BIGINT)                  AS n_samples,
           round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE) / n, 6)
                                              AS mean_abs_amplitude,
           CAST(NULL AS BIGINT) AS width,
           CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS bpp
    FROM ({_SQL_PCM})
    UNION ALL
    SELECT doc_id, 'bmp',
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST({_BPP} AS BIGINT)
    FROM ({_SQL_BMP})
    """,
)
def multimodal_decode_wav_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip, no external libraries: M's WAV and BMP
    payloads decode back through ``_pcm`` and ``_gray`` (whose headers
    must carry ``_RATE`` and ``_BPP``) into PCM sample statistics and
    image sizes — the upgrade path from the `_decode_stub` tier above."""
    return _per_doc(
        _media(spark),
        _decode_one,
        "doc_id bigint, media_type string, sample_rate bigint, "
        "n_samples bigint, mean_abs_amplitude double, "
        "width bigint, height bigint, bpp bigint",
    )


# ---------------------------------------------------------------------------
# video frame sampling (raw container, real parser)
# ---------------------------------------------------------------------------


def _sample_frames(doc_id: int, payload: bytes) -> list[tuple]:
    w, h, nf, frames = _video(payload)
    fsize = w * h
    return [
        # direct seek: a skipped frame is never read
        (doc_id, f, nf, w, h,
         int(frames[f * fsize:(f + 1) * fsize].sum(dtype=np.int64)) * 1000000 // fsize)
        for f in range(0, nf, FRAME_STRIDE)
    ]


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH v AS ({_SQL_VIDEO}
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
           CAST(sum({_sql_video_px("f")})
                * 1000000 // (w * h) AS BIGINT) AS mean_pixel_ppm
    FROM px
    GROUP BY doc_id, f, nf, w, h
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video FRAME SAMPLING with a real parser: the decode stage seeks
    every FRAME_STRIDE-th frame of R directly (the header gives the frame
    size → byte offset, no decode of skipped frames — the cheap-seek
    property real samplers rely on) and emits per-sampled-frame pixel
    statistics. The mean is integer-exact (ppm fixed-point:
    sum·10⁶ // pixels), so the oracle value-hashes bitwise.

    Scale shape: map-only, no shuffle until the presentation sort;
    sampled-frame output is 1/stride of the frame count."""
    return _per_doc(
        _videos(spark),
        _sample_frames,
        "doc_id bigint, frame_idx bigint, n_frames bigint, "
        "width bigint, height bigint, mean_pixel_ppm bigint",
    # pin-before-sort (r15): two identical decode stages ran without it
    ).transform(pin, "reuse").orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# audio feature extraction (real WAV decode, framed energy + ZCR)
# ---------------------------------------------------------------------------


def _audio_features(doc_id: int, payload: bytes) -> list[tuple]:
    s = _pcm(payload)
    fe = _frame_energy(s)
    peak = int(fe.argmax())
    return [(doc_id, len(s), len(fe), int(fe.sum()),
             int((s[:-1] * s[1:] < 0).sum()), peak, int(fe[peak]))]


@query(
    "multimodal_audio_features",
    oracle=f"""
    WITH f AS ({_SQL_FRAME_ENERGY}
    ), zc AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(1, n - 1),
                      i -> CASE WHEN s[i] * s[i + 1] < 0 THEN 1 ELSE 0 END)) AS zc
      FROM ({_SQL_PCM})
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(len(fe) AS BIGINT) AS n_frames,
           CAST(list_sum(fe) AS BIGINT) AS total_energy,
           CAST(coalesce(zc, 0) AS BIGINT) AS n_zero_crossings,
           CAST(list_position(fe, list_max(fe)) - 1 AS BIGINT) AS peak_frame_idx,
           CAST(list_max(fe) AS BIGINT) AS peak_frame_energy
    FROM f JOIN zc USING (doc_id) ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over REAL WAV bytes: per-frame energy
    (Σ sample² over {AUDIO_FRAME_W}-sample windows — int64-exact),
    zero-crossing count and the peak-energy frame — the energy/ZCR screen
    a speech pipeline runs for voice-activity filtering and silence
    trimming before any model sees the audio. All outputs are integers →
    bit-exact across engines.

    Scale shape: map-only over M's WAVs — binary never shuffles, features
    are a few integers per file."""
    return _per_doc(
        _media(spark, "wav"),
        _audio_features,
        "doc_id bigint, n_samples bigint, n_frames bigint, "
        "total_energy bigint, n_zero_crossings bigint, "
        "peak_frame_idx bigint, peak_frame_energy bigint",
    ).transform(pin, "reuse").orderBy("doc_id")


# ---------------------------------------------------------------------------
# perceptual image hash (aHash) over real BMP decode
# ---------------------------------------------------------------------------


#: The aHash signature relation ``sig`` — the shared oracle CTE for every
#: query built on the signatures (per-image emit, signature-cluster dedup).
_SQL_AHASH = f"""
    WITH blk AS ({_sql_blocks(8, 8)}
    ), tot AS (
      SELECT doc_id, max(w) AS w, max(h) AS h,
             sum(s) AS px_total, sum(n) AS n_px
      FROM blk GROUP BY doc_id
    ), sig AS (
      SELECT b.doc_id,
             CAST(max(t.w) AS BIGINT)        AS width,
             CAST(max(t.h) AS BIGINT)        AS height,
             CAST(max(t.px_total) AS BIGINT) AS px_total,
             CAST(max(t.n_px) AS BIGINT)     AS n_px,
             string_agg(
               CASE WHEN b.s * t.n_px >= t.px_total * b.n
                    THEN '1' ELSE '0' END, '' ORDER BY b.by, b.bx) AS ahash
      FROM blk b JOIN tot t USING (doc_id)
      GROUP BY b.doc_id
    )
"""


def _ahash(doc_id: int, payload: bytes) -> list[tuple]:
    w, h, px = _gray(payload)
    s, n = _block_sums(px, 8, 8)
    total = int(px.sum())
    return [(doc_id, w, h, total, w * h, _bits(s * (w * h) >= total * n))]


def _ahash_signatures(spark: SparkSession) -> DataFrame:
    """(doc_id, width, height, px_total, n_px, ahash) signature relation,
    unsorted: M's BMPs folded into the min(dim,8)×min(dim,8) block-mean
    threshold signature. Zero shuffles — binary never leaves its
    partition. The block/global mean comparison is cross-multiplied in
    int64 (block_sum·n_px ≥ px_total·block_n) → integer-exact."""
    return _per_doc(
        _media(spark, "bmp"),
        _ahash,
        "doc_id bigint, width bigint, height bigint, "
        "px_total bigint, n_px bigint, ahash string",
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
    """Perceptual average-hash (aHash) over REAL BMP bytes — the
    near-duplicate-image fingerprint an image-dedup pipeline computes
    before signature-bucket clustering. Every output is integer-exact.

    Scale shape: see :func:`_ahash_signatures` — map-only; downstream
    grouping shuffles only the 8-byte signatures, never pixels."""
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


def _scene_cuts(doc_id: int, payload: bytes) -> list[tuple]:
    w, h, nf, frames = _video(payload)
    fr = frames.reshape(nf, w * h).astype(np.int64)
    diff = np.abs(fr[1:] - fr[:-1]).sum(axis=1)
    return [(doc_id, nf, int((diff > _CUT_THRESHOLD * w * h).sum()), int(diff.sum()))]


@query(
    "multimodal_video_scene_cuts",
    oracle=f"""
    WITH v AS ({_SQL_VIDEO}
    ), fr AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 2)) AS f
      FROM v
    ), px AS (
      SELECT doc_id, w, h, nf, f,
             unnest(generate_series(0, w * h - 1)) AS p
      FROM fr
    ), diffs AS (
      SELECT doc_id, nf, f, w * h AS n_px,
             sum(abs({_sql_video_px("f")} - {_sql_video_px("(f + 1)")}))
               AS sum_abs_diff
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
    exact.

    Scale shape: map-only over R, zero shuffles before the final
    presentation sort — each video's frames are consecutive bytes in ONE
    row, so the temporal diff needs no self-join and no window; at 100 TB
    the same stage reads binaryFile splits and emits three ints per video.
    Contrast with a frames-as-rows layout, where every consecutive-pair
    diff would be a video-keyed window over a frames-sized shuffle."""
    return _per_doc(
        _videos(spark),
        _scene_cuts,
        "doc_id bigint, n_frames bigint, n_cuts bigint, total_abs_diff bigint",
    ).transform(pin, "reuse").orderBy("doc_id")


# ---------------------------------------------------------------------------
# voice-activity segmentation
# ---------------------------------------------------------------------------

#: Frame-energy threshold separating voiced from silent frames (the
#: corpus' frame-energy median is ~4.1e6; see SCALE.md probe).
_VAD_THRESHOLD = 5_000_000


def _vad(doc_id: int, payload: bytes) -> list[tuple]:
    voiced = _frame_energy(_pcm(payload)) > _VAD_THRESHOLD
    # maximal voiced runs: +1 edges start one, -1 edges end one
    edges = np.diff(np.concatenate(([0], voiced.astype(np.int8), [0])))
    runs = np.flatnonzero(edges == -1) - np.flatnonzero(edges == 1)
    return [(doc_id, len(voiced), int(voiced.sum()), len(runs), int(runs.max(initial=0)))]


@query(
    "multimodal_audio_vad_segments",
    oracle=f"""
    WITH f AS ({_SQL_FRAME_ENERGY}
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
    SELECT f.doc_id,
           CAST(len(f.fe) AS BIGINT)                     AS n_frames,
           CAST(coalesce(p.n_voiced, 0) AS BIGINT)       AS n_voiced,
           CAST(coalesce(p.n_segments, 0) AS BIGINT)     AS n_segments,
           CAST(coalesce(p.longest_segment, 0) AS BIGINT) AS longest_segment
    FROM f LEFT JOIN per_doc p USING (doc_id)
    ORDER BY f.doc_id
    """,
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over real WAV decode: frames above the
    {_VAD_THRESHOLD} energy threshold are voiced, and maximal voiced runs
    become segments — the silence-trim / clip-boundary pass a speech
    pipeline runs before transcription (per file: voiced frame count,
    segment count, longest segment). Energies are int64-exact and the
    run decomposition is integer arithmetic.

    Scale shape: map-only over M's WAVs, zero shuffles before the
    presentation sort — a file's frames are consecutive samples of ONE
    row, so the run-length pass is a numpy diff inside the stage, never a
    frames-sized shuffle + islands window (contrast: the oracle, holding
    frames as rows, pays exactly that window — the row-per-frame
    layout's cost)."""
    return _per_doc(
        _media(spark, "wav"),
        _vad,
        "doc_id bigint, n_frames bigint, n_voiced bigint, "
        "n_segments bigint, longest_segment bigint",
    ).transform(pin, "reuse").orderBy("doc_id")


def _dhash(doc_id: int, payload: bytes) -> list[tuple]:
    w, h, px = _gray(payload)
    s, n = _block_sums(px, 9, 8)
    return [(doc_id, w, h, _bits(s[:, 1:] * n[:, :-1] > s[:, :-1] * n[:, 1:]))]


@query(
    "multimodal_image_dhash",
    oracle=f"""
    WITH blk AS ({_sql_blocks(9, 8)}
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
      FROM blk GROUP BY doc_id
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

    Scale shape: same contract as :func:`_ahash_signatures` — map-only,
    ZERO shuffles before the presentation sort, pixels never leave their
    partition."""
    return _per_doc(
        _media(spark, "bmp"),
        _dhash,
        "doc_id bigint, width bigint, height bigint, dhash string",
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
    out = []
    for k in _DFT_BANDS:
        for j in range(_DFT_N):
            ang = 2.0 * math.pi * k * j / _DFT_N
            out.append(
                (
                    k,
                    j,
                    int(math.floor(math.cos(ang) * 1e9 + 0.5)),
                    int(math.floor(math.sin(ang) * 1e9 + 0.5)),
                )
            )
    return tuple(out)


_TWIDDLES = _tw_nanos()
_SQL_TWIDDLES = ", ".join(f"({k}, {j}, {c}, {s})" for k, j, c, s in _TWIDDLES)
#: The twiddles as two band × j int64 matrices (cos, sin).
_COS, _SIN = (
    np.array([[t[i] for t in _TWIDDLES if t[0] == k] for k in _DFT_BANDS], dtype=np.int64)
    for i in (2, 3)
)

#: Per-frame band power from the exact integer-nano component sums —
#: the ONE place floats appear, identical shape on both engines.
_DFT_POWER = (
    "((CAST(re_n AS DOUBLE) / 1000000000.0)"
    " * (CAST(re_n AS DOUBLE) / 1000000000.0)"
    " + (CAST(im_n AS DOUBLE) / 1000000000.0)"
    "   * (CAST(im_n AS DOUBLE) / 1000000000.0))"
)


def _dft(doc_id: int, payload: bytes) -> list[tuple]:
    s = _pcm(payload)
    x = s[: len(s) // _DFT_N * _DFT_N].reshape(-1, _DFT_N)  # full frames only
    re, im = x @ _COS.T, x @ _SIN.T
    return [
        (doc_id, f, k, int(re[f, b]), int(im[f, b]))
        for f in range(len(x))
        for b, k in enumerate(_DFT_BANDS)
    ]


@query(
    "multimodal_audio_spectrogram",
    oracle=f"""
    WITH tw(k, j, cv, sv) AS (VALUES {_SQL_TWIDDLES}),
    p AS ({_SQL_PCM}
    ), fr AS (
      SELECT doc_id, s, unnest(generate_series(0, n // {_DFT_N} - 1)) AS f
      FROM p
    ), comp AS (
      SELECT fr.doc_id, fr.f, tw.k,
             CAST(sum(fr.s[fr.f * {_DFT_N} + tw.j + 1] * tw.cv) AS BIGINT) AS re_n,
             CAST(sum(fr.s[fr.f * {_DFT_N} + tw.j + 1] * tw.sv) AS BIGINT) AS im_n
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
    identically by numpy (Spark, over ``_pcm``) and SQL (oracle, over
    ``_SQL_PCM``); band power is the ONE shared IEEE expression, rounded
    onto the 1e-6 grid before the per-doc DECIMAL total.

    Scale shape: decode + DFT are map-only (the 16×4 integer matmul
    rides inside the partition, samples never shuffle); the only
    exchange carries (doc, frame, band) component pairs — 4 ints per
    frame, not audio. Peak selection is a PARTITIONED window over that
    bounded relation."""
    comp = _per_doc(
        _media(spark, "wav"),
        _dft,
        "doc_id bigint, f bigint, k bigint, re_n bigint, im_n bigint",
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
