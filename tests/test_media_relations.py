"""The encoded media relations and decode kernels of
shelf_spark/queries/multimodal.py: each kernel over M and R equals its
DuckDB twin row for row on a small hostile ``documents`` table, each
real-codec operator equals its oracle there, and the module parses media
nowhere else."""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from shelf_spark.queries import ORACLES, QUERIES, multimodal as mm
from shelf_spark.session import tune

from conftest import owners

#: doc_id → the case it covers (a = |doc_id| generates the media).
DOCS = {
    0: "50 samples; a 5-frame video",
    98: "148 samples: a partial audio frame, which the spectrogram drops",
    1: "a 2×2 image",
    31: "a 1-column image: the empty dHash",
    99: "a 24-frame video",
    16: "66 samples; a 4×4 video",
    -4: "a negative even id: 54 samples, as for 4",
    -3: "a negative odd id: a 4×4 image, as for 3",
    3: "the image of -3: a dedup cluster whose canonical id is negative",
}

OPERATORS = [
    "multimodal_decode_wav_bmp",
    "multimodal_frame_sample",
    "multimodal_audio_features",
    "multimodal_image_ahash",
    "dedup_image_ahash",
    "multimodal_video_scene_cuts",
    "multimodal_audio_vad_segments",
    "multimodal_image_dhash",
    "multimodal_audio_spectrogram",
]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """A Spark session with its own ``documents`` view (temp views are per
    session, so the shared test session's views stay as they are), a
    DuckDB connection over the same file, and the payloads of M and R
    collected from Spark."""
    d = tmp_path_factory.mktemp("media_relations")
    path = str(d / "documents.parquet")
    ids = list(DOCS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([DOCS[i] for i in ids], pa.string()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    session = tune(spark.newSession())
    session.read.parquet(path).createOrReplaceTempView("documents")
    media = {r.doc_id: bytes(r.payload) for r in mm._media(session).collect()}
    videos = {r.doc_id: bytes(r.payload) for r in mm._videos(session).collect()}
    yield session, con, str(d), media, videos
    con.close()


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _sql(con, sql):
    return _sorted(con.execute(sql).fetchall())


def _wavs(media):
    return {i: p for i, p in media.items() if p[:4] == b"RIFF"}


def _bmps(media):
    return {i: p for i, p in media.items() if p[:2] == b"BM"}


def test_relations_cover_the_hostile_cases(engines):
    *_, media, videos = engines
    assert sorted(media) == sorted(videos) == sorted(DOCS)
    assert sorted(_wavs(media)) == [-4, 0, 16, 98]
    assert sorted(_bmps(media)) == [-3, 1, 3, 31, 99]
    n = {i: len(mm._pcm(p)) for i, p in _wavs(media).items()}
    assert n == {0: 50, 98: 148, 16: 66, -4: 54} and 148 % mm._DFT_N
    dims = {i: mm._gray(p)[:2] for i, p in _bmps(media).items()}
    assert dims[1] == (2, 2) and dims[31][0] == 1 and dims[-3] == (4, 4)
    assert {mm._video(p)[2] for p in videos.values()} >= {5, 24}
    # -4 and -3 carry the media of 4 and 3
    assert media[-4] == mm._make_media(4) and videos[-3] == mm._make_video(3)


def test_pcm_twins(engines):
    _, con, _, media, _ = engines
    got = _sorted(
        (i, len(s), [int(x) for x in s])
        for i, p in _wavs(media).items()
        for s in [mm._pcm(p)]
    )
    assert got == _sql(con, mm._SQL_PCM)


def test_frame_energy_twins(engines):
    _, con, _, media, _ = engines
    got = _sorted(
        (i, len(s), [int(x) for x in mm._frame_energy(s)])
        for i, p in _wavs(media).items()
        for s in [mm._pcm(p)]
    )
    assert got == _sql(con, mm._SQL_FRAME_ENERGY)
    fe = {r[0]: r[2] for r in got}
    assert len(fe[98]) == 10  # 9 full frames and one of 4 samples


def test_gray_twins(engines):
    _, con, _, media, _ = engines
    got = _sorted(
        (i, w, h, x, y, int(px[y, x]))
        for i, p in _bmps(media).items()
        for w, h, px in [mm._gray(p)]
        for y in range(h)
        for x in range(w)
    )
    assert got == _sql(con, mm._SQL_GRAY)


@pytest.mark.parametrize("gw, gh", [(8, 8), (9, 8)])
def test_block_sums_twins(engines, gw, gh):
    _, con, _, media, _ = engines
    got = []
    for i, p in _bmps(media).items():
        w, h, px = mm._gray(p)
        s, n = mm._block_sums(px, gw, gh)
        got += [
            (i, w, h, by, bx, int(s[by, bx]), int(n[by, bx]))
            for by, bx in np.ndindex(s.shape)
        ]
    assert _sorted(got) == _sql(con, mm._sql_blocks(gw, gh))


def test_video_twins(engines):
    _, con, _, _, videos = engines
    dims = {i: mm._video(p) for i, p in videos.items()}
    assert _sorted((i, w, h, nf) for i, (w, h, nf, _) in dims.items()) == _sql(
        con, mm._SQL_VIDEO
    )
    got = _sorted(
        (i, f, p, int(frames[f * w * h + p]))
        for i, (w, h, nf, frames) in dims.items()
        for f in range(nf)
        for p in range(w * h)
    )
    want = _sql(
        con,
        f"""SELECT doc_id, f, p, {mm._sql_video_px("f")}
            FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS p
                  FROM (SELECT *, unnest(generate_series(0, nf - 1)) AS f
                        FROM ({mm._SQL_VIDEO})))""",
    )
    assert got == want


@pytest.mark.parametrize("name", OPERATORS)
def test_media_operators_match_oracles(engines, name):
    """Each real-codec operator, run unregistered (``__wrapped__``) on the
    hostile table, equals its DuckDB oracle, negative ids included."""
    session, con, sf_dir, _, _ = engines
    df = QUERIES[name].__wrapped__(session, sf_dir)
    res = con.execute(ORACLES[name])
    assert df.columns == [c[0] for c in res.description]
    got = _sorted(df.collect())
    assert got == _sorted(res.fetchall())
    assert got
    key = "canonical_id" if name == "dedup_image_ahash" else "doc_id"
    assert {r[df.columns.index(key)] for r in got} & {-4, -3}


#: (pattern, owners in multimodal.py): media are written and parsed only in
#: the relations, the kernels and ``_per_doc``. multimodal_decode, of the
#: stub tier, runs its own Arrow stage over the bytes of ``documents.text``.
_GUARDS = {
    "wave": (re.escape("wave.open("), {"_make_media", "_pcm"}),
    "struct": (re.escape("struct.unpack_from("), {"_gray", "_video"}),
    "arrow": (
        re.escape("mapInPandas("),
        {"_encoded", "_per_doc", "multimodal_decode"},
    ),
}


@pytest.mark.parametrize("guard", sorted(_GUARDS))
def test_media_parsed_only_in_relations_and_kernels(guard):
    pattern, allowed = _GUARDS[guard]
    assert {n for f, n in owners(pattern) if f == "multimodal.py"} == allowed
