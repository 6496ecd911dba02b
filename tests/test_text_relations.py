"""The document-token base relations of shelf_spark/queries/text.py: each
Spark builder equals its DuckDB twin row for row on a small hostile
corpus, and the query layer builds its token relations nowhere else."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from shelf_spark.queries import text
from shelf_spark.session import tune

from conftest import owners

TEXTS = {
    1: "",  # one empty token, no bigram
    2: "solo",  # one token, no bigram
    3: "a  double  spaces   triple    runs",  # runs of spaces: empty tokens
    4: None,  # no token at all
    5: "café naïve 日本語 👍🏽 café ΣΙΣΥΦΟΣ σίσυφος",
    6: "the cat sat on the mat",
    7: "the cat sat on the mat",  # identical to doc 6
    8: " leading and trailing spaces ",
}


def _tokens():
    """The reference tokenizer: Python's ``str.split(' ')`` keeps the
    empty tokens that Spark's ``split`` and DuckDB's ``string_split`` keep."""
    return {d: t.split(" ") for d, t in TEXTS.items() if t is not None}


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """A Spark session with its own ``documents`` view (temp views are per
    session, so the shared test session's views stay as they are) and a
    DuckDB connection over the same file."""
    path = str(tmp_path_factory.mktemp("text_relations") / "documents.parquet")
    ids = sorted(TEXTS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([TEXTS[d] for d in ids], pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["web"] * len(ids), pa.string()),
                "n_chars": pa.array(
                    [len(TEXTS[d] or "") for d in ids], pa.int64()
                ),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    session = tune(spark.newSession())
    session.read.parquet(path).createOrReplaceTempView("documents")
    yield session, con
    con.close()


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _both(engines, builder, twin):
    """(Spark rows, DuckDB rows), each sorted, after checking that the two
    relations have the same columns in the same order."""
    session, con = engines
    df = builder(session)
    res = con.execute(twin())
    assert df.columns == [c[0] for c in res.description]
    return _sorted(df.collect()), _sorted(res.fetchall())


def test_doc_words_twins(engines):
    got, want = _both(engines, text._doc_words, text._sql_doc_words)
    assert got == want
    assert got == _sorted((d, w) for d, ws in _tokens().items() for w in ws)
    assert (1, "") in got and 4 not in {d for d, _ in got}
    assert sum(1 for d, w in got if d == 3 and w == "") == 7


def test_word_counts_twins(engines):
    got, want = _both(engines, text._word_counts, text._sql_word_counts)
    assert got == want
    ref = Counter(w for ws in _tokens().values() for w in ws)
    assert got == _sorted(ref.items())
    assert dict(got)["café"] == 2 and dict(got)["the"] == 4


def test_doc_bigrams_twins(engines):
    got, want = _both(engines, text._doc_bigrams, text._sql_doc_bigrams)
    assert got == want
    ref = [(d, a, b) for d, ws in _tokens().items() for a, b in zip(ws, ws[1:])]
    assert got == _sorted(ref)
    assert {d for d, _, _ in got}.isdisjoint({1, 2, 4})


def test_bigram_counts_twins(engines):
    got, want = _both(engines, text._bigram_counts, text._sql_bigram_counts)
    assert got == want
    ref = Counter((a, b) for ws in _tokens().values() for a, b in zip(ws, ws[1:]))
    assert got == _sorted((a, b, c) for (a, b), c in ref.items())
    assert {(a, b): c for a, b, c in got}[("the", "cat")] == 2


@pytest.mark.parametrize(
    "pattern",
    [re.escape('[i + 1].alias("w2")'), re.escape("unnest(range(1, len(arr)))")],
    ids=["spark", "duckdb"],
)
def test_adjacent_pairs_only_in_doc_bigrams(pattern):
    assert owners(pattern) <= {
        ("text.py", "_doc_bigrams"),
        ("text.py", "_sql_doc_bigrams"),
    }
    assert owners(pattern)


#: The token explodes left outside W, each because sharing it would need a
#: parameter W does not have: Naive Bayes keeps ``lang`` and DSIR keeps
#: ``source`` beside each token; ``inverted_index`` tokenizes a relation its
#: caller supplies (text_inverted_index's oracle is its twin); phrase search
#: needs token positions. text_keyphrase_rake's positional explode and
#: dedup's k-shingles read the token array itself, so no pattern matches them.
_OWN_EXPLODES = {
    ("text.py", "_doc_words"),
    ("text.py", "_sql_doc_words"),
    ("pipeline.py", "ml_naive_bayes_langid"),
    ("sampling.py", "sample_importance_dsir"),
    ("retrieval.py", "inverted_index"),
    ("retrieval.py", "text_inverted_index"),
    ("retrieval.py", "text_phrase_search"),
}


def test_token_explodes_only_in_doc_words_and_named_operators():
    found = owners(
        r"explode\(\s*F\.split\(|explode\(\s*_words\(\)\)"
        r"|unnest\(\s*string_split\(\s*text"
    )
    assert found == _OWN_EXPLODES
