"""Text-analysis operators over `documents` (BASELINE north star §2.4).

Language-ID, quality scoring, token counting, and document fingerprinting —
the per-document text passes an LLM training-data pipeline runs before
dedup/filtering. All implemented with JVM-side higher-order array
functions (split → transform/filter/aggregate), no Python in the hot path:
at 100 TB these are narrow map-only stages that pipeline with the scan.

Cross-engine determinism: token counts are integers; ratios are single
IEEE divisions of identical integers; composite scores use one fixed
left-associative expression shape on both sides.

Document-token base relations. The word, word-count and bigram relations
of the text, retrieval, sampling and pipeline operators come from four
relations defined once here, each as a Spark builder ``_x(spark)`` next to
its DuckDB twin ``_sql_x()`` (stats.py's paired style;
tests/test_text_relations.py holds them equal row for row):

- W ``_doc_words``: ``doc_id, word``, one row per whitespace token.
- V ``_word_counts``: ``word, c`` (BIGINT), the corpus count of each word
  of W.
- P ``_doc_bigrams``: ``doc_id, w1, w2``, the adjacent token pairs inside
  each document.
- B ``_bigram_counts``: ``w1, w2, c12`` (BIGINT), the corpus count of each
  pair of P.

Rules. A token is an element of ``split(text, ' ')`` on both engines,
with nothing trimmed, case-folded or dropped: an empty text is one empty
token, n spaces between two words leave n − 1 empty tokens (a leading or
trailing space one more), and a NULL text gives no row. A document of
fewer than two tokens has no bigram. Builders return unpinned relations;
each caller pins at its call site, and a caller that publishes a token
under another name aliases ``word`` itself. Operators that
need another key beside the token (a language, a source, a position) or
read a relation other than ``documents`` keep their own explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .num import davg_i, sql_davg_i
from .pin import pin
from .registry import query

#: Stopword set for the ratio features (vocabulary-appropriate: the
#: synthetic corpus is bag-of-tech-words English across all langs).
STOPWORDS = ("the", "a")

def _words() -> Column:
    """Tokenized `text` (lazy: building a Column needs an active session)."""
    return F.split(F.col("text"), " ")


def _n_stop(words: Column) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))


def _doc_words(spark: SparkSession) -> DataFrame:
    """W: ``doc_id, word``."""
    return spark.table("documents").select(
        "doc_id", F.explode(_words()).alias("word")
    )


def _sql_doc_words() -> str:
    return "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"


def _word_counts(spark: SparkSession) -> DataFrame:
    """V: ``word, c``."""
    return _doc_words(spark).groupBy("word").agg(
        F.count("*").cast("long").alias("c")
    )


def _sql_word_counts() -> str:
    return f"""
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM ({_sql_doc_words()}) GROUP BY word"""


def _doc_bigrams(spark: SparkSession) -> DataFrame:
    """P: ``doc_id, w1, w2``."""
    arr = F.col("arr")
    return (
        spark.table("documents")
        .select("doc_id", _words().alias("arr"))
        # size >= 2 guard: for a 1-token doc sequence(0, -1) would yield the
        # DESCENDING array [0, -1] and emit two spurious null-word bigrams
        # the oracle never produces (latent on fixtures with >=10-token docs).
        .filter(F.size(arr) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(arr) - 2),
                    lambda i: F.struct(arr[i].alias("w1"), arr[i + 1].alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )


def _sql_doc_bigrams() -> str:
    return """
      SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
           LATERAL (SELECT unnest(range(1, len(arr))) AS i) s"""


def _bigram_counts(spark: SparkSession) -> DataFrame:
    """B: ``w1, w2, c12``."""
    return _doc_bigrams(spark).groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )


def _sql_bigram_counts() -> str:
    return f"""
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM ({_sql_doc_bigrams()}) GROUP BY w1, w2"""


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           round(CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6)                    AS avg_token_len
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.table("documents")
    total_len = F.aggregate(
        F.transform(_words(), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(_words()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(_words())).cast("long").alias("n_distinct_tokens"),
        F.round(total_len.cast("double") / F.size(_words()), 6).alias("avg_token_len"),
    )


@query(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) * 10
                  >= len(string_split(text, ' ')) THEN 'en'
             WHEN length(text) % 5 = 0 THEN 'zh'
             ELSE 'unk'
           END AS pred_lang,
           (CASE
             WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) * 10
                  >= len(string_split(text, ' ')) THEN 'en'
             WHEN length(text) % 5 = 0 THEN 'zh'
             ELSE 'unk'
           END = lang) AS is_correct
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-density n-gram-style profiling).

    NOTE: the synthetic corpus shares one vocabulary across all `lang`
    values, so no text-only classifier can genuinely recover the label —
    this pins the *operator shape* (deterministic features → rule), with
    accuracy measured against the `lang` column.
    """
    d = spark.table("documents")
    pred = (
        F.when(_n_stop(_words()) * 10 >= F.size(_words()), "en")
        .when(F.length("text") % 5 == 0, "zh")
        .otherwise("unk")
    )
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           round(
             0.5 * least(n_chars / 500.0, 1.0)
             + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             + 0.2 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens),
           6) AS quality,
           (n_tokens >= 20) AS len_ok
    FROM feat
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality = length saturation + lexical diversity + (1 - stopword
    # density), one fixed expression shape on both engines.
    d = spark.table("documents")
    n_tokens = F.size(_words()).cast("long")
    n_distinct = F.size(F.array_distinct(_words())).cast("long")
    n_stop = _n_stop(_words()).cast("long")
    quality = F.round(
        F.lit(0.5) * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
        + F.lit(0.3) * (n_distinct.cast("double") / n_tokens)
        + F.lit(0.2) * (F.lit(1.0) - n_stop.cast("double") / n_tokens),
        6,
    )
    return d.select(
        "doc_id",
        quality.alias("quality"),
        (n_tokens >= 20).alias("len_ok"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(text) AS doc_sha256,
           CASE WHEN len(string_split(text, ' ')) >= 5 THEN
             list_aggregate(
               list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 4),
                 i -> sha256(array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))),
               'min')
           END AS min_shingle_hash
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winnowing-style fingerprint: whole-doc SHA-256 + min over 5-word
    # shingle hashes (SHA-256 so both engines agree; the framework's
    # content-addressing hash reused at row level).
    d = spark.table("documents")
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.size(_words()) - 4),
        lambda i: F.sha2(F.concat_ws(" ", F.slice(_words(), i, F.lit(5))), 256),
    )
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("doc_sha256"),
        F.when(F.size(_words()) >= 5, F.array_min(shingle_hashes)).alias("min_shingle_hash"),
    )


@query(
    "docs_stats_by_source",
    oracle=f"""
    SELECT source, lang,
           count(*) AS n_docs,
           {sql_davg_i('n_chars', 0)} AS avg_chars,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def docs_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.table("documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        davg_i(F.col("n_chars"), 0).alias("avg_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


#: GPT-2-style pre-tokenizer classes, minus the trailing-space lookahead
#: (RE2 in DuckDB has no lookahead; Java regex agrees on this subset):
#: contractions, space-prefixed letter runs, digit runs, punctuation runs.
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
#: The same pattern as a SQL string literal (apostrophe doubled).
_BPE_ISH_SQL = _BPE_ISH.replace("'", "''")


@query(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT)                    AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS DOUBLE)
                 / len(string_split(text, ' ')), 6)                        AS bpe_per_word
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE-ish token counting: the GPT-2 pre-tokenizer's character classes
    # as one regexp_extract_all — a narrow map stage (the real BPE merge
    # table lookup would be a pandas UDF over these pre-tokens). The
    # bpe-per-word ratio is the standard "how expensive is this text to
    # tokenize" signal for mixture planning.
    d = spark.table("documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH), 0)
    n_bpe = F.size(toks).cast("long")
    n_ws = F.size(_words()).cast("long")
    return d.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_bpe.cast("double") / n_ws, 6).alias("bpe_per_word"),
    )


# ---------------------------------------------------------------------------
# r8e: BPE merge-step pair counts (tokenizer training's inner loop)
# ---------------------------------------------------------------------------

_BPE_TOP = 20


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH vocab AS ({_sql_word_counts()}
    ), pairs AS (
      SELECT substr(word, i, 2) AS pair, c
      FROM (SELECT word, c, unnest(generate_series(1, len(word) - 1)) AS i
            FROM vocab WHERE len(word) >= 2) t
    )
    SELECT pair,
           CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_vocab_words
    FROM pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step's candidate table: corpus-weighted adjacent
    character-pair frequencies over the word vocabulary — the argmax row
    is exactly the merge a byte-pair-encoding tokenizer [Sennrich et
    al., ACL'16] would learn next; re-running after applying the merge
    is the training loop.

    100 TB shape (why BPE training parallelizes): pair counting runs on
    the DISTINCT-word vocabulary carrying corpus weights — the corpus
    is touched once by the word-count agg (map-side combined; shuffle
    carries (word, count), sub-linear in corpus size), and the
    char-pair explosion is vocab-sized, not corpus-sized. Top-k is
    TakeOrderedAndProject on the pair-domain-bounded aggregate."""
    pairs = _word_counts(spark).filter(F.length("word") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_vocab_words"),
        )
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# r8e: winnowing fingerprints (MOSS local document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 3  #: words per k-gram
_WIN_W = 4  #: k-gram hashes per winnowing window


def winnow_selected(spark: SparkSession) -> DataFrame:
    """(doc_id, hs, sel): per-doc k-gram hash array and the winnowed
    (rightmost-min) selected positions — shared by the fingerprint
    stats operator and the dedup pair generator (dedup.py)."""
    d = spark.table("documents").filter(
        F.size(F.split("text", " ")) >= _WIN_K + _WIN_W - 1
    )
    hs = F.expr(
        f"transform(sequence(1, size(t) - {_WIN_K - 1}),"
        f" g -> CAST(conv(substr(sha2(concat_ws(' ', slice(t, g, {_WIN_K})), 256),"
        " 1, 8), 16, 10) AS BIGINT))"
    )
    sel = F.expr(
        f"array_distinct(transform(sequence(1, size(hs) - {_WIN_W - 1}),"
        f" i -> aggregate(sequence(0, {_WIN_W - 1}),"
        "   named_struct('bh', CAST(9223372036854775807 AS BIGINT), 'bp', -1),"
        "   (acc, j) -> IF(element_at(hs, i + j) <= acc.bh,"
        "     named_struct('bh', element_at(hs, i + j), 'bp', i + j), acc)).bp))"
    )
    return (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("hs", hs)
        .withColumn("sel", sel)
    )


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {_WIN_K + _WIN_W - 1}
    ), grams AS (
      SELECT doc_id, g,
             CAST((
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)
             ) AS BIGINT) AS hv
      FROM (SELECT doc_id, g,
                   sha256(array_to_string(t[g:g + {_WIN_K - 1}], ' ')) AS h
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - {_WIN_K - 1})) AS g
                  FROM toks) x) y
    ), grid AS (
      SELECT g.doc_id, w.i, g.g AS pos, g.hv
      FROM (SELECT doc_id,
                   unnest(generate_series(1, max(g) - {_WIN_W - 1})) AS i
            FROM grams GROUP BY doc_id) w
      JOIN grams g ON g.doc_id = w.doc_id
                  AND g.g BETWEEN w.i AND w.i + {_WIN_W - 1}
    ), wins AS (
      SELECT doc_id, i, min(hv) AS mh FROM grid GROUP BY 1, 2
    ), sel AS (
      SELECT DISTINCT g.doc_id, sub.p AS pos
      FROM (SELECT g.doc_id, g.i, max(g.pos) AS p
            FROM grid g JOIN wins USING (doc_id, i)
            WHERE g.hv = wins.mh GROUP BY g.doc_id, g.i) sub
      JOIN grams g ON g.doc_id = sub.doc_id AND g.g = sub.p
    )
    SELECT s.doc_id,
           CAST(max(g.g) AS BIGINT) AS n_grams,
           CAST(count(DISTINCT s.pos) AS BIGINT) AS n_selected,
           min(g2.hv) AS min_fp
    FROM sel s
    JOIN grams g ON g.doc_id = s.doc_id
    JOIN grams g2 ON g2.doc_id = s.doc_id AND g2.g = s.pos
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing [Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS
    fingerprinting algorithm]: hash every {_WIN_K}-word k-gram, slide a
    window of {_WIN_W} consecutive hashes, and select each window's
    RIGHTMOST minimum — the local fingerprinting rule that guarantees
    any shared substring of length ≥ k + w − 1 produces at least one
    shared fingerprint, with expected density 2/(w+1) (the guarantee
    random per-doc MinHash sampling cannot give). Emits per-doc
    fingerprint stats + the smallest selected print (the doc's
    coarsest identity).

    100 TB shape: entirely map-only — each doc's selection runs inside
    one row over its own bounded gram array (windows×w ≈ 800 lambda
    touches per ~200-token doc — the SMALL-array regime where
    higher-order lambdas are the right tool, per the simhash lesson);
    no shuffle until the per-doc stats agg. The DuckDB oracle runs the
    identical rightmost-min rule on an exploded grid, value-exact via
    the shared sha256-prefix gram hashes."""
    return (
        winnow_selected(spark)
        .select(
            "doc_id",
            F.size("hs").cast("long").alias("n_grams"),
            F.size("sel").cast("long").alias("n_selected"),
            F.expr(
                "array_min(transform(sel, p -> element_at(hs, p)))"
            ).alias("min_fp"),
        )
        # pin-before-sort (r15): the winnow selection ran twice without it
        .transform(pin, "reuse")
        .orderBy("doc_id")
    )


@query(
    "text_novelty_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
      FROM toks, LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) s
    ), firsts AS (
      SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY g
    ), scored AS (
      SELECT grams.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(*) FILTER (WHERE firsts.first_doc = grams.doc_id)
                  AS BIGINT) AS n_novel
      FROM grams JOIN firsts USING (g)
      GROUP BY grams.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             AS novelty
    FROM scored
    ORDER BY novelty ASC, doc_id LIMIT 25
    """,
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring: for each document, the fraction of its
    distinct 3-grams that FIRST appear in it (first = lowest doc_id,
    the ingestion-order proxy) — the curriculum/diversity signal a
    data-mixing pipeline uses to prefer documents that add new content
    over documents that rehash the corpus (dedup asks "is this a copy?";
    novelty asks "how much of this have we seen ANYWHERE?"). Emits the
    25 LEAST novel documents — the rehash candidates.

    Scale shape: grams explode map-side and dedupe per doc in the same
    pass; first-seen is ONE min-aggregate on the gram domain (map-side
    combinable — the shuffle carries one candidate per gram per map
    partition); scoring joins docs' grams back on the gram key — the
    same single-exchange shape as text_decontaminate. No doc ever
    compares against another doc pairwise."""
    # Docs with <3 tokens have no 3-grams; without this guard the
    # descending F.sequence(0, size-3) would fabricate null-index grams
    # the oracle's range(1, len-1) never emits (r8 ADVICE).
    toks = (
        spark.table("documents")
        .select("doc_id", F.split("text", " ").alias("l"))
        .where(F.size("l") >= 3)
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("l") - 3),
                lambda i: F.concat_ws(
                    " ", F.col("l")[i], F.col("l")[i + 1], F.col("l")[i + 2]
                ),
            )
        ).alias("g"),
    ).distinct()
    firsts = grams.groupBy("g").agg(F.min("doc_id").cast("long").alias("first_doc"))
    scored = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(25)
    )
