"""Retrieval / indexing operators over `documents`: TF-IDF, BM25, and
sliding-window chunking — the text-to-training-example passes between raw
corpus and model input (BASELINE north-star §2.4 companions to text.py).

Reference parity: shelf has no text layer (it delegates all compute to
DuckDB/Polars steps, reference src/shelf/tables.py:142-181); these are
the operators a shelf user curating an LLM corpus would write as steps.

Cross-engine determinism: tf/df/N are integers; idf = ln of a single
division of exact ints (identical IEEE ops); per-term scores are rounded
onto a decimal grid BEFORE any cross-term summation, and the cross-term
sum then runs in DECIMAL — exact, order-independent.

Scale notes (100 TB):
- The token explode is a narrow map stage that pipelines with the scan —
  no shuffle until the (doc_id, word) count.
- Document frequency never materializes as a joined table: TF-IDF
  computes it as a count window inside the word-partitioned exchange
  (one deterministic shuffle, no broadcast-or-merge flip, safe for an
  unbounded typo-tail vocabulary); BM25's df IS broadcast, but only
  after the query-term filter bounds it to the query's own terms.
- N and avgdl are single scalars: computed once, crossJoin-broadcast.
- Chunking is pure per-row array arithmetic (sequence → slice →
  posexplode): map-only, zero shuffles, output partitioning inherited.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query
from .text import _doc_words, _sql_doc_words
from .vectors import _dot, _sql_dot, _sql_vecs, _vecs

#: Fixed-point carrier for summing per-term scores exactly.
_DEC6 = "decimal(18,6)"

#: BM25 hyperparameters (standard Robertson defaults).
_K1, _B = 1.2, 0.75

#: Fixed query terms for the BM25 ranking demo (mid-frequency vocabulary
#: of the synthetic corpus — see text.py's corpus note).
_QUERY_TERMS = ("window", "broadcast", "slow")


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS ({tok}
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, word,
             {score} AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, word
    """.format(
        tok=_sql_doc_words(),
        score=_sql_round_ieee(
            "CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))", 6
        )
    ),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. One linear pipeline, three
    deterministic exchanges: tf shuffles on (doc_id, word) with map-side
    combine; df is a count(*) window over word computed INSIDE the
    word-partitioned exchange (tf has exactly one row per distinct
    (doc, word), so the partition count IS the document frequency) — no
    tf⋈df join at all, so there is no AQE broadcast-or-merge flip to
    stabilize and no driver-memory hazard from an unbounded typo-tail
    vocabulary; then the ranking window re-partitions by doc_id.
    N is a 1-row crossJoin broadcast. idf = ln(N/df) on exact ints →
    identical IEEE doubles on both engines."""
    tf = _doc_words(spark).groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n = spark.table("documents").agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(W.partitionBy("word")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            _round_ieee(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "word")
    )


def _bm25_term_score() -> Column:
    """BM25 per-(doc, term) partial: idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).

    All inputs are exact (ints or int-ratio doubles), the expression shape
    is fixed → identical IEEE result on both engines; rounded to a
    6-decimal grid so the cross-term DECIMAL sum is exact.
    """
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    return _round_ieee(
        idf * (tf * (_K1 + 1.0)) / (tf + _K1 * (1.0 - _B + _B * (dl / avgdl))), 6
    )


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH tok AS ({_sql_doc_words()}
    ), dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
    ), corpus AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM tok
      WHERE word IN {_QUERY_TERMS!r}
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tok
      WHERE word IN {_QUERY_TERMS!r}
      GROUP BY word
    ), term_scores AS (
      SELECT doc_id,
             {{score}} AS s
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN corpus
    )
    SELECT doc_id,
           CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
    FROM term_scores
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """.format(
        score=_sql_round_ieee(
            "(ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)"
            " / (CAST(df AS DOUBLE) + 0.5) + 1.0))"
            f" * (CAST(tf AS DOUBLE) * {_K1 + 1.0})"
            f" / (CAST(tf AS DOUBLE) + {_K1} * ((1.0 - {_B})"
            f" + {_B} * (CAST(dl AS DOUBLE)"
            " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))",
            6,
        )
    ),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed 3-term query. The term filter
    lands BEFORE the tf aggregation (the corpus-side work is proportional
    to query-term postings, not corpus size); df and the corpus scalars
    broadcast; per-term partials round onto a 6-decimal grid, then the
    per-doc sum runs exactly in DECIMAL — order-independent."""
    d = spark.table("documents")
    tok = _doc_words(spark).filter(F.col("word").isin(*_QUERY_TERMS))
    dl = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    corpus = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scores = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", _bm25_term_score().alias("s"))
    )
    return (
        scores.groupBy("doc_id")
        .agg(F.sum(F.col("s").cast(_DEC6)).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "text_chunk_sliding",
    oracle="""
    SELECT doc_id, k AS chunk_start,
           array_to_string(list_slice(words, k + 1, k + 32), ' ') AS chunk_text,
           CAST(len(list_slice(words, k + 1, k + 32)) AS BIGINT)  AS n_chunk_tokens
    FROM (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) > 0
    ), LATERAL (SELECT unnest(generate_series(0, n - 1, 24)) AS k) starts
    ORDER BY doc_id, chunk_start
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 24) —
    the split-long-documents-into-context-sized-examples pass of an LLM
    data pipeline. Pure per-row array arithmetic (sequence → slice →
    explode), map-only: zero shuffles, pipelines with the parquet scan,
    and chunk count scales with token count, not document count."""
    d = spark.table("documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id", words.alias("words"), F.size(words).alias("n")
    ).filter(F.col("n") > 0)
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(24))
    return (
        base.select("doc_id", "words", F.explode(starts).alias("start_i"))
        .select(
            "doc_id",
            F.col("start_i").cast("long").alias("chunk_start"),
            F.array_join(
                F.slice(F.col("words"), F.col("start_i") + 1, 32), " "
            ).alias("chunk_text"),
            F.size(F.slice(F.col("words"), F.col("start_i") + 1, 32))
            .cast("long")
            .alias("n_chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_start")
    )


#: Content-defined chunking: rolling-window width and boundary modulus
#: (a window digest ≡ 0 mod 16 cuts → mean chunk ≈ 16 tokens).
CDC_W = 4
CDC_MOD = 16


#: Shared DuckDB CTE chain producing the content-defined chunk relation
#: (used by both text_chunk_cdc and dedup_chunk_cdc).
_SQL_CDC_CHUNKS = f"""
    t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) > 0
    ), b AS (
      SELECT doc_id, toks, n,
             CASE WHEN n > {CDC_W} THEN
               list_filter(generate_series({CDC_W}, n - 1),
                 i -> CAST(('0x' || substr(sha256(array_to_string(
                          toks[i-{CDC_W - 1}:i], ' ')), 1, 4)) AS INTEGER)
                      % {CDC_MOD} = 0)
             ELSE CAST([] AS BIGINT[]) END AS bounds
      FROM t
    ), s AS (
      SELECT doc_id, toks,
             list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
             list_append(bounds, CAST(n AS BIGINT)) AS ends
      FROM b
    ), chunks AS (
      SELECT doc_id,
             CAST(k AS BIGINT) AS chunk_idx,
             CAST(starts[k] AS BIGINT) AS chunk_start,
             CAST(ends[k] - starts[k] + 1 AS BIGINT) AS n_chunk_tokens,
             substr(sha256(array_to_string(toks[starts[k]:ends[k]], ' ')), 1, 16)
               AS chunk_digest
      FROM s, LATERAL (SELECT unnest(generate_series(1, len(starts))) AS k) ks
    )
"""


@query(
    "text_chunk_cdc",
    oracle=f"""
    WITH {_SQL_CDC_CHUNKS}
    SELECT doc_id, chunk_idx, chunk_start, n_chunk_tokens, chunk_digest
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking (rolling-hash boundaries, the FastCDC /
    rsync-family idea at token granularity): a chunk boundary falls
    after token *i* whenever the digest of the {CDC_W}-token window
    ending at *i* is ≡ 0 (mod {CDC_MOD}) — so boundaries are decided by
    local CONTENT, not position, and an insertion near the front of a
    document shifts at most one chunk instead of re-aligning every
    fixed-stride window (the property that makes chunk-digest dedup
    robust to edits, where ``text_chunk_sliding``'s fixed stride is
    not). Emits (chunk_idx, start, length, 16-hex digest) per chunk;
    downstream chunk-level dedup is a groupBy on the digest
    (dedup_substring_exact's exchange shape).

    Scale shape: entirely map-side per document — one JVM
    ``filter(sequence)`` computes boundary positions, array concat
    derives starts/ends, one explode emits chunks; zero shuffles before
    the presentation sort, chunk volume ∝ token count. The boundary
    digest is the engine-independent sha256-prefix (the sub-cell /
    Bernoulli-sampler idiom), so DuckDB cuts identically and the check
    stays value-exact; mean chunk length is {CDC_MOD} tokens with the
    min/max-length clamps a production pipeline would add left out to
    keep both engines' expressions trivially identical."""
    # pin-before-sort (r15): the SHA-256 boundary map ran twice without it
    return (
        cdc_chunks(spark.table("documents"))
        .transform(pin, "reuse")
        .orderBy("doc_id", "chunk_idx")
    )


def cdc_chunks(d: DataFrame) -> DataFrame:
    """Content-defined chunks of a (doc_id, text) relation — the core of
    ``text_chunk_cdc``, factored out so chunk-level dedup
    (``dedup_chunk_cdc``) reuses the identical boundary decisions."""
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    ).filter(F.col("n") > 0)

    def is_cut(i: Column) -> Column:
        win = F.array_join(F.slice(F.col("toks"), i - (CDC_W - 1), CDC_W), " ")
        dig = F.conv(F.substring(F.sha2(win, 256), 1, 4), 16, 10).cast("int")
        return dig % CDC_MOD == 0

    bounds = F.when(
        F.col("n") > CDC_W,
        F.filter(F.sequence(F.lit(CDC_W), F.col("n") - 1), is_cut),
    ).otherwise(F.array().cast("array<int>"))
    framed = base.select(
        "doc_id",
        "toks",
        F.concat(
            F.array(F.lit(1)), F.transform(bounds, lambda b: b + 1)
        ).alias("starts"),
        F.concat(bounds, F.array(F.col("n"))).alias("ends"),
    ).select(
        "doc_id",
        "toks",
        "starts",
        "ends",
        F.explode(F.sequence(F.lit(1), F.size("starts"))).alias("k"),
    )
    start = F.element_at("starts", F.col("k"))
    end = F.element_at("ends", F.col("k"))
    return framed.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_idx"),
        start.cast("long").alias("chunk_start"),
        (end - start + 1).cast("long").alias("n_chunk_tokens"),
        F.substring(
            F.sha2(
                F.array_join(F.slice("toks", start, end - start + 1), " "), 256
            ),
            1,
            16,
        ).alias("chunk_digest"),
    )


@query(
    "dedup_chunk_cdc",
    oracle=f"""
    WITH {_SQL_CDC_CHUNKS},
    firsts AS (
      SELECT chunk_digest, min(doc_id) AS first_doc FROM chunks GROUP BY 1
    ),
    per_doc AS (
      SELECT c.doc_id,
             count(*) AS n_chunks,
             sum(CASE WHEN f.first_doc < c.doc_id THEN 1 ELSE 0 END) AS n_dup
      FROM chunks c JOIN firsts f USING (chunk_digest)
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_chunks,
           coalesce(p.n_dup, 0) > 0 AS has_dup_chunk
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def dedup_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup over CONTENT-DEFINED chunks: a chunk is a
    duplicate if any strictly-earlier document contains a chunk with the
    same digest. Because boundaries follow content (cdc_chunks), a
    paragraph copied into a new document with surrounding edits still
    chunks identically and is caught — the edit-robust counterpart of
    ``dedup_substring_exact``'s fixed k-token windows, at ~1/{CDC_MOD}
    of its window volume (one digest per chunk, not per token).

    Scale shape mirrors substring dedup: chunks generate map-side, the
    global first-occurrence attaches as a window-min INSIDE the single
    digest-keyed exchange (no join-back, digest projection evaluated
    once), shuffles carry (doc_id, 16-hex digest) pairs ∝ chunk count.
    A mass-duplicated chunk digest concentrates in one window partition
    as sort volume, not blowup (tests/test_skew_stress.py pins the
    analogous substring claim)."""
    from pyspark.sql import Window

    d = spark.table("documents")
    chunks = cdc_chunks(d).select("doc_id", "chunk_digest")
    first = F.min("doc_id").over(Window.partitionBy("chunk_digest"))
    agg = (
        chunks.select("doc_id", first.alias("first_doc"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("first_doc") < F.col("doc_id"), 1)).alias(
                "n_dup"
            ),
        )
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_chunks"),
            (F.coalesce("n_dup", F.lit(0)) > 0).alias("has_dup_chunk"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# inverted index build
# ---------------------------------------------------------------------------

#: Posting-list cap per term: bounds both output payload and the
#: per-group collect buffer (a stop word's full posting list is
#: corpus-sized at 100 TB; an index shard never stores it inline).
_POSTINGS_CAP = 8


@query(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
    ), ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
             count(*)    OVER (PARTITION BY term) AS df,
             sum(tf)     OVER (PARTITION BY term) AS cf
      FROM tf
    )
    SELECT term,
           CAST(max(df) AS BIGINT) AS df,
           CAST(max(cf) AS BIGINT) AS cf,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             FILTER (WHERE rn <= {_POSTINGS_CAP}) AS postings
    FROM ranked GROUP BY term ORDER BY term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index shard build: per term, document frequency, collection
    frequency, and the first {_POSTINGS_CAP} postings (doc ids ascending) —
    the core IR index structure a retrieval pipeline materializes before
    BM25 serving (postings capped the way an index shard caps inline
    skip-list blocks).

    Scale shape: two deterministic exchanges, both map-side combined —
    (doc, term) tf counts, then ONE term-partitioned exchange in which
    df and cf are computed as count/sum windows (the tfidf trick: tf has
    exactly one row per distinct (doc, term), so the partition count IS
    the document frequency — no df join, no AQE flip) and the posting cap
    is applied by row_number BEFORE the collect, so the per-term buffer
    holds ≤ {_POSTINGS_CAP} ids even for a corpus-sized stop-word term.
    The final groupBy lands on the same term partitioning → no third
    shuffle. Output payload is O(vocab · cap), never O(corpus)."""
    return inverted_index(
        spark.table("documents").select("doc_id", "text")
    ).orderBy("term")


def inverted_index(docs: DataFrame) -> DataFrame:
    """(term, df, cf, postings) index shard over a (doc_id, text)
    relation — the reusable core of :func:`text_inverted_index` (also
    driven directly by the hot-term stress test)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    wt = W.partitionBy("term")
    ranked = tf.select(
        "term",
        "doc_id",
        F.row_number().over(wt.orderBy("doc_id")).alias("rn"),
        F.count("*").over(wt).alias("df"),
        F.sum("tf").over(wt).alias("cf"),
    )
    return (
        ranked.groupBy("term")
        .agg(
            F.max("df").cast("long").alias("df"),
            F.max("cf").cast("long").alias("cf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") <= _POSTINGS_CAP, F.col("doc_id")
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# r8d: hybrid retrieval fusion (reciprocal rank fusion)
# ---------------------------------------------------------------------------

#: RRF constant (Cormack et al., SIGIR 2009) and per-ranker candidate cap.
_RRF_K = 60
_RRF_CAP = 100
_RRF_TOP = 20
#: vec_id 0's embedding plays the semantic query.
_RRF_QVEC = 0


@query(
    "ann_hybrid_rrf",
    oracle=f"""
    WITH tok AS ({_sql_doc_words()}
    ), dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), corpus AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM tok
      WHERE word IN {_QUERY_TERMS!r} GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tok
      WHERE word IN {_QUERY_TERMS!r} GROUP BY word
    ), term_scores AS (
      SELECT doc_id,
             {{score}} AS s
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN corpus
    ), bm AS (
      SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
      FROM term_scores GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT {_RRF_CAP}
    ), lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM bm
    ), vn AS ({_sql_vecs()}),
    q AS (SELECT vec, nrm FROM vn WHERE vec_id = {_RRF_QVEC}),
    cos AS (
      SELECT vn.vec_id AS doc_id,
             {_sql_dot("q.vec", "vn.vec")} / (q.nrm * vn.nrm) AS cosine
      FROM vn CROSS JOIN q
      ORDER BY cosine DESC, doc_id LIMIT {_RRF_CAP}
    ), sem AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_sem
      FROM cos
    )
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           CAST(l.r_lex AS BIGINT) AS r_lex,
           CAST(s.r_sem AS BIGINT) AS r_sem,
           round(coalesce(1.0 / ({_RRF_K} + l.r_lex), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + s.r_sem), 0.0), 6) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
    """.format(
        score=_sql_round_ieee(
            "(ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)"
            " / (CAST(df AS DOUBLE) + 0.5) + 1.0))"
            f" * (CAST(tf AS DOUBLE) * {_K1 + 1.0})"
            f" / (CAST(tf AS DOUBLE) + {_K1} * ((1.0 - {_B})"
            f" + {_B} * (CAST(dl AS DOUBLE)"
            " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))",
            6,
        )
    ),
)
def ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack/Clarke/
    Buettcher, SIGIR 2009): the BM25 lexical ranking and the cosine
    semantic ranking each nominate their top-{_RRF_CAP} candidates,
    and documents are fused by Σ 1/({_RRF_K}+rank) — the standard
    RAG-stack merge of keyword and embedding retrieval, robust to the
    two scorers' incomparable scales because only RANKS enter the sum.

    Exactness: ranks are integers from deterministic (score, doc_id)
    orderings — BM25 scores live on the 6dp grid, cosines are
    identical list-order folds — and the RRF sum is two fixed-shape
    rational terms, rounded 6dp.

    Scale shape: each ranker caps candidates FIRST via
    TakeOrderedAndProject (per-partition heaps, no global sort) —
    corpus-sized work is the two scoring passes already proven
    separately (`text_bm25_rank`, `ann_cosine_topk`); ranking then
    runs as constant-key windows over the {_RRF_CAP}-row capped
    relations (cap-bounded, not data-bounded), and the fusion is a
    {_RRF_CAP}-row full outer join."""
    d = spark.table("documents")
    tok = _doc_words(spark).filter(F.col("word").isin(*_QUERY_TERMS))
    dl = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    corpus = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    bm = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", _bm25_term_score().alias("s"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("s").cast(_DEC6)).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_CAP)
    )
    const = F.pmod(F.col("doc_id"), F.lit(1))
    lex = bm.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy(const).orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    vn = _vecs(spark)
    q = vn.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm")
    )
    cos = (
        vn.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                _dot(F.col("q_vec"), F.col("vec"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_RRF_CAP)
    )
    sem = cos.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy(const).orderBy(F.desc("cosine"), "doc_id"))
        .cast("long")
        .alias("r_sem"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_sem")), F.lit(0.0)),
        6,
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", "r_lex", "r_sem", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOP)
    )


#: Phrase-query terms: a bigram guaranteed present in the synthetic
#: vocabulary at every SF (non-vacuity: the join_anti 0-vs-0 lesson).
_PHRASE = ("order", "fast")


@query(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), pos AS (
      SELECT doc_id, gs.i AS p, l[gs.i] AS term
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) gs
      WHERE l[gs.i] IN ('{_PHRASE[0]}', '{_PHRASE[1]}')
    )
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(a.p) AS BIGINT) AS first_pos
    FROM pos a JOIN pos b
      ON b.doc_id = a.doc_id AND b.p = a.p + 1
    WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
    GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: find every document containing the
    exact phrase {_PHRASE} (as consecutive tokens) with its occurrence count and
    first position — the adjacency-join primitive under every
    phrase/proximity query (text_inverted_index stores postings; this is
    the query side that needs POSITIONS, not just doc lists).

    Scale shape: the posting build is a map-only posexplode that filters
    to the two query terms BEFORE any shuffle — the adjacency join moves
    only the query terms' postings (term-selectivity pushdown, the
    inverted-index contract), never the full position lists. One hash
    shuffle on doc_id for the self-join + one for the per-doc rollup;
    overlapping matches are counted naturally (each qualifying position
    pair is one row)."""
    toks = spark.table("documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    )
    pos = toks.select(
        "doc_id", (F.col("p0") + 1).alias("p"), "term"
    ).where(F.col("term").isin(*_PHRASE))
    a = pos.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = pos.where(F.col("term") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    return (
        a.join(
            b,
            (F.col("doc_b") == F.col("doc_id")) & (F.col("pb") == F.col("pa") + 1),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("pa").cast("long").alias("first_pos"),
        )
    )
