"""Scalar-function surface (SURVEY.md §2.2 rows: string/date/math/hash/
array/JSON functions, CASE/COALESCE, explode).

All JVM-side built-ins (`pyspark.sql.functions`) — zero Python UDFs, so the
whole surface stays inside whole-stage codegen.

Cross-engine gotchas handled here (documented for step authors too):
- Spark ``split(...)[0]`` is 0-indexed; DuckDB list indexing is 1-based.
- Spark ``year()``/``datediff()`` return INT, DuckDB BIGINT → cast to BIGINT
  on the Spark side.
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to replace all; Spark
  replaces all by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .text import _doc_words, _sql_doc_words


@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                                   AS name_lower,
           upper(p_brand)                                  AS brand_upper,
           substring(p_type, 1, 5)                         AS type_prefix,
           CAST(length(p_name) AS BIGINT)                  AS name_len,
           concat(p_brand, '#', p_type)                    AS brand_type,
           string_split(p_name, ' ')[1]                    AS first_word,
           regexp_replace(p_name, '[aeiou]', '', 'g')      AS no_vowels,
           regexp_matches(p_name, '.*(gold|steel).*')      AS is_metallic,
           trim(concat('  ', p_name, '  '))                AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           replace(p_type, ' ', '_')                       AS type_snake
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("no_vowels"),
        F.col("p_name").rlike(".*(gold|steel).*").alias("is_metallic"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                        AS order_year,
           month(o_orderdate)                                       AS order_month,
           day(o_orderdate)                                         AS order_day,
           quarter(o_orderdate)                                     AS order_quarter,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)      AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00') AS BIGINT)
                                                                    AS days_to_1999,
           o_orderdate + INTERVAL 30 DAY                            AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)        AS month_end,
           strftime(o_orderdate, '%Y-%m-%d')                        AS iso_day
    FROM orders
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_1999"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 50000), 2)      AS abs_diff,
           CAST(floor(l_quantity) AS BIGINT)           AS qty_floor,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
           round(sqrt(l_extendedprice), 4)             AS price_sqrt,
           round(ln(l_extendedprice + 1), 4)           AS price_ln,
           round(log10(l_extendedprice + 1), 4)        AS price_log10,
           round(pow(l_discount, 2), 6)                AS disc_sq,
           CAST(l_linenumber % 3 AS BIGINT)            AS line_mod3,
           CAST(sign(l_extendedprice - 50000) AS BIGINT) AS price_sign
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 50000), 2).alias("abs_diff"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("long").alias("price_k_ceil"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 4).alias("price_log10"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        (F.col("l_linenumber") % 3).cast("long").alias("line_mod3"),
        F.signum(F.col("l_extendedprice") - 50000).cast("long").alias("price_sign"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           sha256(c_name)                      AS name_sha256,
           md5(c_name)                         AS name_md5,
           sha256(concat(c_name, '|', c_mktsegment)) AS row_sha256
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-level content addressing: the same SHA-256 the framework uses for
    # file checksums (framework/utils.py), applied column-wise JVM-side.
    c = spark.table("customer")
    return c.select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.concat_ws("|", "c_name", "c_mktsegment"), 256).alias("row_sha256"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 8000 THEN 'mid'
                ELSE 'high' END                               AS bal_bucket,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           (c_acctbal IS NULL)                                 AS bal_is_null,
           CAST(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_positive,
           round(greatest(c_acctbal, 0.0), 2)                  AS bal_clamped,
           round(least(c_acctbal, 9999.0), 2)                  AS bal_capped
    FROM customer
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.table("customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 8000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.col("c_acctbal").isNull().alias("bal_is_null"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).cast("long").alias("is_positive"),
        F.round(F.greatest(F.col("c_acctbal"), F.lit(0.0)), 2).alias("bal_clamped"),
        F.round(F.least(F.col("c_acctbal"), F.lit(9999.0)), 2).alias("bal_capped"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0) AS k_even
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.props is a JSON string column ({"k": <int>}); extraction stays
    # JVM-side via get_json_object.
    e = spark.table("events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.select(
        "event_id",
        "event_type",
        k.alias("k_val"),
        (k % 2 == 0).alias("k_even"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val
    FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Higher-order array functions (transform/aggregate) — all codegen'd,
    # no UDF; the same kernel the vector-similarity operators build on.
    e = spark.table("embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(F.col("embedding"), 1).cast("double"), 4).alias("first_val"),
        F.round(F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_val"),
    )


@query(
    "fn_explode_words",
    oracle=f"""
    SELECT word,
           count(*)                              AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ({_sql_doc_words()}) t
    GROUP BY word
    """,
)
def fn_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode = the UDTF-shaped operator (one row in → n rows out); at scale
    # this is a narrow map stage, the shuffle only carries (word, doc_id).
    return (
        _doc_words(spark)
        .groupBy("word")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "fn_map_struct",
    oracle="""
    SELECT p_partkey,
           map(['brand', 'type'], [p_brand, p_type])['type'][1]   AS from_map,
           struct_pack(sz := p_size, price := p_retailprice).sz   AS from_struct,
           len(map_keys(map(['brand', 'type'], [p_brand, p_type]))) AS n_keys
    FROM part
    WHERE p_size <= 10
    ORDER BY p_partkey
    """,
)
def fn_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map construction/extraction and struct field access — per-row JVM
    # expressions, no shuffle. (DuckDB's map[k] yields a 1-element list,
    # hence the [1] in the oracle; the *values* compared are scalars.)
    p = spark.table("part").filter(F.col("p_size") <= 10)
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    s = F.struct(F.col("p_size").alias("sz"), F.col("p_retailprice").alias("price"))
    return p.select(
        "p_partkey",
        F.element_at(m, "type").alias("from_map"),
        s.getField("sz").alias("from_struct"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    ).orderBy("p_partkey")
