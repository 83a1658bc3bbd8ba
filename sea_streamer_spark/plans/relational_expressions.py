"""Scalar, string, date, hash, array, struct and JSON expression queries,
plus the brand-pair basket lift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .registry import query


@query(
    "scalar_string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_name, 1, 4) AS name_prefix,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_snake,
           REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word
    FROM part
    WHERE p_name LIKE '%wid%'
    """,
    tags=("relational", "scalar", "string"),
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar coverage: upper/length/substring/concat/replace/regexp."""
    t = load_tables(spark, sf_dir, "part")
    return t.part.filter(F.col("p_name").like("%wid%")).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
    )


@query(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAY(o_orderdate) AS INT) AS order_day,
           CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
           DATE_TRUNC('month', o_orderdate) AS order_month_start
    FROM orders WHERE o_orderkey < 500
    """,
    tags=("relational", "scalar", "date"),
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part scalar coverage (year/month/day/quarter/trunc)."""
    t = load_tables(spark, sf_dir, "orders")
    return t.orders.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
    )


@query(
    "scalar_math_functions",
    oracle="""
    SELECT s_suppkey,
           CAST(ABS(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS abs_bal,
           CAST(CEIL(s_acctbal) AS BIGINT) AS ceil_bal,
           CAST(FLOOR(s_acctbal) AS BIGINT) AS floor_bal,
           ROUND(SQRT(ABS(s_acctbal)), 6) AS sqrt_bal,
           ROUND(LN(ABS(s_acctbal) + 1), 6) AS ln_bal,
           CAST(POWER(s_suppkey, 2) AS BIGINT) AS key_squared,
           MOD(s_suppkey, 7) AS key_mod
    FROM supplier
    """,
    tags=("relational", "scalar", "math"),
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar coverage (abs/ceil/floor/sqrt/ln/power/mod)."""
    t = load_tables(spark, sf_dir, "supplier")
    return t.supplier.select(
        "s_suppkey",
        F.expr("CAST(ABS(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)").alias("abs_bal"),
        F.ceil("s_acctbal").alias("ceil_bal"),
        F.floor("s_acctbal").alias("floor_bal"),
        F.round(F.sqrt(F.abs(F.col("s_acctbal"))), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(F.col("s_acctbal")) + 1), 6).alias("ln_bal"),
        F.pow(F.col("s_suppkey"), 2).cast("bigint").alias("key_squared"),
        (F.col("s_suppkey") % 7).alias("key_mod"),
    )


@query(
    "json_extract_event_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(REGEXP_EXTRACT(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("relational", "json", "events"),
)
def json_extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode (P6: payload deserialization — the Spark analog of
    ``Message::deserialize_json``, types/src/message.rs:323-328)."""
    t = load_tables(spark, sf_dir, "events")
    return (
        t.events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


BAL = "CAST(c_acctbal AS DECIMAL(12,2))"


@query(
    "scalar_hash_functions",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           LENGTH(text) AS n
    FROM documents WHERE doc_id < 50
    """,
    tags=("relational", "scalar", "hash"),
)
def scalar_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard cryptographic digests (identical across engines by spec)."""
    t = load_tables(spark, sf_dir, "documents")
    return t.documents.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.length("text").alias("n"),
    )


@query(
    "scalar_string_functions2",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS padded,
           split_part(p_name, ' ', 1) AS first_word,
           reverse(p_name) AS reversed,
           repeat(p_type, 2) AS doubled,
           ltrim(rtrim('  ' || p_name || '  ')) AS trimmed,
           POSITION('e' IN p_name) AS e_pos,
           levenshtein(p_brand, 'Brand#1') AS lev
    FROM part WHERE p_partkey < 100
    """,
    tags=("relational", "scalar", "string"),
)
def scalar_string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More string scalars: pad/split_part/reverse/repeat/trim/position/
    levenshtein (public algorithm, identical results)."""
    t = load_tables(spark, sf_dir, "part")
    return t.part.filter(F.col("p_partkey") < 100).select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.reverse("p_name").alias("reversed"),
        F.repeat(F.col("p_type"), 2).alias("doubled"),
        F.ltrim(F.rtrim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  ")))).alias("trimmed"),
        F.instr(F.col("p_name"), "e").alias("e_pos"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).alias("lev"),
    )


@query(
    "scalar_date_functions2",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus_30d,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
    FROM orders WHERE o_orderkey < 300
    """,
    tags=("relational", "scalar", "date"),
)
def scalar_date_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More date scalars: interval arithmetic, last_day, dayofyear, datediff,
    epoch seconds."""
    t = load_tables(spark, sf_dir, "orders")
    return t.orders.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey",
        (F.to_date("o_orderdate") + F.expr("INTERVAL 30 DAY")).cast("timestamp").alias("plus_30d"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01")))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
    )


@query(
    "scalar_conditional_functions",
    oracle=f"""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           GREATEST(CAST({BAL} AS DOUBLE), 0.0) AS bal_floor,
           LEAST(CAST({BAL} AS DOUBLE), 1000.0) AS bal_cap,
           IF(c_nationkey % 2 = 0, 'even', 'odd') AS parity
    FROM customer
    """,
    tags=("relational", "scalar", "conditional"),
)
def scalar_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / greatest / least / if."""
    t = load_tables(spark, sf_dir, "customer")
    bal = F.expr(f"CAST({BAL} AS DOUBLE)")
    return t.customer.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor"),
        F.least(bal, F.lit(1000.0)).alias("bal_cap"),
        F.when(F.col("c_nationkey") % 2 == 0, "even").otherwise("odd").alias("parity"),
    )


@query(
    "scalar_bitwise_ops",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS set_bit,
           xor(event_id, 1) AS flip,
           event_id << 2 AS shl,
           event_id >> 3 AS shr
    FROM events WHERE event_id < 200
    """,
    tags=("relational", "scalar", "bitwise"),
)
def scalar_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and/or/xor/shifts."""
    t = load_tables(spark, sf_dir, "events")
    e = F.col("event_id")
    return t.events.filter(e < 200).select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("low_byte"),
        e.bitwiseOR(F.lit(4096)).alias("set_bit"),
        e.bitwiseXOR(F.lit(1)).alias("flip"),
        F.shiftleft(e, 2).alias("shl"),
        F.shiftright(e, 3).alias("shr"),
    )


@query(
    "array_lambda_functions",
    oracle="""
    SELECT vec_id,
           CAST(list_reduce(CAST(embedding AS DOUBLE[]), (a, b) -> a + b) AS DOUBLE)
             AS sum_all,
           CAST(list_reduce(list_slice(CAST(embedding AS DOUBLE[]), 1, 8), (a, b) -> a + b)
                AS DOUBLE) AS sum_first8,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           len(embedding) AS n_dims,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem
    FROM embeddings WHERE vec_id < 100
    """,
    tags=("relational", "array", "lambda"),
)
def array_lambda_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array lambdas: aggregate (fold), slice, element_at, size, filter,
    array_max — the vector toolkit the similarity operators build on. Floats
    are cast to double *before* the fold so both engines add in the same
    order from an exact 0.0 start. Pure projection: no shuffle at any
    scale."""
    t = load_tables(spark, sf_dir, "embeddings")
    arrd = F.transform("embedding", lambda x: x.cast("double"))
    fold = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return t.embeddings.filter(F.col("vec_id") < 100).select(
        "vec_id",
        fold(arrd).cast("double").alias("sum_all"),
        fold(F.slice(arrd, 1, 8)).cast("double").alias("sum_first8"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.size("embedding").alias("n_dims"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.array_max("embedding").cast("double").alias("max_elem"),
    )


@query(
    "array_explode_stats",
    oracle="""
    SELECT vec_id, COUNT(*) AS n_big, CAST(MAX(v) AS DOUBLE) AS max_big
    FROM (SELECT vec_id, UNNEST(embedding) AS v FROM embeddings) u
    WHERE v > 0.25
    GROUP BY vec_id
    """,
    tags=("relational", "array", "explode"),
)
def array_explode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/UNNEST then re-aggregate per row (count/max are order-safe;
    float re-summation would not be). Scale: the explode multiplies rows 64x
    before the shuffle — the lambda formulation above is preferred at scale;
    this query exists to cover the explode operator itself."""
    t = load_tables(spark, sf_dir, "embeddings")
    return (
        t.embeddings.select("vec_id", F.explode("embedding").alias("v"))
        .filter(F.col("v") > 0.25)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_big"), F.max("v").cast("double").alias("max_big"))
    )


@query(
    "regexp_functions",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
           regexp_replace(text, 'data', 'DATA', 'g') AS replaced,
           regexp_matches(text, 'stream|spark') AS has_kw,
           LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS n_non_vowel
    FROM documents WHERE doc_id < 40
    """,
    tags=("relational", "scalar", "regexp"),
)
def regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract (group ref), global regexp_replace, rlike — patterns
    restricted to the POSIX-compatible subset where Java and RE2 semantics
    coincide."""
    t = load_tables(spark, sf_dir, "documents")
    return t.documents.filter(F.col("doc_id") < 40).select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace("text", "data", "DATA").alias("replaced"),
        F.col("text").rlike("stream|spark").alias("has_kw"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("n_non_vowel"),
    )


@query(
    "generate_sequence_explode",
    oracle="""
    SELECT o_orderkey, UNNEST(generate_series(1, CAST(o_orderkey % 5 + 1 AS INT))) AS step
    FROM orders WHERE o_orderkey < 100
    """,
    tags=("relational", "generator", "explode"),
)
def generate_sequence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated row generation: per-row sequence(1..n) exploded — the
    generator pattern behind calendar spines and retry/backoff schedules.
    Row multiplication happens executor-side after the scan; no shuffle."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t.orders.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.explode(
                F.sequence(F.lit(1), (F.col("o_orderkey") % 5 + 1).cast("int"))
            ).alias("step"),
        )
    )


# Collection-function breadth: maps + exists/forall/flatten
@query(
    "scalar_collection_functions",
    oracle="""
    WITH m AS (
      SELECT event_id,
             MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)} AS mp,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             generate_series(1, 1 + CAST(event_id % 5 AS INTEGER)) AS arr
      FROM events
    )
    SELECT event_id,
           CAST(cardinality(mp) AS BIGINT) AS n_keys,
           array_to_string(list_sort(map_keys(mp)), ',') AS keys_csv,
           map_extract(mp, 'type')[1] AS type_val,
           k_val,
           CAST(len(list_filter(arr, x -> x % 4 = 0)) > 0 AS BIGINT)
             AS has_mult4,
           CAST(len(list_filter(arr, x -> x < 5)) = len(arr) AS BIGINT)
             AS all_below5,
           CAST(len(flatten([arr, list_reverse(arr)])) AS BIGINT)
             AS flat_len,
           CAST(list_reduce(flatten([arr, list_reverse(arr)]),
                            (a, b) -> a + b) AS BIGINT) AS flat_sum
    FROM m
    ORDER BY event_id
    """,
    tags=("relational", "scalar"),
)
def scalar_collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-type breadth: MAP construction/inspection
    (create_map/map_concat/map_keys/element_at — the typed-metadata columns
    multimodal tables carry), JSON→typed-map parsing, and the higher-order
    trio the array family was missing (exists / forall / flatten). Every
    output is scalarized deterministically (sorted key lists, fold sums) so
    the map's internal ordering never reaches the hash. Pure projection —
    zero shuffle beyond the presentation sort."""
    ev = load_tables(spark, sf_dir, "events").events
    mp = F.map_concat(
        F.create_map(F.lit("type"), F.col("event_type")),
        F.create_map(F.lit("uid"), F.col("user_id").cast("string")),
    )
    arr = F.sequence(F.lit(1), (F.lit(1) + F.col("event_id") % 5).cast("int"))
    flat = F.flatten(F.array(arr, F.reverse(arr)))
    return ev.select(
        "event_id",
        F.size(mp).cast("long").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(mp)), ",").alias("keys_csv"),
        F.element_at(mp, F.lit("type")).alias("type_val"),
        F.element_at(
            F.from_json(F.col("props"), "map<string,bigint>"), F.lit("k")
        ).alias("k_val"),
        F.exists(arr, lambda x: x % 4 == 0).cast("long").alias("has_mult4"),
        F.forall(arr, lambda x: x < 5).cast("long").alias("all_below5"),
        F.size(flat).cast("long").alias("flat_len"),
        F.aggregate(
            flat, F.lit(0).cast("long"), lambda a, b: a + b.cast("long")
        ).alias("flat_sum"),
    ).orderBy("event_id")


# Struct-function breadth: named_struct / arrays_zip / inline / outer explode
@query(
    "scalar_struct_functions",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             {'status': o_orderstatus, 'priority': o_orderpriority,
              'cents': CAST(ROUND(o_totalprice * 100) AS BIGINT)} AS st,
             CASE WHEN o_orderkey % 3 = 0 THEN []
                  ELSE [CAST(o_orderkey % 7 AS BIGINT),
                        CAST(o_orderkey % 5 AS BIGINT)] END AS xs
      FROM orders
    )
    SELECT o_orderkey,
           st.status AS status,
           st.cents AS cents,
           CAST(len(xs) AS BIGINT) AS n_xs,
           COALESCE(xs[1], -1) AS first_x,
           COALESCE(array_to_string(list_transform(
             list_zip(xs, list_reverse(xs)),
             p -> CAST(p[1] AS VARCHAR) || ':' || CAST(p[2] AS VARCHAR)), ','),
             '') AS zipped_csv
    FROM s
    ORDER BY o_orderkey
    """,
    tags=("relational", "scalar"),
)
def scalar_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-type breadth: named_struct construction + field access (the
    envelope/metadata shape every message table carries), arrays_zip with
    positional pairing scalarized to a CSV, and empty-array/NULL-element
    handling (element_at past the end → NULL → COALESCE sentinel, zip of
    empty arrays → empty string) — the null-semantics corners that differ
    most across engines, pinned equal. Pure projection."""
    orders = load_tables(spark, sf_dir, "orders").orders
    st = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    xs = F.when(F.col("o_orderkey") % 3 == 0, F.array().cast("array<long>")).otherwise(
        F.array(
            (F.col("o_orderkey") % 7).cast("long"),
            (F.col("o_orderkey") % 5).cast("long"),
        )
    )
    s = orders.select(
        "o_orderkey", st.alias("st"), xs.alias("xs")
    ).withColumn("rxs", F.reverse(F.col("xs")))
    zipped = F.transform(
        F.arrays_zip(F.col("xs"), F.col("rxs")),
        lambda p: F.concat(
            p["xs"].cast("string"), F.lit(":"), p["rxs"].cast("string")
        ),
    )
    return s.select(
        "o_orderkey",
        F.col("st.status").alias("status"),
        F.col("st.cents").alias("cents"),
        F.size("xs").cast("long").alias("n_xs"),
        F.coalesce(F.try_element_at("xs", F.lit(1)), F.lit(-1).cast("long")).alias(
            "first_x"
        ),  # ANSI mode: plain element_at raises past the end
        F.array_join(zipped, ",").alias("zipped_csv"),
    ).orderBy("o_orderkey")
