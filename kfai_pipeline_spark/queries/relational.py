"""Relational correctness queries Q01-Q24 (SURVEY.md §2.12).

Most builders are idiomatic DataFrame API — Catalyst handles pushdown,
pruning, and join selection; explicit ``broadcast`` hints mark the dim
tables that must stay map-side at 100 TB. The bench queries (q04, q05,
q07, q10, q18, q22; ``bench.py``'s B1-B9 with three in
``extensions.py``) and q44 are Spark-SQL text instead, bound to the
fixture tables by ``base.bind_sql``: that text is the query's one Spark
definition, and both benchmark harnesses time it. Every computed column
is aliased identically in the Spark plan and the DuckDB oracle so the
driver's sorted-column value hash lines up.

Reference-semantics notes cite /root/reference/ file:line where a query
re-expresses a reference operator (see SURVEY.md §2 tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kfai_pipeline_spark.catalog import load_table
from kfai_pipeline_spark.queries.base import bind_sql, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- Q01: scan/project/filter
@register(
    "q01",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity < 10 AND l_returnflag IS NOT NULL
    ORDER BY l_orderkey, l_linenumber
    LIMIT 500
    """,
    doc="Scan/project/filter (P1,P2,P5; ref database.py:70-71 channel_id<3 shape).",
)
def q01(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") < 10) & F.col("l_returnflag").isNotNull())
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


@register(
    "q01_count",
    oracle="""
    SELECT COUNT(*) AS cnt
    FROM lineitem
    WHERE l_quantity < 10 AND l_returnflag IS NOT NULL
    """,
    doc="Count variant of Q01 (A5 counters shape).",
)
def q01_count(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") < 10) & F.col("l_returnflag").isNotNull())
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------- Q02: IN-list
@register(
    "q02",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ORDER BY o_orderkey LIMIT 500
    """,
    doc="IN-list predicate (P3; ref database.py:159-164 parameterized IN).",
)
def q02(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q03: inner equi join
@register(
    "q03",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY c_custkey LIMIT 500
    """,
    doc="Inner equi join, broadcast dim (J1; ref database.py:153 videos JOIN shows).",
)
def q03(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name")
        .orderBy("c_custkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q04: left join + ordered string agg
@register(
    "q04",
    oracle="""
    SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="Left join + deterministic GROUP_CONCAT (J2+A1; ref database.py:150-166).",
)
def q04(spark, sf_dir):
    # string_agg over zero rows is NULL; concat_ws over an empty
    # collect_list would be '' — emit NULL to match SQL semantics.
    return bind_sql(spark, sf_dir, """
        SELECT n_name,
               CASE WHEN COUNT(s_name) > 0
                    THEN concat_ws(',', sort_array(collect_list(s_name)))
               END AS suppliers
        FROM {nation} LEFT JOIN {supplier} ON s_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """)


# ---------------------------------------------------------------- Q05: anti join
@register(
    "q05",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    doc="Left anti join = incremental diff (J4; ref fetch_raw_data.py:53-67).",
)
def q05(spark, sf_dir):
    # r15 (guide §2.3 "aggregate before you shuffle"): an anti join only
    # consumes the DISTINCT right-side keys, but the raw NOT EXISTS shape
    # shuffles (and, over the SHJ size conditions, SORTS) every orders
    # row — ~15 keys/customer of pure duplication. Pre-aggregating to
    # distinct o_custkey gets map-side partial dedup before the exchange
    # and shrinks the join's build/sort input 15x; at 100 TB the anti
    # join's shuffle carries ~#customers keys instead of ~#orders rows.
    # Interleaved same-session A/B (r15, parity exact): sf10 1.31->1.25 s
    # median (5/7 rounds faster), sf1 1.96->1.60, sf0.1 ~even-to-better
    # (1.19->1.08) — never slower at any SF. Anti-join semantics are
    # key-set semantics, so DISTINCT on the right side can never change
    # the result (NULL keys included: equality never matches them in
    # either shape).
    return bind_sql(spark, sf_dir, """
        SELECT c_custkey FROM {customer}
        LEFT ANTI JOIN (SELECT DISTINCT o_custkey FROM {orders}) ok
          ON c_custkey = o_custkey
        ORDER BY c_custkey
    """)


# ---------------------------------------------------------------- Q06: semi join
@register(
    "q06",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
    )
    ORDER BY c_custkey LIMIT 500
    """,
    doc="Left semi join = citation membership (J6; ref query_agent.py:117-141).",
)
def q06(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q07: TPC-H Q1-shape agg
@register(
    "q07",
    # Exact-integer aggregation domain (the bit-identical-before-ROUND
    # float rule, aggregate-shaped): the source values are 2dp by
    # construction, so cents-scaled BIGINT sums are EXACT and
    # fold-order-free — a double SUM here flaked ONCE in ~30 layout-
    # sweep runs when partial-agg merge order shifted under load and a
    # group's sum crossed a ROUND(x, 2) knife-edge (BASELINE §5s
    # addendum 2). One final division per group converts back; no
    # per-row float fold survives.
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(l_quantity      * 100) AS BIGINT) AS qty_c,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(ROUND(l_discount      * 100) AS BIGINT) AS disc_c,
               CAST(ROUND(l_tax           * 100) AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(CAST(SUM(qty_c)   AS BIGINT) / 100.0, 2)       AS sum_qty,
        ROUND(CAST(SUM(price_c) AS BIGINT) / 100.0, 2)       AS sum_base_price,
        ROUND(CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) / 10000.0, 2)
                                                             AS sum_disc_price,
        ROUND(CAST(SUM(price_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT)
              / 1000000.0, 2)                                AS sum_charge,
        ROUND(CAST(SUM(qty_c)   AS BIGINT) / 100.0 / COUNT(*), 2) AS avg_qty,
        ROUND(CAST(SUM(price_c) AS BIGINT) / 100.0 / COUNT(*), 2) AS avg_price,
        ROUND(CAST(SUM(disc_c)  AS BIGINT) / 100.0 / COUNT(*), 2) AS avg_disc,
        COUNT(*)                                             AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc=(
        "Hash agg partial+final, TPC-H Q1 shape (A7). Map-side combine is "
        "automatic. Aggregates run in the exact cents-integer domain "
        "(2dp source values), so the sums are reassociation-proof. "
        "Domain bound (BASELINE §5s addendum 4): the LONG product sums "
        "are exact while rows_per_group x ~1.1e11 < 2^63 — SF ~55 on "
        "this 4-6-group shape; beyond that swap the two product SUMs "
        "to .cast('decimal(38,0)') (+21% on B1 at sf0.1, headroom "
        "1e27 rows/group). Past the bound the LONG sum overflows; "
        "under ANSI mode (spark.sql.ansi.enabled, Spark 4.1's "
        "default) that raises ARITHMETIC_OVERFLOW rather than "
        "returning a wrapped sum."
    ),
)
def q07(spark, sf_dir):
    return bind_sql(spark, sf_dir, """
        WITH c AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_quantity      * 100) AS BIGINT) AS qty_c,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(ROUND(l_discount      * 100) AS BIGINT) AS disc_c,
                   CAST(ROUND(l_tax           * 100) AS BIGINT) AS tax_c
            FROM {lineitem}
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        )
        SELECT
            l_returnflag,
            l_linestatus,
            ROUND(SUM(qty_c)   / 100.0D, 2)                       AS sum_qty,
            ROUND(SUM(price_c) / 100.0D, 2)                       AS sum_base_price,
            ROUND(SUM(price_c * (100 - disc_c)) / 10000.0D, 2)    AS sum_disc_price,
            ROUND(SUM(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0D, 2)
                                                                 AS sum_charge,
            ROUND(SUM(qty_c)   / 100.0D / COUNT(*), 2)            AS avg_qty,
            ROUND(SUM(price_c) / 100.0D / COUNT(*), 2)            AS avg_price,
            ROUND(SUM(disc_c)  / 100.0D / COUNT(*), 2)            AS avg_disc,
            COUNT(*)                                             AS count_order
        FROM c
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """)


# ---------------------------------------------------------------- Q08: HAVING count distinct
@register(
    "q08",
    oracle="""
    SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prio
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(DISTINCT o_orderpriority) >= 4
    ORDER BY o_custkey
    """,
    doc="Explode-free HAVING on count distinct (A3 shape; ref loaders database.py:72-89).",
)
def q08(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("n_prio"))
        .where(F.col("n_prio") >= 4)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------- Q09: ROLLUP
@register(
    "q09",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS cnt
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    HAVING COUNT(*) > 0
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    doc="ROLLUP grouping sets (A7), pinned NULLS FIRST ordering.",
)
def q09(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


# ---------------------------------------------------------------- Q10: ranking window
@register(
    "q10",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey
               ) AS rn
        FROM customer
    )
    WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
    doc="Top-3 per group via row_number (W1/W5; ref query_agent.py:285-298 dedup/cap).",
)
def q10(spark, sf_dir):
    return bind_sql(spark, sf_dir, """
        SELECT c_mktsegment, c_custkey, c_acctbal, rn
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rn
            FROM {customer}
        ) ranked
        WHERE rn <= 3
        ORDER BY c_mktsegment, rn
    """)


# ---------------------------------------------------------------- Q11: analytic window + frame
@register(
    "q11",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 2) AS run_sum,
           ROUND(LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), 2) AS prev_price
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    doc="Running frame + lag (W4/W5; ref transcribe_failures.py:87-96 offset shift kin).",
)
def q11(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(-2, 0)), 2).alias("run_sum"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------- Q12: top-k per group then global
@register(
    "q12",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_extendedprice DESC, l_linenumber
               ) AS rn
        FROM lineitem
    )
    WHERE rn = 1
    ORDER BY l_extendedprice DESC, l_orderkey
    LIMIT 100
    """,
    doc="First-seen-per-key dedup then global top-k (W1; ref query_agent.py:287-298).",
)
def q12(spark, sf_dir):
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------- Q13: multi-key sort + limit
@register(
    "q13",
    oracle="""
    SELECT o_orderdate, o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT 500
    """,
    doc="Multi-key global sort+limit = TakeOrderedAndProject (W2; ref query_agent.py:223-232).",
)
def q13(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderdate", "o_orderkey", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q14: set operations
@register(
    "q14",
    oracle="""
    WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
         b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
    ORDER BY op, c_custkey
    """,
    doc="UNION/INTERSECT/EXCEPT (T1-T3; ref fetch_raw_data.py:64-67 set diff).",
)
def q14(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    a = customer.where(F.col("c_acctbal") > 5000).select("c_custkey")
    b = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    tagged = (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(a.intersect(b).select(F.lit("intersect").alias("op"), "c_custkey"))
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "c_custkey"))
    )
    return tagged.orderBy("op", "c_custkey")


# ---------------------------------------------------------------- Q15: string kitchen sink
@register(
    "q15",
    oracle="""
    SELECT p_partkey,
           regexp_replace(p_name, '[\\s\\x0B]+', ' ', 'g')            AS name_ws,
           trim(p_name)                                         AS name_trim,
           upper(p_name)                                        AS name_upper,
           substr(p_name, 1, 5)                                 AS name_prefix,
           split_part(p_name, ' ', -1)                          AS last_word,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END    AS is_green,
           concat(p_brand, ':', p_type)                         AS brand_type
    FROM part
    ORDER BY p_partkey
    LIMIT 500
    """,
    doc="String functions F1-F9/F21 (ref transformers/utils/helpers.py:18-23,92-114).",
)
def q15(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.regexp_replace("p_name", r"\s+", " ").alias("name_ws"),
            F.trim("p_name").alias("name_trim"),
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 5).alias("name_prefix"),
            F.element_at(F.split("p_name", " "), -1).alias("last_word"),
            F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("is_green"),
            F.concat("p_brand", F.lit(":"), "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q16: date/time
@register(
    "q16",
    oracle="""
    SELECT CAST(year(ts) AS INT)  AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS min_epoch,
           COUNT(*) AS cnt
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY y, m
    ORDER BY y, m
    """,
    doc="Date parts + epoch + range predicate (F11/F13/F15/P6; ref filtering.py:43-103).",
)
def q16(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(
            F.col("ts").between(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-20 00:00:00").cast("timestamp"),
            )
        )
        .groupBy(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
        )
        .agg(
            F.min(F.unix_timestamp("ts")).alias("min_epoch"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("y", "m")
    )


# ---------------------------------------------------------------- Q17: math
@register(
    "q17",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           -- floor(x*100+0.5)/100: bit-identical half-up rounding in both
           -- engines (ROUND differs at representational .005 boundaries)
           FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS disc_price,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT)        AS n_chunks,
           CAST(TRUNC(l_quantity) AS INT)                AS qty_int,
           l_quantity + 10                               AS qty_plus,
           CAST(l_orderkey % 7 AS BIGINT)                AS mod7
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 500
    """,
    doc="Arithmetic surface F14/F16-F19 (ref query_agent.py:119-168, youtube.py:99).",
)
def q17(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5) / 100
            ).alias("disc_price"),
            F.ceil(F.col("l_quantity") / 7.0).alias("n_chunks"),
            F.col("l_quantity").cast("int").alias("qty_int"),
            (F.col("l_quantity") + 10).alias("qty_plus"),
            (F.col("l_orderkey") % 7).alias("mod7"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


# ---------------------------------------------------------------- Q18: explode + wordcount
@register(
    "q18",
    oracle="""
    SELECT word, COUNT(DISTINCT p_partkey) AS cnt
    FROM (
        SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
    )
    GROUP BY word
    HAVING COUNT(DISTINCT p_partkey) >= 5
    ORDER BY cnt DESC, word
    LIMIT 100
    """,
    doc="Explode + group + HAVING count distinct (A3/F8; ref loaders database.py:72-89).",
)
def q18(spark, sf_dir):
    return bind_sql(spark, sf_dir, """
        SELECT word, COUNT(DISTINCT p_partkey) AS cnt
        FROM (
            SELECT p_partkey, explode(split(p_name, ' ')) AS word FROM {part}
        ) words
        GROUP BY word
        HAVING COUNT(DISTINCT p_partkey) >= 5
        ORDER BY cnt DESC, word
        LIMIT 100
    """)


# ---------------------------------------------------------------- Q19: JSON extraction
@register(
    "q19",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="JSON field access + filter (F22/F23; ref loaders database.py:61-63 JSONB ->>).",
)
def q19(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .where(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sum_k"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q20: conditional aggregation
@register(
    "q20",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT)  AS y,
           CAST(month(l_shipdate) AS INT) AS m,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE (l_quantity > 30 OR l_discount < 0.05) AND l_linestatus = 'F'
    GROUP BY y, m
    ORDER BY y, m
    """,
    doc="CASE branching + AND/OR predicate mix (F25/P8; ref filtering.py:18-123).",
)
def q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            ((F.col("l_quantity") > 30) | (F.col("l_discount") < 0.05))
            & (F.col("l_linestatus") == "F")
        )
        .groupBy(
            F.year("l_shipdate").alias("y"),
            F.month("l_shipdate").alias("m"),
        )
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("y", "m")
    )


# ---------------------------------------------------------------- Q21: DISTINCT / dedup-by-key
@register(
    "q21",
    oracle="""
    SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """,
    doc="DISTINCT projection (A2; ref loaders database.py:59-69).",
)
def q21(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


@register(
    "q21_dedup",
    oracle="""
    SELECT COUNT(*) AS n_pairs
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    """,
    doc="Dedup by composite key (T4; ref query_agent.py:287-298 seen-set).",
)
def q21_dedup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .dropDuplicates(["event_type", "user_id"])
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------- Q22: multi-join revenue (flagship)
@register(
    "q22",
    # cents-integer revenue sum (the q07 rule): the grouped double SUM
    # reassociates with partial-agg merge order; exact BIGINT sums of
    # 2dp-scaled operands are order-free, and the DESC ordering on
    # revenue stops being a latent coin-flip too
    oracle="""
    SELECT n_name,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                      AS BIGINT) / 10000.0, 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc=(
        "Flagship: 5-table join + agg, TPC-H Q5 shape (J1/A7/Q22). The dim chain "
        "reduces orders to the ASIA rows first; the fact probes that reduced side, "
        "which is broadcast. "
        "Revenue aggregates in the exact cents-integer domain (reassociation-proof; "
        "LONG product sum exact to ~8e9 rows/group — the q07 bound /100, see "
        "BASELINE §5s addendum 4; decimal(38,0) is the beyond-bound swap)."
    ),
)
def q22(spark, sf_dir):
    # r15: reduce ORDERS through the selective dim chain FIRST, then
    # join the fact LAST against the pre-filtered result. The ASIA
    # filter keeps ~20% of orders (2.94M of 15M at the 100x fixture),
    # so the fact join's other side shrinks 5x before lineitem touches
    # it and the joined intermediate carried into the aggregate is
    # 11.8M rows instead of 60M. Interleaved same-session A/B: sf10
    # 10.84 -> 3.52 s, sf1 1.43 -> 0.82 s, sf0.1 ~even, parity exact at
    # all three (OPTIMIZATION_r15.md); the 1.1 GB lineitem shuffle, the
    # documented b2 session-swing source, is gone. This differs from
    # the round-4 dims-first experiment (BASELINE.md §5b, reverted):
    # that shape left orders UNREDUCED, so the fact join saved nothing.
    #
    # BROADCAST(ao) pins the reduced side as the build side. Without
    # it the static planner trusts ao's fabricated post-join size
    # estimate and broadcasts LINEITEM, the fact (BroadcastHashJoin
    # BuildLeft over the lineitem scan at sf0.01, and at sf0.1 under the
    # engine defaults; test_q22_dims_broadcast fails on that shape) —
    # the shape round 4 measured at +80% — and at sf10 under an 8g heap the
    # unpinned build side died with "Can't acquire ... bytes to build
    # hash relation". Scale bound: ao is ~2.94M narrow rows (tens of
    # MB) at sf10, far under the 8 GB / 512M-row broadcast cap; past
    # ~sf300 it would not fit and the hint would be wrong. Forced
    # runtime Bloom injection never fires for a creation side behind a
    # 3-join chain (plans/r15/b2_restruct_bloom_sf10.txt) and measured
    # no win.
    return bind_sql(spark, sf_dir, """
        WITH ao AS (
            SELECT o_orderkey, n_name
            FROM {orders}
            JOIN {customer} ON o_custkey   = c_custkey
            JOIN {nation}   ON c_nationkey = n_nationkey
            JOIN {region}   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        )
        SELECT /*+ BROADCAST(ao) */ n_name,
               ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                     / 10000.0D, 2) AS revenue
        FROM {lineitem}
        JOIN ao ON l_orderkey = o_orderkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """)


# ---------------------------------------------------------------- Q23: range/theta join
@register(
    "q23",
    oracle="""
    SELECT o_orderkey, COUNT(*) AS cnt
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderkey
    ORDER BY o_orderkey
    LIMIT 500
    """,
    doc="Equi key + range residual (J7): SMJ/SHJ on key, residual filter post-match.",
)
def q23(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    cond = (
        (lineitem.l_orderkey == orders.o_orderkey)
        & (lineitem.l_shipdate >= orders.o_orderdate)
        & (lineitem.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        orders.join(lineitem, cond)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("o_orderkey")
        .limit(500)
    )


# ---------------------------------------------------------------- Q41-Q44: completeness set
@register(
    "q41_cube",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    HAVING COUNT(*) > 0
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    doc="CUBE grouping sets (A7 completeness; rollup's sibling, Q09).",
)
def q41_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus")
        )
    )


@register(
    "q42_fullouter",
    oracle="""
    SELECT COALESCE(c_custkey, o_custkey) AS k,
           COUNT(o_orderkey) AS n_orders,
           COUNT(c_name)     AS n_cust
    FROM customer FULL JOIN orders ON o_custkey = c_custkey
    GROUP BY k
    ORDER BY k
    """,
    doc="Full outer join (SURVEY §2.3 'free in Spark' completeness row).",
)
def q42_fullouter(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "full")
        .groupBy(F.coalesce("c_custkey", "o_custkey").alias("k"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count("c_name").alias("n_cust"),
        )
        .orderBy("k")
    )


@register(
    "q43_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    ORDER BY r_name, n_name
    LIMIT 500
    """,
    doc="Cartesian product (SURVEY §2.3 completeness; broadcast NL join).",
)
def q43_cross(spark, sf_dir):
    region = _t(spark, sf_dir, "region").select("r_name")
    nation = _t(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(F.broadcast(nation)).orderBy("r_name", "n_name").limit(500)


@register(
    "q44_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    HAVING COUNT(*) > 0
    ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
    doc="Explicit GROUPING SETS (A7 completeness) — Spark SQL form.",
)
def q44_grouping_sets(spark, sf_dir):
    return bind_sql(spark, sf_dir, """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
               ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0D, 2)
                 AS sum_bal
        FROM {customer}
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """)


@register(
    "q45_stats",
    # Percentiles interpolate in an exact integer CENTS domain: at
    # g=0.5 the interpolated midpoint of an even-count group lands
    # EXACTLY on a .005 dollar boundary whenever a+b is odd, and the
    # two engines' internal interpolation formulas produce doubles on
    # either side of it (found by the sf0.001 sweep: one median cell
    # flipped 52724.24 vs .25). With int64-valued inputs the midpoint
    # (a+b)/2 is exact, /100 is the identical IEEE op on the identical
    # double, so the value entering ROUND is bit-equal across engines.
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
                 / 100, 2)  AS median_price,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.95)
                 / 100, 2) AS p95_price,
           ROUND(stddev_samp(l_extendedprice), 2)          AS sd_price,
           ROUND(var_samp(l_quantity), 2)                  AS var_qty,
           ROUND(MIN(l_extendedprice), 2)                  AS min_price,
           ROUND(MAX(l_extendedprice), 2)                  AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc=(
        "Statistical aggregates (A7 completeness): exact interpolated "
        "percentiles (Spark percentile == DuckDB quantile_cont, both over "
        "an exact cents domain), sample stddev/variance, min/max. "
        "approx_percentile/approx_count_distinct "
        "are the sketch path at scale (not hash-stable -> not oracle-checked)."
    ),
)
def q45_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(cents, F.lit(0.5)) / 100, 2).alias("median_price"),
            F.round(F.percentile(cents, F.lit(0.95)) / 100, 2).alias("p95_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q60_correlated_subquery",
    # TPC-H Q17 shape: per-part small-order revenue, threshold = 20% of
    # that part's average quantity. The oracle keeps the CORRELATED
    # scalar subquery; the Spark builder is the decorrelated form
    # Catalyst would rewrite it to anyway (pre-aggregate per part +
    # equi join) — hash equality proves the decorrelation is
    # semantics-preserving.
    oracle="""
    SELECT l_partkey,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS small_order_revenue,
           COUNT(*) AS n
    FROM lineitem l
    WHERE l_quantity < (
        SELECT 0.5 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
    )
    GROUP BY l_partkey
    ORDER BY l_partkey
    LIMIT 500
    """,
    doc=(
        "Correlated scalar subquery (TPC-H Q17 shape): Spark runs the "
        "decorrelated pre-agg + broadcast join form; DuckDB runs the "
        "correlated original — results must hash-match."
    ),
)
def q60_correlated_subquery(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("__thr")
    )
    return (
        li.join(thresholds, "l_partkey")
        .where(F.col("l_quantity") < F.col("__thr"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("small_order_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_partkey")
        .limit(500)
    )


@register(
    "q46_sketch",
    # Sketch estimates can't hash-match across engines (different HLL/
    # quantile-sketch implementations), so the CHECK itself is the query
    # output: each engine compares its own sketch against its own exact
    # aggregate and emits per-group booleans. Those are deterministic and
    # hash-comparable — both engines' sketches sit far inside the 10%/5%
    # bands (HLL++ rsd default 5%; rank error ~0.1% at accuracy 1000).
    oracle="""
    WITH approx AS (
        SELECT l_returnflag,
               approx_count_distinct(l_partkey) AS ap,
               approx_quantile(l_extendedprice, 0.5) AS am
        FROM lineitem GROUP BY l_returnflag
    ),
    exact AS (
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS ep,
               median(l_extendedprice) AS em
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT a.l_returnflag,
           ABS(ap - ep) / ep < 0.10 AS parts_within_10pct,
           ABS(am - em) / em < 0.05 AS median_within_5pct
    FROM approx a JOIN exact e ON a.l_returnflag = e.l_returnflag
    ORDER BY a.l_returnflag
    """,
    doc=(
        "Sketch aggregates at scale — approx_count_distinct (HLL++) and "
        "approx_percentile — tolerance-band checked: each engine asserts "
        "its sketch against its exact twin, and the booleans hash-compare."
    ),
)
def q46_sketch(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # r14 note: fusing all four aggregates into ONE groupBy (removing
    # the second scan and the 3-row join) was tried and REJECTED: the
    # mixed distinct/non-distinct set plans through Expand, duplicating
    # every lineitem row into the heavy percentile/HLL buffers —
    # measured 9.4 -> 12.8 s noop median at 100x. Two lean passes beat
    # one expanded pass when the aggregates are CPU-bound sketches.
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("am"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ep"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("em"),
    )
    return (
        approx.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            (F.abs(F.col("ap") - F.col("ep")) / F.col("ep") < 0.10).alias(
                "parts_within_10pct"
            ),
            (F.abs(F.col("am") - F.col("em")) / F.col("em") < 0.05).alias(
                "median_within_5pct"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q24: as-of join
@register(
    "q24",
    oracle="""
    SELECT user_id, event_type
    FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
        WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
    doc="As-of: latest event per key at a point in time (J8). See operators.asof for the general join.",
)
def q24(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type")
        .orderBy("user_id")
    )
