"""Spark 4 surface operators: VARIANT schema governance, SQL pipe
syntax, and string collations. (The core VARIANT extraction op is
q_fn_variant in scalars.py; this module adds the governance and
syntax surface around it.)

The reference parsed its semi-structured tweet payloads with a
hand-rolled JSON path on every access (SparkApplication.scala:66-85).
Spark 4's VARIANT type is the engine-native answer at 100 TB: parse
once into a binary-encoded tree, then field extraction is a typed
lookup that avoids re-tokenizing the JSON string per access, and the
parse itself stays in the JVM (no UDF crossing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import cents_sum


# Spark's schema_of_variant infers a DECIMAL(p,s) per numeric literal
# (1.5 and 2.25 are different "shapes") while DuckDB's json_structure
# calls every float DOUBLE — so the two engines partition payloads
# differently on corpora with varied numeric scales. Both sides
# collapse every numeric leaf type to the token NUM before
# distinct-counting, making the compared partition "structure +
# leaf-kind class" (string / number / bool / null / nested), which
# both engines agree on. Pinned by
# tests/test_properties.py::test_variant_shape_partition_matches_duckdb.
_SPARK_NUM_TYPES = (
    r"DECIMAL\(\d+,\s*\d+\)|BIGINT|SMALLINT|TINYINT|DOUBLE|FLOAT|INT"
)
# Quote-delimited in the JSON structure document so only type tokens
# in value position match (a field literally named "DOUBLE" would
# also match — acceptable for a synthetic-corpus gate).
_DUCK_NUM_TYPES = (
    '"(U?BIGINT|U?INTEGER|U?SMALLINT|U?TINYINT|HUGEINT|UHUGEINT'
    '|DOUBLE|FLOAT|DECIMAL[^"]*)"'
)


# Shared by the batch op and its streaming twin s_schema_drift — the
# monitor's replay result must equal the batch census, so the same
# oracle certifies both.
_VARIANT_SCHEMA_ORACLE = f"""
    SELECT count(*) AS n_rows,
           count(DISTINCT regexp_replace(
               CAST(json_structure(props) AS VARCHAR),
               '{_DUCK_NUM_TYPES}', '"NUM"', 'g')) AS n_shapes
    FROM events
    """


@register("q_fn_variant_schema", oracle=_VARIANT_SCHEMA_ORACLE)
def q_fn_variant_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift probe over semi-structured payloads:
    schema_of_variant per row (numeric leaf types normalized),
    distinct-counted corpus-wide. The ingest-governance primitive for
    a 100 TB raw-JSON lake — detects producers changing payload shape
    without scanning twice (one pass, two aggregates).
    """
    events = load_table(spark, sf_dir, "events")
    shapes = events.select(
        F.regexp_replace(
            F.schema_of_variant(F.parse_json("props")),
            _SPARK_NUM_TYPES,
            "NUM",
        ).alias("shape")
    )
    return shapes.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("shape").alias("n_shapes"),
    )


@register(
    "q_sql_pipe",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS sum_value
    FROM events
    WHERE user_id % 7 = 0
    GROUP BY event_type
    ORDER BY n DESC, event_type
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0): the same logical plan Catalyst
    builds from nested SELECTs, declared as a linear left-to-right
    flow. Parameterized table reference binds the loaded DataFrame
    (with its timestamp normalization) instead of a temp view, so
    registration stays side-effect-free.
    """
    events = load_table(spark, sf_dir, "events")
    return spark.sql(
        """
        FROM {events}
        |> WHERE user_id % 7 = 0
        |> AGGREGATE count(*) AS n,
               round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100
                                         + 0.5) AS BIGINT)) AS DOUBLE)
                     / 100, 4) AS sum_value
           GROUP BY event_type
        |> ORDER BY n DESC, event_type
        |> SELECT event_type, n, sum_value
        """,
        events=events,
    )


@register(
    "q_fn_collation",
    oracle="""
    SELECT lower(mixed) AS lang_ci, count(*) AS n
    FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang)
                      ELSE lang END AS mixed
          FROM documents)
    GROUP BY 1
    """,
)
def q_fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via UTF8_LCASE collation — the
    engine-level alternative to lower()-normalizing every comparison
    site. A collated column compares/groups/joins case-insensitively
    in the JVM comparator itself; at 100 TB that also means the
    shuffle hash respects the collation (no separate normalization
    pass before every groupBy/join on user-facing text keys). The
    corpus langs are lowercase, so half the rows are upper()ed first
    to make the collation do real work; output is lower()ed to a
    deterministic representative for the oracle hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("mixed")
    )
    grouped = mixed.groupBy(
        F.collate("mixed", "UTF8_LCASE").alias("lang_grp")
    ).agg(F.count(F.lit(1)).alias("n"))
    return grouped.select(
        F.lower("lang_grp").alias("lang_ci"), "n"
    )


@register(
    "q_fn_xml",
    oracle="""
    SELECT event_id, event_type AS t, round(value, 4) AS v
    FROM events
    """,
)
def q_fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via from_xml (Spark 4): each event is serialized to
    an XML fragment and parsed back with a typed schema; the oracle
    compares against the original columns, so the equality certifies
    the parser (round-trip identity), not just that it ran. The XML
    path matters for the enterprise half of a 100 TB lake — feeds
    that still speak XML parse JVM-side with schema projection, no
    Python crossing.
    """
    events = load_table(spark, sf_dir, "events")
    xml = events.select(
        "event_id",
        F.concat(
            F.lit("<e><t>"),
            "event_type",
            F.lit("</t><v>"),
            F.col("value").cast("string"),
            F.lit("</v></e>"),
        ).alias("x"),
    )
    parsed = xml.select(
        "event_id", F.from_xml("x", "t string, v double").alias("p")
    )
    return parsed.select(
        "event_id", F.col("p.t").alias("t"),
        F.round("p.v", 4).alias("v"),
    )


@register(
    "q_fn_sql_udf",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
               AS revenue_taxed
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 `CREATE FUNCTION ...
    RETURN <expr>`): business logic named once in the catalog and
    reused — including one SQL UDF composing another — instead of
    copy-pasted expressions. Unlike Python UDFs these are pure
    Catalyst expressions after inlining: they codegen, push down, and
    cost NOTHING over writing the expression inline (the whole point
    — named semantics without leaving the JVM). The oracle evaluates
    the inlined expressions directly, certifying the definition +
    resolution + inlining path end-to-end.

    Scale: identical plan to the hand-inlined expression — one
    partial-aggregable groupBy; the function catalog is a
    session-level nicety, not a runtime cost.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_revenue("
        "price DOUBLE, discount DOUBLE) RETURNS DOUBLE "
        "RETURN price * (1 - discount)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_revenue_taxed("
        "price DOUBLE, discount DOUBLE, tax DOUBLE) RETURNS DOUBLE "
        "RETURN line_revenue(price, discount) * (1 + tax)"
    )
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("sqludf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(sum(line_revenue(l_extendedprice, l_discount)), 4)
                   AS revenue,
               round(sum(line_revenue_taxed(l_extendedprice, l_discount,
                                            l_tax)), 4) AS revenue_taxed
        FROM sqludf_lineitem GROUP BY l_returnflag
        """
    )


@register(
    "q_sql_named_params",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100
                                     + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 4) AS total
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q_sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): the query
    text carries `:threshold` / `:status` placeholders and values
    bind at execution — no string interpolation, so user input can
    never splice into the query text (the SQL-injection-safe calling
    convention for a query service) and the SAME parse tree is
    reused across parameter values (plan-cache friendly at a 100 TB
    service's query rate). The oracle inlines the bound values,
    certifying that binding is semantically identical to literal SQL.
    """
    li = load_table(spark, sf_dir, "orders")
    li.createOrReplaceTempView("params_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE)
                                         * 100 + 0.5) AS BIGINT))
                          AS DOUBLE) / 100, 4) AS total
        FROM params_orders
        WHERE o_totalprice > :threshold AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"threshold": 150000, "status": "O"},
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           round(CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                                     * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100, 4) AS total_price
    FROM lineitem
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API end-to-end: data-quality metrics ride the
    SAME scan as the consuming action (df.observe + one noop write),
    then surface as a result row — observability without a second
    pass, which at 100 TB is the difference between metrics-for-free
    and doubling the read bill. The oracle recomputes the metrics
    directly, certifying that observed values equal a dedicated
    aggregation.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias(
            "n_discounted"
        ),
        cents_sum("l_extendedprice").alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return spark.createDataFrame(
        [(got["n_rows"], got["n_discounted"], got["total_price"])],
        "n_rows long, n_discounted long, total_price double",
    )


@register(
    "q_sql_identifier",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM events GROUP BY event_type
    """,
)
def q_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() parameter binding for NAMES (Spark 3.4+): the
    table, grouping column, and measure column all arrive as bound
    string parameters but are resolved as identifiers — the
    injection-safe way to write a generic "metrics by dimension"
    query service endpoint (templating names with f-strings is the
    classic SQL-injection hole; IDENTIFIER() validates the name
    grammar at parse time). Completes the parameterized-SQL pair:
    q_sql_named_params binds VALUES, this binds IDENTIFIERS.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ident_events")
    return spark.sql(
        """
        SELECT IDENTIFIER(:dim) AS event_type, count(*) AS n,
               round(CAST(sum(CAST(floor(CAST(IDENTIFIER(:measure)
                                              AS DOUBLE) * 100 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 100, 4)
                   AS total
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:dim)
        """,
        args={"tbl": "ident_events", "dim": "event_type",
              "measure": "value"},
    )


@register(
    "q_sql_execute_immediate",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL via Spark 4 EXECUTE IMMEDIATE with positional
    `USING` binding — the query text arrives as a runtime VALUE (how
    query services, schedulers, and stored routines dispatch SQL they
    composed elsewhere) while the parameter still binds outside the
    string, preserving q_sql_named_params' injection-safe calling
    convention. The oracle inlines the bound literal, certifying the
    indirection changes nothing semantically.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ei_orders"
    )
    stmt = (
        "SELECT o_orderstatus, count(*) AS n, "
        "round(avg(o_totalprice), 4) AS avg_price "
        "FROM ei_orders WHERE o_totalprice > ? "
        "GROUP BY o_orderstatus"
    )
    return spark.sql(f"EXECUTE IMMEDIATE '{stmt}' USING 100000")


@register(
    "q_sql_union_by_name",
    oracle="""
    WITH gen1 AS (
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id % 2 = 0
    ),
    gen2 AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 2 = 1
    )
    SELECT * FROM gen1 UNION ALL BY NAME SELECT * FROM gen2
    """,
)
def q_sql_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: two corpus generations project DIFFERENT
    column sets (gen1 kept `lang`, gen2 replaced it with `source`)
    and still union into one frame — columns align BY NAME, absent
    ones null-fill (`unionByName(allowMissingColumns=True)`; the
    oracle is DuckDB's UNION ALL BY NAME). Positional UNION would
    silently zip lang against source — the classic
    drifted-generation corruption this operator exists to rule out;
    q_scan_schema_merge solves the same drift at the SCAN layer,
    this solves it at plan-composition time.

    Scale: a union is plan metadata — no shuffle, no extra scan cost
    beyond the two inputs; null-fill is a projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    )
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars"
    )
    return gen1.unionByName(gen2, allowMissingColumns=True)


@register(
    "q_sql_group_by_all",
    oracle="""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` + `ORDER BY ALL` — the modern-SQL ergonomics
    both Spark 4 and DuckDB resolve identically: every non-aggregate
    select item becomes a grouping key, every output column an order
    key. Worth certifying cross-engine precisely because resolution
    is COMPILER inference, not explicit syntax — a divergence here
    would silently regroup a query that migrates between engines.
    The Spark side runs the literal same SQL text through
    spark.sql() over a temp view; Catalyst expands ALL at analysis
    time, so the physical plan is the ordinary partial-agg +
    exchange + sort of the explicit form (nothing new to pay at
    scale).
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "gba_documents"
    )
    return spark.sql(
        """
        SELECT source, lang,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
        FROM gba_documents
        GROUP BY ALL
        ORDER BY ALL
        """
    )
