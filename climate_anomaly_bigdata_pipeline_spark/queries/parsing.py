"""Parsing queries (SURVEY §2.2 P1-P5): the spec-driven text parsers
exercised as oracle-checked round-trips.

The driver corpus has no raw text files, so each query *formats* rows
of a table into text lines (with injected comment + malformed lines),
then parses them back with the engine's generic parsers — exercising
comment filtering, tokenize+ordinal-cast, fixed-width slicing, and
null-validation with a pure-SQL oracle doing the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.queries import query
from climate_anomaly_bigdata_pipeline_spark.sources import text_formats as TF

_DELIMITED_ORACLE = r"""
WITH lines AS (
    SELECT concat(p_partkey, ' ', p_size, ' ', p_retailprice, ' ', p_brand)
           AS value
    FROM part
    UNION ALL SELECT '% comment header line'
    UNION ALL SELECT '999999999 not_an_int 10.5 Brand#99'
    UNION ALL SELECT 'short'
), tokenized AS (
    SELECT str_split_regex(trim(value), '\s+') AS parts
    FROM lines
    WHERE NOT starts_with(value, '%')
), parsed AS (
    SELECT
        TRY_CAST(parts[1] AS BIGINT) AS p_partkey,
        TRY_CAST(parts[2] AS INTEGER) AS p_size,
        TRY_CAST(parts[3] AS DOUBLE) AS p_retailprice,
        parts[4] AS p_brand
    FROM tokenized
)
SELECT * FROM parsed
WHERE p_partkey IS NOT NULL AND p_size IS NOT NULL AND p_retailprice IS NOT NULL
"""


@query("parse_delimited_roundtrip", oracle=_DELIMITED_ORACLE)
def parse_delimited_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Berkeley-style pipeline (P1+P2+P3+P5) on formatted part rows:
    comment lines filtered, a non-numeric token casting to null, a
    short line whose out-of-range ordinals go null — both dropped by
    the required-column validation (``jobs/02_bronze_to_silver.py:18-28``)."""
    part = Catalog(spark, sf_dir).part
    lines = part.select(
        F.concat_ws(
            " ",
            F.col("p_partkey").cast("string"),
            F.col("p_size").cast("string"),
            F.col("p_retailprice").cast("string"),
            F.col("p_brand"),
        ).alias("value")
    )
    bad = spark.createDataFrame(
        [("% comment header line",), ("999999999 not_an_int 10.5 Brand#99",), ("short",)],
        "value string",
    )
    parsed = TF.parse_delimited(
        TF.filter_comments(lines.unionByName(bad)),
        spec=[
            ("p_partkey", 0, "long"),
            ("p_size", 1, "int"),
            ("p_retailprice", 2, "double"),
            ("p_brand", 3, "string"),
        ],
    )
    return R.validate_required(parsed, ["p_partkey", "p_size", "p_retailprice"])


_FIXED_WIDTH_ORACLE = """
WITH lines AS (
    SELECT concat(
        rpad(s_name, 20, ' '),
        lpad(CAST(s_suppkey AS VARCHAR), 8, ' '),
        lpad(CAST(s_acctbal AS VARCHAR), 12, ' ')
    ) AS value
    FROM supplier
    UNION ALL SELECT 'TRUNCATED_LINE'
), parsed AS (
    SELECT
        nullif(trim(substring(value, 1, 20)), '')  AS location,
        TRY_CAST(trim(substring(value, 21, 8)) AS BIGINT)  AS supp_id,
        TRY_CAST(trim(substring(value, 29, 12)) AS DOUBLE) AS acctbal
    FROM lines
)
SELECT * FROM parsed WHERE supp_id IS NOT NULL AND acctbal IS NOT NULL
"""


@query("parse_fixed_width_roundtrip", oracle=_FIXED_WIDTH_ORACLE)
def parse_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GHCND-style fixed-width pipeline (P4+P5) on formatted supplier
    rows; a truncated line slices to empty/null fields and is dropped
    (``jobs/02_bronze_to_silver.py:50-63``)."""
    sup = Catalog(spark, sf_dir).supplier
    lines = sup.select(
        F.concat(
            F.rpad(F.col("s_name"), 20, " "),
            F.lpad(F.col("s_suppkey").cast("string"), 8, " "),
            F.lpad(F.col("s_acctbal").cast("string"), 12, " "),
        ).alias("value")
    )
    bad = spark.createDataFrame([("TRUNCATED_LINE",)], "value string")
    parsed = TF.parse_fixed_width(
        lines.unionByName(bad),
        spec=[
            ("location", 1, 20, "string"),
            ("supp_id", 21, 8, "long"),
            ("acctbal", 29, 12, "double"),
        ],
    )
    return R.validate_required(parsed, ["supp_id", "acctbal"])


# --- JSON-lines parse roundtrip (S-layer; LLM-interchange format) -----------

_JSONL_ORACLE = """
WITH lines AS (
    SELECT CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
                                    source := source, n_chars := n_chars))
                AS VARCHAR) AS value
    FROM documents
    UNION ALL SELECT 'this is not json {'
    UNION ALL SELECT '{"doc_id": "NaN-ish", "lang": 7}'
), valid AS (
    SELECT TRY_CAST(value AS JSON) AS j FROM lines
), parsed AS (
    SELECT
        TRY_CAST(json_extract_string(j, '$.doc_id') AS BIGINT) AS doc_id,
        json_extract_string(j, '$.lang') AS lang,
        json_extract_string(j, '$.source') AS source,
        TRY_CAST(json_extract_string(j, '$.n_chars') AS BIGINT) AS n_chars
    FROM valid WHERE j IS NOT NULL
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM parsed
WHERE doc_id IS NOT NULL
GROUP BY source, lang
"""


@query("jsonl_parse_roundtrip", oracle=_JSONL_ORACLE)
def jsonl_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange roundtrip: format documents metadata as JSON
    lines (``to_json``), re-parse with ``from_json`` under an explicit
    schema (PERMISSIVE: malformed lines and wrong-typed fields null
    out, the same null-on-bad-cast contract as the text parsers), drop
    invalid rows, and aggregate. All JVM expressions — the same plan
    shape a schema'd ``spark.read.json`` scan of JSONL files produces,
    so this oracle-checks the JSONL source semantics without
    driver-side file writes."""
    docs = Catalog(spark, sf_dir).documents
    lines = docs.select(
        F.to_json(F.struct("doc_id", "lang", "source", "n_chars")).alias("value")
    )
    bad = spark.createDataFrame(
        [("this is not json {",), ('{"doc_id": "NaN-ish", "lang": 7}',)],
        "value string",
    )
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    parsed = (
        lines.unionByName(bad)
        .select(F.from_json("value", schema).alias("j"))
        .select("j.*")
        .where(F.col("doc_id").isNotNull())
    )
    return parsed.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
