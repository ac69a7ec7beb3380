"""Operator-coverage query corpus.

One entry per operator from SURVEY.md §2 (Part A command set, Part B library
surface, Part C native-Spark capabilities) plus the beyond-reference
LLM-pipeline operators.  Each entry is a builder ``(spark, sf_dir) ->
DataFrame`` and, where ANSI-SQL-expressible, an equivalent DuckDB oracle SQL
(tables pre-registered as views: region nation customer supplier part orders
lineitem events documents embeddings).

Conventions for oracle hash-matching:
- every computed column is aliased identically on both sides;
- doubles are rounded (2-6 dp) on both sides;
- timestamps leave as epoch millis or formatted strings;
- deterministic tie-breaks on every top-k / window rank;
- integer bucketing uses explicit floor(): Spark's cast-to-int truncates
  while DuckDB's CAST rounds half-away — a silent off-by-one-bucket
  mismatch otherwise (caught on chi2_type_vs_daypart).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from kafka_connect_morphlines_spark.functions import dedup, similarity, textstats
from kafka_connect_morphlines_spark.pipeline import compile_pipeline


@dataclass
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None -> not SQL-expressible (driver does rows-only)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = QuerySpec(build=fn, oracle=oracle)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from kafka_connect_morphlines_spark.sources.files import load_table

    return load_table(spark, sf_dir, name)


def money_sum(col: Column, scale: int = 2) -> Column:
    """``round(sum(x), scale)`` with DECIMAL(23,6) accumulation, as double.

    ``sum`` over doubles is summation-order dependent, so the rounded cent
    of a revenue aggregate can flip with partitioning (observed: Q9 at
    sf0.001, 842247.87 vs .88 between Spark and DuckDB).  Casting each
    term double→decimal is deterministic on both engines and the decimal
    sum is exact and associative — partitioning cannot move the result.
    Oracles mirror it as CAST(round(sum(CAST(x AS DECIMAL(23,6))), s) AS DOUBLE).
    """
    return F.round(F.sum(col.cast("decimal(23,6)")), scale).cast("double")


# --------------------------------------------------------------------------
# A. Morphline-command operators (SURVEY.md §2 Part A + B), each through the
#    pipeline engine so the *engine path* is what's verified.
# --------------------------------------------------------------------------


@query(
    "read_json_typed",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",
)
def read_json_typed(spark, sf_dir):
    """readJson with a bound schema (B.1) -> typed struct column."""
    p = compile_pipeline([{"readJson": {"inputField": "props", "schemaDdl": "k int"}}])
    return p(t(spark, sf_dir, "events")).select("event_id", F.col("_json.k").alias("k"))


@query(
    "extract_json_paths",
    "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events",
)
def extract_json_paths(spark, sf_dir):
    """readJson schemaless + extractJsonPaths (B.1: get_json_object path)."""
    p = compile_pipeline(
        [
            {"readJson": {"inputField": "props"}},
            {"extractJsonPaths": {"paths": {"k": "/k"}}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "k")


@query(
    "set_values_template",
    "SELECT event_id, event_type || '-' || CAST(user_id AS VARCHAR) AS tag FROM events",
)
def set_values_template(spark, sf_dir):
    """setValues with @{field} interpolation (B.2; cloudsolr.conf:52-56 shape)."""
    p = compile_pipeline([{"setValues": {"tag": "@{event_type}-@{user_id}"}}])
    return p(t(spark, sf_dir, "events")).select("event_id", "tag")


@query(
    "generate_uuid_deterministic",
    """
    SELECT event_id,
           substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS uid
    FROM events
    """,
)
def generate_uuid_deterministic(spark, sf_dir):
    """generateUUID with deterministic baseField (B.2 + SURVEY §7.3.5)."""
    p = compile_pipeline([{"generateUUID": {"field": "uid", "baseField": "event_id"}}])
    return p(t(spark, sf_dir, "events")).select("event_id", "uid")


@query("convert_timestamp_millis", "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events")
def convert_timestamp_millis(spark, sf_dir):
    """convertTimestamp iso8601 -> unixTimeInMillis (B.2; cloudsolr.conf:43-51 inverse)."""
    p = compile_pipeline(
        [
            {"setValues": {"ts_ms": "@{ts}"}},
            {"toString": {"field": "ts_ms"}},
            {"convertTimestamp": {"field": "ts_ms", "inputFormats": ["iso8601"], "outputFormat": "unixTimeInMillis"}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "ts_ms")


@query("find_replace", "SELECT doc_id, replace(text, 'spark', 'SPARK') AS t2 FROM documents")
def find_replace(spark, sf_dir):
    """findReplace literal mode (B.2)."""
    p = compile_pipeline(
        [
            {"setValues": {"t2": "@{text}"}},
            {"findReplace": {"field": "t2", "find": "spark", "replace": "SPARK", "isRegex": False}},
        ]
    )
    return p(t(spark, sf_dir, "documents")).select("doc_id", "t2")


@query(
    "split_field",
    "SELECT doc_id, array_to_string(string_split(source, 'src'), '|') AS parts FROM documents",
)
def split_field(spark, sf_dir):
    """split into an array column (B.2)."""
    p = compile_pipeline([{"split": {"inputField": "source", "outputField": "parts_arr", "separator": "src"}}])
    return p(t(spark, sf_dir, "documents")).select("doc_id", F.array_join("parts_arr", "|").alias("parts"))


@query(
    "split_key_value",
    "SELECT event_id, CAST(user_id AS VARCHAR) AS u, event_type AS ty FROM events",
)
def split_key_value(spark, sf_dir):
    """splitKeyValue k=v items -> promoted fields (B.2)."""
    p = compile_pipeline(
        [
            {"setValues": {"kv": "u=@{user_id};ty=@{event_type}"}},
            {"splitKeyValue": {"inputField": "kv", "itemSeparator": ";", "outputFields": ["u", "ty"]}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "u", "ty")


@query(
    "extract_uri",
    """
    SELECT event_id,
           'ex.com' AS uri_host,
           8080 AS uri_port,
           '/p/' || event_type AS uri_path,
           CAST(user_id AS VARCHAR) AS qu
    FROM events
    """,
)
def extract_uri(spark, sf_dir):
    """extractURIComponents + extractURIQueryParameters (B.2)."""
    p = compile_pipeline(
        [
            {"setValues": {"url": "https://ex.com:8080/p/@{event_type}?u=@{user_id}&x=1"}},
            {"extractURIComponents": {"inputField": "url", "outputPrefix": "uri_"}},
            {"extractURIQueryParameters": {"inputField": "url", "parameter": "u", "outputField": "qu"}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "uri_host", "uri_port", "uri_path", "qu")


@query(
    "grok_extract",
    "SELECT event_id, event_type AS word, CAST(user_id AS BIGINT) AS num FROM events",
)
def grok_extract(spark, sf_dir):
    """grok with dictionary expansion -> regexp_extract (B.2 flagship text op)."""
    p = compile_pipeline(
        [
            {"setValues": {"line": "@{event_type} @{user_id}"}},
            {"grok": {"expressions": {"line": "%{WORD:word} %{INT:num:int}"}}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "word", "num")


@query(
    "translate_dict",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 3 WHEN event_type = 'purchase' THEN 2 ELSE 0 END AS sev
    FROM events
    """,
)
def translate_dict(spark, sf_dir):
    """translate through a literal dictionary with fallback (B.2)."""
    p = compile_pipeline(
        [
            {"setValues": {"sev": "@{event_type}"}},
            {"translate": {"field": "sev", "dictionary": {"error": 3, "purchase": 2}, "fallback": 0}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "sev")


@query(
    "contains_filter",
    "SELECT event_id, event_type FROM events WHERE event_type IN ('click', 'view')",
)
def contains_filter(spark, sf_dir):
    """contains predicate -> filter (B.2)."""
    p = compile_pipeline([{"contains": {"event_type": ["click", "view"]}}])
    return p(t(spark, sf_dir, "events")).select("event_id", "event_type")


@query(
    "not_equals_filter",
    "SELECT event_id, event_type FROM events WHERE NOT event_type = 'view'",
)
def not_equals_filter(spark, sf_dir):
    """not + equals predicates (B.2)."""
    p = compile_pipeline([{"not": {"equals": {"event_type": "view"}}}])
    return p(t(spark, sf_dir, "events")).select("event_id", "event_type")


@query(
    "if_then_else",
    "SELECT event_id, CASE WHEN event_type = 'error' THEN 'high' ELSE 'low' END AS sev FROM events",
)
def if_then_else(spark, sf_dir):
    """if/then/else conditional sub-pipeline (B.2)."""
    p = compile_pipeline(
        [
            {
                "if": {
                    "conditions": [{"contains": {"event_type": ["error"]}}],
                    "then": [{"setValues": {"sev": "high"}}],
                    "else": [{"setValues": {"sev": "low"}}],
                }
            }
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "sev")


@query(
    "try_rules",
    """
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 'buy'
                WHEN event_type = 'signup' THEN 'join'
                ELSE 'other' END AS kind
    FROM events
    """,
)
def try_rules(spark, sf_dir):
    """tryRules first-match cascade (B.2)."""
    p = compile_pipeline(
        [
            {
                "tryRules": {
                    "rules": [
                        {"commands": [{"contains": {"event_type": ["purchase"]}}, {"setValues": {"kind": "buy"}}]},
                        {"commands": [{"contains": {"event_type": ["signup"]}}, {"setValues": {"kind": "join"}}]},
                        {"commands": [{"setValues": {"kind": "other"}}]},
                    ]
                }
            }
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "kind")


@query(
    "route_by_schema_docs",
    """
    SELECT doc_id, lang,
           CASE WHEN lang = 'en' THEN 'en_doc'
                WHEN lang = 'de' THEN 'de_doc'
                ELSE 'other' END AS kind,
           n_chars
    FROM documents ORDER BY doc_id
    """,
)
def route_by_schema_docs(spark, sf_dir):
    """routeBySchema first-class command (SURVEY §7.3.1 heterogeneous-topic
    dispatch): a mixed stream routed by a JSON discriminator in ``_value``
    into per-schema sub-pipelines, outputs union by name — the frame-wide
    re-expression of the reference's per-record _valueSchema binding
    (MorphlineTransform.java:141-143).  Each branch predicate pushes into
    the shared scan; routing adds no shuffle."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.to_json(F.struct("lang")).alias("_value")
    )
    p = compile_pipeline(
        [
            {
                "routeBySchema": {
                    "branches": [
                        {
                            "when": "get_json_object(_value, '$.lang') = 'en'",
                            "commands": [{"setValues": {"kind": "en_doc"}}],
                        },
                        {
                            "when": "get_json_object(_value, '$.lang') = 'de'",
                            "commands": [{"setValues": {"kind": "de_doc"}}],
                        },
                    ],
                    "otherwise": [{"setValues": {"kind": "other"}}],
                }
            }
        ]
    )
    return p(docs).select("doc_id", "lang", "kind", "n_chars").orderBy("doc_id")


@query("head_sorted", "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 100")
def head_sorted(spark, sf_dir):
    """head (limit-N) over a deterministic order (B.2)."""
    p = compile_pipeline([{"head": {"limit": 100}}])
    return p(t(spark, sf_dir, "events").orderBy("event_id")).select("event_id", "event_type")


@query(
    "read_csv_lines",
    """
    SELECT event_id, CAST(event_id AS VARCHAR) AS id, event_type AS ty, CAST(value AS VARCHAR) AS val
    FROM events
    """,
)
def read_csv_lines(spark, sf_dir):
    """setValues-staged body -> readCSV (B.1)."""
    p = compile_pipeline(
        [
            {"setValues": {"_attachment_body": "@{event_id},@{event_type},@{value}"}},
            {"readCSV": {"columns": ["id", "ty", "val"], "separator": ","}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "id", "ty", "val")


@query(
    "read_line_explode",
    """
    SELECT doc_id, lang AS message FROM documents
    UNION ALL
    SELECT doc_id, source AS message FROM documents
    """,
)
def read_line_explode(spark, sf_dir):
    """readLine 1->N explode (B.1)."""
    p = compile_pipeline(
        [
            {"setValues": {"_attachment_body": "@{lang}\n@{source}"}},
            {"readLine": {}},
        ]
    )
    return p(t(spark, sf_dir, "documents")).select("doc_id", "message")


@query(
    "read_multi_line",
    "SELECT event_id, event_type || chr(10) || '  ' || CAST(user_id AS VARCHAR) AS message FROM events",
)
def read_multi_line(spark, sf_dir):
    """readMultiLine what=previous regex folding (B.1)."""
    p = compile_pipeline(
        [
            {"setValues": {"_attachment_body": "@{event_type}\n  @{user_id}"}},
            {"readMultiLine": {"regex": "^\\s+.*", "what": "previous"}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "message")


@query(
    "enrich_json_conform",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(NULL AS VARCHAR) AS missing
    FROM events
    """,
)
def enrich_json_conform(spark, sf_dir):
    """enrichJson schema conformance: null-fill + unknown-drop (Part A)."""
    schema = '{"type":"record","name":"P","fields":[{"name":"k","type":["null","int"]},{"name":"missing","type":["null","string"]}]}'
    p = compile_pipeline([{"enrichJson": {"valueField": "props", "outputField": "conformed", "schemaString": schema}}])
    return p(t(spark, sf_dir, "events")).select(
        "event_id", F.col("conformed.k").alias("k"), F.col("conformed.missing").alias("missing")
    )


@query(
    "to_connect_data_projection",
    "SELECT p_partkey, p_name AS name, p_brand AS brand, p_size AS size FROM part",
)
def to_connect_data_projection(spark, sf_dir):
    """toConnectData typed projection with mappings (Part A; the intended
    semantics of ToConnectDataBuilder.java:129-177)."""
    schema = (
        '{"type":"record","name":"Out","fields":['
        '{"name":"name","type":["null","string"]},'
        '{"name":"brand","type":["null","string"]},'
        '{"name":"size","type":["null","int"]}]}'
    )
    p = compile_pipeline(
        [
            {
                "toConnectData": {
                    "schemaString": schema,
                    "valueField": "_value",
                    "mappings": {"name": "p_name", "brand": "p_brand", "size": "p_size"},
                }
            }
        ]
    )
    return p(t(spark, sf_dir, "part")).select("p_partkey", "_value.name", "_value.brand", "_value.size")


@query(
    "from_connect_data_json",
    """
    SELECT event_id, to_json(struct_pack(event_type := event_type, user_id := user_id)) AS payload
    FROM events
    """,
)
def from_connect_data_json(spark, sf_dir):
    """fromConnectData converter=json staging + readClob re-read (Part A)."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(event_type, user_id)"}},
            {"fromConnectData": {"converter": "json"}},
            {"readClob": {"outputField": "payload"}},
        ]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "payload")


@query(
    "sample_seeded",
    f"""
    SELECT event_id, event_type FROM events
    WHERE CAST(('0x' || substr(md5('42:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
          < {int(0.1 * (1 << 60))}
    """,
)
def sample_seeded(spark, sf_dir):
    """sample command, deterministic mode (B.2): keep iff the 60-bit
    md5-uniform of seed:event_id < p.  Promoted from rows-only in r07 —
    the kept set is a pure function of the data (partitioning/engine
    independent), so the oracle reproduces it exactly.  The default
    Spark-RNG mode keeps its seeded pytest pin (test_commands)."""
    p = compile_pipeline(
        [{"sample": {"probability": 0.1, "seed": 42, "deterministic": True, "keyField": "event_id"}}]
    )
    return p(t(spark, sf_dir, "events")).select("event_id", "event_type")


# --------------------------------------------------------------------------
# B. Native relational capabilities (SURVEY.md §2 Part C rows the engine
#    ships via Spark: joins, aggregations, windows, sorts, set ops, ...)
# --------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(23,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation (map-side partial agg, 2-col shuffle key)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation, CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def join_revenue_by_nation(spark, sf_dir):
    """Multi-join star query (Q5-shaped): fact-fact shuffle join + broadcast
    dims (nation/region/customer are small at every SF)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_orders(spark, sf_dir):
    """Top-K per group via ranking window (Part C window functions)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_sum",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
    FROM events
    """,
)
def window_running_sum(spark, sf_dir):
    """Running aggregate window frame (Part C)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return t(spark, sf_dir, "events").select("event_id", F.round(F.sum("value").over(w), 2).alias("run_sum"))


@query(
    "session_window_agg",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS session_end_ms,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_agg(spark, sf_dir):
    """Native gap-based session windows (``F.session_window``, the batch face
    of streaming/runner.session_windows): Spark merges events into
    [first_ts, last_ts + gap) sessions inside one groupBy — no
    lag/cumulative-sum window pass.  Oracle recomputes the same sessions via
    gaps-and-islands (new session when the gap is >= 30 min, matching
    session_window's exclusive end bound)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("s.start")).alias("session_start_ms"),
            F.unix_millis(F.col("s.end")).alias("session_end_ms"),
            "n_events",
        )
    )


@query(
    "sessionize",
    """
    SELECT user_id, count(DISTINCT session_id) AS n_sessions FROM (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    ) GROUP BY user_id
    """,
)
def sessionize(spark, sf_dir):
    """Sessionization: lag + cumulative sum over gaps (Part C stateful window)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    with_new = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)).alias("is_new"),
    )
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        with_new.select("user_id", F.sum("is_new").over(wsum).alias("session_id"))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
    )


@query(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers(spark, sf_dir):
    """Left-anti join (Part C joins: NOT EXISTS)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "semi_join_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def semi_join_intersect(spark, sf_dir):
    """Set op INTERSECT == semi join (Part C set ops)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


@query(
    "except_low_priority",
    """
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def except_low_priority(spark, sf_dir):
    """Set op EXCEPT (Part C set ops)."""
    o = t(spark, sf_dir, "orders")
    return o.select("o_custkey").subtract(o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey"))


@query(
    "distinct_count_by_nation",
    """
    SELECT n.n_name AS nation, count(DISTINCT s.s_suppkey) AS n_suppliers,
           CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(23,6))), 2) AS DOUBLE) AS total_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def distinct_count_by_nation(spark, sf_dir):
    """Distinct aggregation + broadcast dim join (Part C aggregations)."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.countDistinct("s_suppkey").alias("n_suppliers"), money_sum(F.col("s_acctbal")).alias("total_bal"))
    )


@query(
    "rollup_counts",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_counts(spark, sf_dir):
    """ROLLUP grouping sets (Part C aggregations: cube/rollup)."""
    return t(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@query(
    "pivot_event_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS "view"
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark, sf_dir):
    """Pivot with fixed value set (Part C)."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = t(spark, sf_dir, "events").groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return piv.select("user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds])


@query(
    "orders_by_month",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS total
    FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
)
def orders_by_month(spark, sf_dir):
    """Date functions + aggregation (Part C date fns)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"), money_sum(F.col("o_totalprice")).alias("total"))
    )


@query(
    "event_time_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def event_time_tumbling_window(spark, sf_dir):
    """Event-time tumbling window aggregation — the batch face of the
    Structured Streaming windowed agg (SURVEY.md §2 Part C streaming row;
    the streaming runner reuses this exact plan over readStream)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("value")).alias("total"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "event_type", "n", "total")
    )


@query(
    "event_time_hopping_window",
    """
    WITH e AS (
      SELECT event_type, value,
             epoch_ms(date_trunc('minute', ts)) // 900000 * 900000
               - i * 900000 AS start_ms
      FROM events, range(0, 4) t(i)
      -- 15-min slide, 1-h duration: every event lands in exactly 4 windows
      -- (start = floor(ts/slide)*slide - i*slide, i in 0..3); truncating ts
      -- to the minute first is a no-op for the floor at 15-min granularity
    )
    SELECT strftime(make_timestamp(start_ms * 1000), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS total
    FROM e GROUP BY 1, 2
    """,
)
def event_time_hopping_window(spark, sf_dir):
    """Event-time HOPPING (sliding) window aggregation — F.window with a
    15-minute slide over a 1-hour duration, so each event contributes to 4
    overlapping windows (the alerting/rate-monitoring window shape; the
    streaming runner reuses the same plan over readStream).  Spark expands
    the windows map-side before one groupBy — the shuffle carries
    (window, type) partial aggregates, 4x the tumbling row count but still
    aggregate-sized."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("value")).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total",
        )
    )


@query(
    "string_functions",
    """
    SELECT p_partkey, upper(substr(p_name, 1, 10)) AS up, length(p_name) AS nlen,
           trim(p_brand) AS brand_t, reverse(p_type) AS type_rev
    FROM part
    """,
)
def string_functions(spark, sf_dir):
    """String function surface (Part C string fns)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 10)).alias("up"),
        F.length("p_name").alias("nlen"),
        F.trim(F.col("p_brand")).alias("brand_t"),
        F.reverse(F.col("p_type")).alias("type_rev"),
    )


@query(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           round(sqrt(l_extendedprice), 6) AS sq,
           round(ln(l_quantity + 1), 6) AS lg,
           abs(round(l_discount - 0.05, 4)) AS ad,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
           CAST(floor(l_extendedprice) AS BIGINT) AS fl
    FROM lineitem
    """,
)
def math_functions(spark, sf_dir):
    """Math function surface (Part C math fns)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("sq"),
        F.round(F.log(F.col("l_quantity") + 1), 6).alias("lg"),
        F.abs(F.round(F.col("l_discount") - 0.05, 4)).alias("ad"),
        F.ceil("l_extendedprice").cast("bigint").alias("ce"),
        F.floor("l_extendedprice").cast("bigint").alias("fl"),
    )


@query(
    "sort_topn_lineitems",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100
    """,
)
def sort_topn_lineitems(spark, sf_dir):
    """Global top-N (TakeOrderedAndProject — no full sort at scale)."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# C. LLM-data-pipeline operators (beyond reference; BASELINE.json north star)
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by content digest (hash-groupBy; 32-byte shuffle keys)."""
    return dedup.exact_dedup_keys(t(spark, sf_dir, "documents"))


def _minhash_oracle_sql(num_hashes: int = 48, bands: int = 12, threshold: float = 0.8) -> str:
    """Full MinHash+LSH oracle: regenerates the md5-derived 32-bit base
    hashes, the 48 affine permutations ((a*h+b) mod 2^31-1 with the exact
    Python-derived constants inlined), the 12 band tuples, the candidate
    join, and the exact shingle-Jaccard verify — the whole pipeline in
    SQL.  Bands are compared as minhash TUPLES (the Spark side buckets on
    murmur3 of the tuple; a cross-tuple bucket collision would only ever
    ADD a candidate, which the exact verify then scores identically)."""
    from kafka_connect_morphlines_spark.functions.dedup import _MERSENNE_P, _affine_params

    rpb = num_hashes // bands
    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {_MERSENNE_P}) AS mh{i}"
        for i, (a, b) in ((j, _affine_params(j)) for j in range(num_hashes))
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.mh{band * rpb + j} = b.mh{band * rpb + j}" for j in range(rpb)) + ")"
        for band in range(bands)
    )
    return f"""
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END AS shs
      FROM d
    ),
    sd AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh),
    hb AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sd),
    sig AS (SELECT doc_id, {mh_cols} FROM hb GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM sd GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c JOIN sd x ON x.doc_id = c.id_a
                  JOIN sd y ON y.doc_id = c.id_b AND y.s = x.s
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jacc
    FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {threshold}
    """


@query("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, Jaccard-verified (shingle->minhash->band->bucket-join).

    K=48/B=12 (4 rows per band, like the 64/16 default): candidate recall at
    the 0.8 threshold is 1-(1-j^4)^12 = 0.998 vs 0.9998 for 16 bands, and the
    measured verified-pair output is identical at sf0.01 and sf0.1 — 25% less
    signature work for free (verification is exact, so precision is unchanged
    by construction).  Promoted from rows-only in r07 via base_hash='md5':
    the oracle regenerates signatures, bands, candidates and the exact
    verify end to end (production default stays murmur3)."""
    return dedup.minhash_dedup_pairs(
        t(spark, sf_dir, "documents"), threshold=0.8, num_hashes=48, bands=12, base_hash="md5"
    )


def _simhash_oracle_sql(bits: int = 48, max_hamming: int = 3) -> str:
    """All-pairs SimHash oracle.  Valid because pigeonhole chunk blocking
    is EXACT (any pair within max_hamming shares one of max_hamming+1
    chunks), so the blocked Spark output equals the brute-force pair set."""
    o_cols = ", ".join(f"sum((h >> {j}) & 1) AS o{j}" for j in range(bits))
    pack = " + ".join(
        f"CASE WHEN 2 * o{j} > n THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(list_filter(string_split(trim(text), ' '), x -> x != ''))) AS t
      FROM documents
    ),
    th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
    votes AS (SELECT doc_id, count(*) AS n, {o_cols} FROM th GROUP BY doc_id),
    sig AS (
      SELECT d.doc_id, coalesce(({pack}), CAST(0 AS BIGINT)) AS sh
      FROM documents d LEFT JOIN votes USING (doc_id)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


@query("dedup_simhash", _simhash_oracle_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs with pigeonhole chunk blocking.  Promoted
    from rows-only in r07 via token_hash='md5' (the portable 60-bit
    md5-derived token hash): the oracle recomputes every signature and
    brute-forces all pairs — which must equal the blocked output exactly,
    because pigeonhole blocking has zero false negatives.  Production
    default stays xxhash64 (dedup._token_hash64)."""
    return dedup.simhash_near_dupes(
        t(spark, sf_dir, "documents"), bits=48, max_hamming=3, token_hash="md5"
    )


@query(
    "ngram_jaccard_pairs",
    """
    WITH tok AS (
      SELECT doc_id, source, list_distinct(list_filter(string_split(trim(text), ' '), x -> x != '')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jacc
    FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-Jaccard pairs within a blocking key (the bounded-block
    exact verifier; tokens are whitespace tokens)."""
    out = dedup.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), block_col="source", threshold=0.9)
    return out.select("id_a", "id_b", F.round("jacc", 6).alias("jacc"))


@query(
    "embedding_cosine_topk",
    """
    SELECT b.vec_id,
           round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS score
    FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE b.vec_id != 0
    ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, b.vec_id ASC
    LIMIT 10
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against a literal query vector (exact ANN baseline)."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    out = similarity.brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


# --------------------------------------------------------------------------
# Oracle SQL for the md5-derandomized hyperplane family.  The engine's LSH
# hyperplanes / JL matrix entries are closed-form md5 draws
# (similarity._hyperplane: signed little-endian int64 of digest bytes [0:8]
# divided by 2^63), so DuckDB can regenerate the EXACT matrices: the byte
# decode below is bit-identical to struct.unpack('<q', md5[:8]) / 2**63 —
# hi/lo 32-bit halves are each exactly representable, so the IEEE addition
# correctly rounds the quotient (a direct HUGEINT->DOUBLE cast in DuckDB
# truncates and was 1 ULP off on 2/1024 entries).
# --------------------------------------------------------------------------

_HP_LO = "(" + " + ".join(
    f"CAST(('0x' || substr(h, {2 * b + 1}, 2)) AS BIGINT) * {256 ** b}" for b in range(4)
) + ")"
_HP_HI = "(" + " + ".join(
    f"CAST(('0x' || substr(h, {2 * b + 1}, 2)) AS BIGINT) * {256 ** (b - 4)}" for b in range(4, 8)
) + ")"
_HP_ENTRY = (
    f"(CAST(CASE WHEN {_HP_HI} >= 2147483648 THEN {_HP_HI} - 4294967296 ELSE {_HP_HI} END AS DOUBLE)"
    f" / 2147483648.0 + CAST({_HP_LO} AS DOUBLE) / 9223372036854775808.0)"
)


def _hyperplane_cte_sql(prefix: str, n_planes: int, dim: int) -> str:
    """(p, j, e): the exact hyperplane entries _hyperplane(dim, prefix+p)[j]."""
    key = f"md5('hyperplane:{prefix}' || CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR))"
    return (
        f"SELECT p, j, {_HP_ENTRY} AS e FROM "
        f"(SELECT p, j, {key} AS h FROM range(0, {n_planes}) t(p), range(0, {dim}) u(j))"
    )


def _hp_bucket_ctes(n_planes: int) -> str:
    """dots + buck CTE bodies: raw-dot sign bits packed to a bucket id,
    mirroring similarity.hyperplane_bucket's (v @ planes.T) > 0."""
    return f"""
    dots AS (
      SELECT e.vec_id, hp.p, sum(CAST(e.embedding[hp.j + 1] AS DOUBLE) * hp.e) AS d
      FROM embeddings e, hp GROUP BY e.vec_id, hp.p
    ),
    buck AS (
      SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
      FROM dots GROUP BY vec_id
    )"""


# --------------------------------------------------------------------------
# Oracle SQL for the portable HLL family (functions/sketches.py hll_build /
# hll_estimate): register index = first 2 md5 hex chars, rho = leading-zero
# run of the next 13 (string ops only), harmonic sum as the INTEGER
# sum(2^(53-rho)) — so the oracle rebuilds sketch and estimate exactly.
# --------------------------------------------------------------------------

_HLL_REG = "CAST(('0x' || substr(h, 1, 2)) AS BIGINT)"
_HLL_Z = "(13 - length(ltrim(substr(h, 3, 13), '0')))"
_HLL_RHO = f"""(CASE WHEN {_HLL_Z} = 13 THEN 53
    ELSE {_HLL_Z} * 4 + (CASE substr(substr(h, 3, 13), {_HLL_Z} + 1, 1)
      WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
      WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
      ELSE 0 END) + 1 END)"""


def _hll_est_sql(np_expr: str = "np", sp_expr: str = "sp") -> str:
    """Estimate expression from (count-of-registers, integer harmonic sum) —
    mirrors sketches.hll_estimate: one literal/int64 division, linear
    counting below 2.5m when empty registers exist."""
    from kafka_connect_morphlines_spark.functions.sketches import _HLL_ALPHA_NUM, HLL_M

    v = f"({HLL_M} - {np_expr})"
    s = f"({sp_expr} + CAST({v} AS BIGINT) * (CAST(1 AS BIGINT) << 53))"
    e_raw = f"({_HLL_ALPHA_NUM!r} / CAST({s} AS DOUBLE))"
    return (
        f"(CASE WHEN {e_raw} <= {2.5 * HLL_M!r} AND {v} > 0 "
        f"THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST({v} AS DOUBLE)) "
        f"ELSE {e_raw} END)"
    )


_HLL_SP = "sum(CAST(1 AS BIGINT) << (53 - rho))"


_ANN_LSH_SQL = f"""
    WITH hp AS ({_hyperplane_cte_sql('', 8, 64)}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    {_hp_bucket_ctes(8)},
    qb AS (SELECT b AS qbucket FROM buck WHERE vec_id = 0),
    scored AS (
      SELECT b.vec_id, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS score
      FROM buck b JOIN embeddings e USING (vec_id), qb, q
      WHERE b.vec_id != 0 AND bit_count(xor(b.b, qb.qbucket)) <= 1
    )
    SELECT vec_id, round(score, 4) AS score FROM (
      SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= 10
"""


@query("embedding_ann_lsh", _ANN_LSH_SQL)
def embedding_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed approximate top-k (the 100 TB scan-pruning
    path).  Certified: the md5 hyperplanes are closed-form, so the oracle
    regenerates the exact planes, buckets, multiprobe-1 candidate set and
    top-10 (bit-identical matrix; dot signs agree because no dot sits
    within float-noise of 0)."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    out = similarity.ann_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10, n_planes=8, multiprobe=1)
    return out.select("vec_id", F.round("score", 4).alias("score"))


@query(
    "embedding_knn_join",
    """
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                                         c.vec_id ASC) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5 AND c.vec_id >= 5
    ) WHERE rank <= 5
    """,
)
def embedding_knn_join(spark, sf_dir):
    """Brute-force kNN join: top-5 neighbors for each of the first 5 vectors."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = similarity.knn_join_topk(queries_df, emb.filter(F.col("vec_id") >= 5), k=5)
    return out.select("query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank")


@query(
    "text_quality",
    """
    WITH tok AS (
      SELECT doc_id, n_chars, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN round(CAST(len(list_filter(toks, x -> list_contains(
                     ['the','and','of','to','a','in','is','it','that','for','on','with','as','at','by','an','be','this','are','was'],
                     lower(x)))) AS DOUBLE) / len(toks), 6)
                ELSE 0.0 END AS stopword_ratio,
           CASE WHEN len(toks) > 0
                THEN round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
                ELSE 0.0 END AS unique_token_ratio
    FROM tok
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring features: token counts, stopword ratio, uniqueness.

    Uses the explode+aggregate codegen shape (quality_features_df) — the
    per-row higher-order-function variant is ~50x slower per doc."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    feats = textstats.quality_features_df(docs)
    return feats.select(
        "doc_id",
        "n_tokens",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("unique_token_ratio", 6).alias("unique_token_ratio"),
    )


@query(
    "lang_id_pred",
    None,  # oracle built in __spark_entry__ via the generated CASE (see lang_id_oracle_sql)
)
def lang_id_pred(spark, sf_dir):
    """Marker-token language identification (argmax over marker hits) —
    served by the explode-once codegen plan (textstats.lang_id_exploded,
    r08; exact parity with the Column form pinned in pytest)."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.lang_id_exploded(docs)


def lang_id_oracle_sql() -> str:
    """DuckDB CASE mirroring textstats.lang_id exactly (same order, strict >)."""
    from kafka_connect_morphlines_spark.functions.textstats import LANG_MARKERS

    codes = sorted(LANG_MARKERS)
    score = {
        c: (
            "len(list_filter(list_transform(list_filter(string_split(trim(text), ' '), x -> x != ''), x -> lower(x)),"
            f" x -> list_contains({LANG_MARKERS[c]!r}, x)))"
        )
        for c in codes
    }
    # sequential argmax with strict >, initial best ('und', 0)
    exprs = []
    for c in codes:
        exprs.append(f"{score[c]} AS s_{c}")
    greatest = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = f"CASE WHEN {greatest} <= 0 THEN 'und' "
    for c in codes:
        case += f"WHEN s_{c} = {greatest} THEN '{c}' "
    case += "END"
    inner = ", ".join(exprs)
    return f"SELECT doc_id, {case} AS lang_pred FROM (SELECT doc_id, text, {inner} FROM documents)"


QUERIES["lang_id_pred"] = QuerySpec(build=lang_id_pred, oracle=lang_id_oracle_sql())


def _pii_oracle_sql() -> str:
    """DuckDB regexp_replace chain generated from the SAME pattern table the
    Spark operator uses (textclean.PII_PATTERNS are RE2-compatible by
    construction), so the two can't drift."""
    from kafka_connect_morphlines_spark.functions.textclean import PII_PATTERNS

    expr = "text"
    for pattern, repl in PII_PATTERNS:
        p = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return f"SELECT doc_id, {expr} AS clean FROM documents"


@query("pii_redact", None)  # oracle attached below (generated from the pattern table)
def pii_redact(spark, sf_dir):
    """PII redaction (emails/SSNs/phones/IPs -> typed placeholders): a
    map-only codegen regexp chain — the scan is the only cost at 100 TB."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", textclean.redact_pii(F.col("text")).alias("clean"))


QUERIES["pii_redact"] = QuerySpec(build=pii_redact, oracle=_pii_oracle_sql())


@query(
    "html_strip",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS clean
    FROM documents
    """,
)
def html_strip(spark, sf_dir):
    """C4-style markup scrub: drop tags, collapse whitespace (map-only)."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", textclean.strip_html(F.col("text")).alias("clean"))


def _zorder_oracle_sql() -> str:
    """Morton-code SQL generated from the SAME term list the Spark operator
    uses (layout.zorder_sql) so the two cannot drift."""
    from kafka_connect_morphlines_spark.functions.layout import zorder_sql

    expr = zorder_sql(["user_id % 256", "CAST(floor(value) AS BIGINT) % 256"], bits=8)
    return f"SELECT event_id, {expr} AS zval FROM events"


@query("zorder_values", None)  # oracle attached below (generated from the term list)
def zorder_values(spark, sf_dir):
    """Z-order (Morton) interleave of two normalized dimensions
    (layout.zorder_value) — the clustering key behind
    layout.cluster_by_zorder's multi-dimensional file skipping.  A flat
    codegen shift/mask sum, map-only."""
    from kafka_connect_morphlines_spark.functions import layout

    ev = t(spark, sf_dir, "events")
    zv = layout.zorder_value([F.col("user_id") % 256, F.floor(F.col("value")) % 256], bits=8)
    return ev.select("event_id", zv.alias("zval"))


QUERIES["zorder_values"] = QuerySpec(build=zorder_values, oracle=_zorder_oracle_sql())


@query(
    "span_dedup_clean",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[(CAST(i AS BIGINT)*16+1):(CAST(i AS BIGINT)*16+16)], ' ') AS span
      FROM tok, UNNEST(range(CAST(ceil(len(toks)/16.0) AS BIGINT))) AS t(i)
    ), ranked AS (
      SELECT doc_id, pos, span,
             row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, pos) AS rn
      FROM spans
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(span, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(t.n_spans, 0) AS n_spans,
           coalesce(t.n_spans, 0) - coalesce(r.n_kept, 0) AS n_removed
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def span_dedup_clean(spark, sf_dir):
    """C4/RefinedWeb-style duplicate-span removal
    (traindata.remove_duplicate_spans): every 16-token non-overlapping span
    that repeats anywhere in the corpus survives only at its first
    (doc_id, pos) occurrence; documents are rebuilt from surviving spans.
    Winner selection is a digest-keyed min-struct groupBy (16-byte keys in
    the shuffle); span text crosses the wire once, in the winner-filter
    join."""
    from kafka_connect_morphlines_spark.functions import traindata

    return traindata.remove_duplicate_spans(t(spark, sf_dir, "documents"), span_tokens=16)


@query(
    "url_canonical_dedup",
    r"""
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'HTTP://WWW.Example.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
          WHEN 1 THEN 'http://example.com:80/page/' || CAST(doc_id % 50 AS VARCHAR) || '/'
          WHEN 2 THEN 'http://Example.com/page/' || CAST(doc_id % 50 AS VARCHAR)
                      || '?utm_source=feed&gclid=' || CAST(doc_id AS VARCHAR)
          ELSE 'https://example.com:443/page/' || CAST(doc_id % 50 AS VARCHAR)
               || '?id=7&utm_campaign=x#sec-' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ), c1 AS (
      SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM u
    ), c2 AS (
      SELECT doc_id, u, regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*') AS p FROM c1
    ), c3 AS (
      SELECT doc_id, lower(p) || substr(u, length(p) + 1) AS u FROM c2
    ), c4 AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(u,
          '^(https?://)www\.', '\1'),
          '^(http://[^/?#]*):80([/?#])', '\1\2'),
          '^(http://[^/?#]*):80$', '\1'),
          '^(https://[^/?#]*):443([/?#])', '\1\2'),
          '^(https://[^/?#]*):443$', '\1') AS u
      FROM c3
    ), c5 AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(u,
          '([?&])(utm_[^=&]*|gclid|fbclid|msclkid)=[^&#]*', '\1', 'g'),
          '&&+', '&', 'g'),
          '[?]&', '?'),
          '[?&]+$', ''),
          '([^/])/$', '\1'),
          '([^/])/[?]', '\1?') AS u
      FROM c4
    )
    SELECT u AS canonical_url, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM c5 GROUP BY u
    """,
)
def url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + canonical-URL dedup (web.url_dedup_keys).

    The corpus has no URL column, so the query derives a deliberately messy
    URL per document (scheme/host case, www, default ports, tracking params,
    fragments, trailing slashes — four spellings of the same page family)
    and reduces it to (canonical_url, keep_id, n_copies).  Canonicalization
    is a map-only codegen regexp chain; the dedup groupBy shuffles one short
    key per row."""
    from kafka_connect_morphlines_spark.functions import web

    d = t(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 50).cast("string")
    did = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://WWW.Example.COM/page/"), page))
        .when(v == 1, F.concat(F.lit("http://example.com:80/page/"), page, F.lit("/")))
        .when(
            v == 2,
            F.concat(
                F.lit("http://Example.com/page/"), page,
                F.lit("?utm_source=feed&gclid="), did,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com:443/page/"), page,
                F.lit("?id=7&utm_campaign=x#sec-"), did,
            )
        )
    )
    return web.url_dedup_keys(d.select("doc_id", url.alias("url")))


@query(
    "dup_ngram_stats",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, [toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))] AS grams
      FROM tok WHERE len(toks) >= 2
    )
    SELECT doc_id, len(grams) AS n_grams,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS dup_gram_frac
    FROM g
    """,
)
def dup_ngram_stats(spark, sf_dir):
    """Gopher-style repetition filter signal: fraction of word 2-grams that
    are repeats, via two-level groupBy (no countDistinct expand)."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textclean

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    out = textclean.repetition_stats_df(docs, n=2)
    return out.select("doc_id", "n_grams", F.round("dup_gram_frac", 6).alias("dup_gram_frac"))


@query(
    "word_entropy",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(toks) AS tkn FROM tok
    ), c AS (
      SELECT doc_id, tkn, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY doc_id, tkn
    )
    SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
    FROM c GROUP BY doc_id
    """,
)
def word_entropy(spark, sf_dir):
    """Token-distribution Shannon entropy per doc (nats): ln(n) - sum(c ln c)/n
    — one pass over (doc, token) counts, no probability join-back."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textclean

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textclean.word_entropy_df(docs).select("doc_id", F.round("entropy", 6).alias("entropy"))


@query(
    "stratified_sample_exact_k",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5('strat/' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 7
    """,
)
def stratified_sample_exact_k(spark, sf_dir):
    """Exact-k-per-group deterministic sampling
    (traindata.stratified_sample_exact): rank within each group by a seeded
    md5 of the id and keep rank <= k — guarantees the per-group count that
    rate-based mixture sampling cannot."""
    from kafka_connect_morphlines_spark.functions import traindata

    d = t(spark, sf_dir, "documents")
    return traindata.stratified_sample_exact(d, "source", k=7).select("doc_id", "source")


@query(
    "zipf_slope",
    """
    WITH cnt AS (
      SELECT tkn, count(*) AS c FROM (
        SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS tkn
        FROM documents
      ) GROUP BY tkn
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tkn ASC) AS rk FROM cnt
    )
    SELECT count(*) AS n_vocab,
           round(covar_pop(ln(rk), ln(c)) / var_pop(ln(rk)), 6) AS zipf_slope
    FROM ranked
    """,
)
def zipf_slope(spark, sf_dir):
    """Corpus Zipf slope (textstats.zipf_slope_df): OLS slope of
    ln(frequency) on ln(rank) — natural corpora sit near -1; the regression
    is one covar/var aggregate over the vocabulary-sized count table."""
    return textstats.zipf_slope_df(t(spark, sf_dir, "documents"))


@query(
    "quality_classifier_score",
    """
    WITH e AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS tkn
      FROM documents
    ), b AS (
      SELECT doc_id, tkn,
             CAST(('0x' || substr(md5('feat/qclf/' || tkn), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM e
    ), w AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w/qclf/' || CAST(bkt AS VARCHAR)), 1, 6)) AS BIGINT) % 2001 - 1000 AS wm
      FROM b
    ), agg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(wm) AS sm FROM w GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           CASE WHEN coalesce(agg.n_tokens, 0) > 0
                THEN (CASE WHEN agg.sm < 0 THEN -1 ELSE 1 END
                      * ((abs(agg.sm) * 2000 + agg.n_tokens) // (2 * agg.n_tokens)))
                     / 1000000.0
                ELSE 0.0 END AS score,
           coalesce(agg.sm, 0) > 0 AS label
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def quality_classifier_score(spark, sf_dir):
    """Fasttext-style hashed linear quality classifier
    (textstats.hashed_linear_score_df): md5 feature hashing into 4096
    buckets, integer milli-weights derived from the seeded bucket hash, one
    explode + per-doc groupBy (map-side combine; the shuffle carries (id,
    bigint) partial sums).  The weight sum is exact BIGINT arithmetic so the
    score is summation-order independent on both engines."""
    return textstats.hashed_linear_score_df(t(spark, sf_dir, "documents"))


@query(
    "unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(toks) AS tkn FROM tok
    ), cnt AS (
      SELECT tkn, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY tkn
    ), tot AS (
      SELECT sum(c) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM cnt
    ), lp AS (
      SELECT e.doc_id, ln((cnt.c + 1.0) / (tot.total + 1.0 * tot.vocab)) AS lp
      FROM e JOIN cnt USING (tkn) CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 6) AS logprob FROM lp GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens, coalesce(agg.logprob, 0.0) AS logprob
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def unigram_logprob(spark, sf_dir):
    """Per-doc average unigram log-probability under the corpus's own
    add-one-smoothed unigram LM (textstats.unigram_logprob_df) — the cheap
    perplexity-style quality filter: LM built with one token-count groupBy,
    scoring via a token-keyed join (AQE broadcasts the count table when it
    fits) and a per-doc average; document text never shuffles."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textstats

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.unigram_logprob_df(docs)


@query(
    "token_frequencies",
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS token FROM documents
    ) GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
    """,
)
def token_frequencies(spark, sf_dir):
    """Explode + aggregate: corpus token frequencies, top 50."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    return (
        ensure_parallelism(t(spark, sf_dir, "documents"))
        .select(F.explode(textstats.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "bpe_token_count",
    r"SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe FROM documents",
)
def bpe_token_count(spark, sf_dir):
    """BPE-ish regex token counting."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.size(textstats.bpe_ish_tokens(F.col("text"))).alias("n_bpe"))


@query(
    "doc_fingerprint",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(toks) >= 4
                THEN list_min(list_transform(range(1, len(toks) - 2), i -> md5(array_to_string(toks[i:i+3], ' '))))
                ELSE md5(array_to_string(toks, ' ')) END AS fp
    FROM tok
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (min-hash-of-shingles, n=4),
    explode+groupBy-min codegen shape."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.fingerprint_df(docs, n=4)


@query(
    "multimodal_binary_meta",
    """
    SELECT doc_id, 'text/plain' AS mime, octet_length(CAST(text AS BLOB)) AS byte_len,
           sha256(text) AS sha_hex
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Multimodal metadata path: opaque binary payload + columnar metadata
    (filters push down without touching payload bytes)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.lit("text/plain").alias("mime"), F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    from kafka_connect_morphlines_spark.functions.multimodal import media_metadata

    return media_metadata(docs, "payload").select("doc_id", "mime", "byte_len", F.col("sha256").alias("sha_hex"))


@query(
    "multimodal_features",
    """
    WITH h AS (SELECT doc_id AS media_id,
                      CAST(octet_length(encode(text)) AS INT) AS byte_len,
                      sha256(text) AS sha
               FROM documents)
    SELECT media_id, byte_len, sha AS sha256,
           round(CAST(CAST(CAST(('0x' || substr(sha, 1, 2)) AS BIGINT) / 255.0 AS REAL) AS DOUBLE), 6) AS f0
    FROM h
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched decode/featurize plumbing over mapInPandas.  The
    decode stub is a deterministic sha256-derived fake (an honest sandbox
    limit — no codec libs here), which makes the whole path certifiable:
    the oracle recomputes byte_len, the digest, and feature[0] =
    digest_byte_0/255 (through the same float32 narrowing the
    array<float> schema applies).  Promoted from rows-only in r07."""
    from kafka_connect_morphlines_spark.functions.multimodal import extract_features

    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/fake").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    out = extract_features(docs)
    return out.select(
        "media_id",
        "byte_len",
        "sha256",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )


# --------------------------------------------------------------------------
# D. Custom relational operators Spark lacks natively (asof/range join) and
#    additional aggregate/statistics coverage.
# --------------------------------------------------------------------------


@query(
    "asof_join_events",
    """
    SELECT l.event_id, r.event_id AS prior_id, round(r.value, 2) AS prior_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join (backward, inclusive): each click matched to the user's
    most recent prior signup.  Union+window formulation — one shuffle on the
    key, no join explosion (functions/relational.py)."""
    from kafka_connect_morphlines_spark.functions.relational import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    signups = ev.filter(F.col("event_type") == "signup")
    out = asof_join(clicks, signups, "ts", "ts", by="user_id", value_cols=["event_id", "value"])
    return out.select(
        "event_id",
        F.col("event_id_asof").alias("prior_id"),
        F.round("value_asof", 2).alias("prior_value"),
    )


@query(
    "range_join_bucketed",
    """
    SELECT p.p_partkey, e.event_id
    FROM part p JOIN events e
      ON e.value BETWEEN p.p_retailprice / 10 - 0.05 AND p.p_retailprice / 10 + 0.05
    """,
)
def range_join_bucketed(spark, sf_dir):
    """Range join via bucketize + equi-join + residual filter — the scalable
    replacement for a nested-loop inequality join (functions/relational.py)."""
    from kafka_connect_morphlines_spark.functions.relational import range_join

    parts = t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") / 10 - 0.05).alias("lo"),
        (F.col("p_retailprice") / 10 + 0.05).alias("hi"),
    )
    events = t(spark, sf_dir, "events").select("event_id", "value")
    out = range_join(events, parts, "value", "lo", "hi", bucket_size=0.1)
    return out.select("p_partkey", "event_id")


@query(
    "stats_by_returnflag",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_discount), 6) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_by_returnflag(spark, sf_dir):
    """Statistical aggregates (Part C aggregations: stddev/var/corr/covar)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
    )


@query(
    "percentiles_by_status",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentiles_by_status(spark, sf_dir):
    """Exact interpolated percentiles (Part C; approx_percentile is the
    at-scale variant — sketches differ across engines so the oracle pins
    the exact form).  r10: computed by
    orderstats.interpolated_quantiles_by_group — bit-parity with Spark's
    percentile() (pinned) but constant memory per task, instead of the
    built-in's per-group value->count map in ONE aggregation buffer
    (unbounded for wide value domains)."""
    from kafka_connect_morphlines_spark.functions import orderstats

    o = t(spark, sf_dir, "orders")
    out = orderstats.interpolated_quantiles_by_group(
        o, F.col("o_orderstatus"), F.col("o_totalprice"), {"p50": 0.5, "p90": 0.9}
    )
    return out.select(
        F.col("grp").alias("o_orderstatus"),
        F.round("p50", 2).alias("p50"),
        F.round("p90", 2).alias("p90"),
    )


@query(
    "levenshtein_pairs",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b, levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 6
    """,
)
def levenshtein_pairs(spark, sf_dir):
    """Fuzzy string matching: edit-distance pairs (Part C string fns)."""
    n = t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .filter(dist <= 6)
        .select(F.col("a.n_name").alias("name_a"), F.col("b.n_name").alias("name_b"), dist.alias("dist"))
    )


@query(
    "exists_orders_by_priority",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def exists_orders_by_priority(spark, sf_dir):
    """Correlated EXISTS == left-semi join + aggregation (TPC-H Q4 shape)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


_BINARY_HAMMING_SQL = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    ham AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN (CAST(e.embedding[j + 1] AS DOUBLE) > 0) != (q.qv[j + 1] > 0)
                           THEN 1 ELSE 0 END) AS INT) AS hamming
      FROM embeddings e, q, range(0, 64) t(j)
      WHERE e.vec_id != 0
      GROUP BY e.vec_id
    ),
    short AS (
      SELECT h.vec_id, h.hamming,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS score
      FROM (SELECT vec_id, hamming, row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM ham) h
      JOIN embeddings e USING (vec_id), q
      WHERE h.rn <= 50
    )
    SELECT vec_id, hamming, round(score, 4) AS score FROM (
      SELECT vec_id, hamming, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM short
    ) WHERE rn <= 10
"""


@query("embedding_binary_hamming_topk", _BINARY_HAMMING_SQL)
def embedding_binary_hamming_topk(spark, sf_dir):
    """Binary-quantized two-tier ANN (similarity.binary_hamming_topk):
    sign-bit signatures (64x smaller than float32) select a Hamming-50
    shortlist, exact cosine reranks to the top-10.  Certified bit-exact:
    sign bits involve no float accumulation, so the oracle replays the
    signature, shortlist, and rerank with no noise margin at all."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    out = similarity.binary_hamming_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, shortlist=50
    )
    return out.select("vec_id", "hamming", F.round("score", 4).alias("score"))


_NEAR_DUPES_SQL = f"""
    WITH hp AS ({_hyperplane_cte_sql('', 6, 64)}),
    {_hp_bucket_ctes(6)},
    sc AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) AS cos
      FROM buck a JOIN buck b ON a.b = b.b AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    )
    SELECT id_a, id_b, round(cos, 4) AS cos FROM sc WHERE cos >= 0.3
"""


@query("embedding_near_dupes", _NEAR_DUPES_SQL)
def embedding_near_dupes_q(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via LSH bucket blocking.
    Certified: the oracle regenerates the exact md5 hyperplanes (see
    _hyperplane_cte_sql), replays the bucket self-join, and applies the
    same raw-cosine >= threshold verify."""
    out = similarity.embedding_near_dupes(t(spark, sf_dir, "embeddings"), threshold=0.3, n_planes=6)
    return out.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


_IVF_TOPK_SQL = """
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id != 0 ORDER BY vec_id LIMIT 16
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM cents, q
      ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC, c.cid) AS rn
        FROM embeddings e, cents c WHERE e.vec_id != 0
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT a.vec_id, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS score
      FROM assigned a JOIN embeddings e USING (vec_id), q
      WHERE a.cid IN (SELECT cid FROM probe)
    )
    SELECT vec_id, round(score, 4) AS score FROM (
      SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= 10
"""


@query("embedding_ivf_topk", _IVF_TOPK_SQL)
def embedding_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-k (coarse quantizer + nprobe lists).
    Certified: the coarse quantizer is deterministic_centroids (lowest 16
    ids), so the oracle replays centroid selection, the argmax assignment
    (cid tie-break = ivf_assign's argmax-first), the nprobe-4 probe list,
    and the top-10 exactly.

    Note: on these *unclustered* synthetic embeddings recall vs exact top-k
    is ~50% at nprobe=4/16 — expected for IVF on structure-free data (the
    clustered-data test in tests/test_functions.py shows >=80% recall).
    """
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    out = similarity.ivf_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10, n_centroids=16, nprobe=4)
    return out.select("vec_id", F.round("score", 4).alias("score"))


def _approx_sketches_sql() -> str:
    import math

    from kafka_connect_morphlines_spark.functions.sketches import dd_gamma

    gamma = dd_gamma(0.01)
    lg = math.log(gamma)
    return f"""
    WITH parts AS (
      SELECT l_returnflag, {_HLL_REG} AS reg, {_HLL_RHO} AS rho
      FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem)
    ),
    regs AS (SELECT l_returnflag, reg, max(rho) AS rho FROM parts GROUP BY l_returnflag, reg),
    hagg AS (SELECT l_returnflag, count(*) AS np, {_HLL_SP} AS sp FROM regs GROUP BY l_returnflag),
    nd AS (SELECT l_returnflag, CAST(floor({_hll_est_sql()}) AS BIGINT) AS nd_parts FROM hagg),
    dd AS (
      SELECT l_returnflag,
             CAST(ceil(ln(greatest(CAST(l_extendedprice AS DOUBLE), 1e-9)) / {lg!r}) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, bucket,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS total
      FROM dd
    ),
    qb AS (
      SELECT l_returnflag,
             min(CASE WHEN cum >= greatest(CAST(ceil(0.5 * total) AS BIGINT), 1) THEN bucket END) AS b
      FROM cum GROUP BY l_returnflag
    )
    SELECT nd.l_returnflag, nd.nd_parts,
           round(2.0 * exp(CAST(qb.b AS DOUBLE) * {lg!r}) / {gamma + 1.0!r}, 4) AS p50
    FROM nd JOIN qb USING (l_returnflag)
    ORDER BY l_returnflag
"""


@query("approx_sketches", _approx_sketches_sql())
def approx_sketches(spark, sf_dir):
    """At-scale approximate aggregates from the engine's OWN mergeable
    sketches: portable HLL distinct parts + DDSketch p50 price per return
    flag (the constant-memory versions of countDistinct/percentile, both
    rollup-able by union).  Promoted from rows-only in r07: the former
    Spark-internal approx_count_distinct/percentile_approx sketches were
    engine-opaque; these are md5/log-bucket sketches the oracle rebuilds
    exactly (gamma and log-gamma inlined once on both sides)."""
    from kafka_connect_morphlines_spark.functions import sketches

    li = t(spark, sf_dir, "lineitem")
    nd = sketches.hll_estimate(
        sketches.hll_build(li, F.col("l_partkey"), ["l_returnflag"]), ["l_returnflag"]
    ).select("l_returnflag", F.floor("estimate").cast("long").alias("nd_parts"))
    dd = sketches.dd_sketch(li, F.col("l_extendedprice"), [F.col("l_returnflag")], alpha=0.01)
    p50 = sketches.dd_quantiles(dd, [0.5], alpha=0.01, key_cols=["l_returnflag"])
    return nd.join(p50, "l_returnflag").orderBy("l_returnflag")


@query(
    "filter_agg_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_agg_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + global aggregate — the pushdown
    showcase (all four predicates reach the parquet scan)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "shipping_priority_topk",
    """
    SELECT l_orderkey, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS odate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def shipping_priority_topk(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "extract_avro_tree_flatten",
    """
    SELECT p_partkey, p_name AS v_name, p_brand AS v_brand, p_size AS v_size
    FROM part
    """,
)
def extract_avro_tree_flatten(spark, sf_dir):
    """extractAvroTree: recursive struct flatten with prefix (B.1)."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(p_name AS name, struct(p_brand AS brand, p_size AS size) AS nest)"}},
            {"extractAvroTree": {"inputField": "_value", "outputPrefix": "v_"}},
            {"rename": {"v_brand": "v_nest_brand", "v_size": "v_nest_size"}},
        ]
    )
    return p(t(spark, sf_dir, "part")).select("p_partkey", "v_name", "v_brand", "v_size")


@query(
    "add_values_array",
    """
    SELECT doc_id, lang || '|' || source || '|const' AS tags FROM documents
    """,
)
def add_values_array(spark, sf_dir):
    """addValues multimap append -> ArrayType column (B.2)."""
    p = compile_pipeline(
        [
            {"addValues": {"tags": "@{lang}"}},
            {"addValues": {"tags": ["@{source}", "const"]}},
        ]
    )
    return p(t(spark, sf_dir, "documents")).select("doc_id", F.array_join("tags", "|").alias("tags"))


@query(
    "remove_fields_projection",
    "SELECT doc_id, lang FROM documents",
)
def remove_fields_projection(spark, sf_dir):
    """removeFields glob blacklist -> projection Catalyst prunes (B.2)."""
    p = compile_pipeline([{"removeFields": ["text", "glob:n_*", "source"]}])
    return p(t(spark, sf_dir, "documents"))


@query(
    "string_codec_roundtrip",
    """
    SELECT doc_id, to_base64(CAST(source AS BLOB)) AS b64, source AS back FROM documents
    """,
)
def string_codec_roundtrip(spark, sf_dir):
    """toByteArray + base64 + decodeBase64 round-trip (B.2 codecs)."""
    p = compile_pipeline(
        [
            {"setValues": {"bytes_src": "@{source}"}},
            {"toByteArray": {"field": "bytes_src"}},
            {"sqlExpr": {"b64": "base64(bytes_src)", "back_raw": "unbase64(base64(bytes_src))"}},
            {"sqlExpr": {"back": "decode(back_raw, 'UTF-8')"}},
        ]
    )
    return p(t(spark, sf_dir, "documents")).select("doc_id", "b64", "back")


@query(
    "returned_items_topk",
    """
    SELECT c.c_custkey, c.c_name, CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20
    """,
)
def returned_items_topk(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "argmin_supplier_per_nation",
    """
    SELECT n_name AS nation, s_suppkey, s_acctbal FROM (
      SELECT n.n_name, s.s_suppkey, s.s_acctbal,
             row_number() OVER (PARTITION BY n.n_name ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rn
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    ) WHERE rn = 1
    """,
)
def argmin_supplier_per_nation(spark, sf_dir):
    """Q2-shaped argmin-per-group (min-cost supplier) via ranking window."""
    from pyspark.sql import Window

    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "s_suppkey", "s_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# D. Wider analytics corpus — classic TPC-H plan shapes adapted to the
#    driver tables (no partsupp), exercising plan features the rest of the
#    corpus doesn't: nation-pair disjunctions (Q7), multi-dim star join (Q9),
#    conditional aggregation (Q12), left-outer + double aggregate (Q13),
#    promo share (Q14), group-having semi join (Q18), disjunctive
#    pushdown (Q19), scalar-subquery + anti join (Q22), lag frames, cube.
# --------------------------------------------------------------------------


@query(
    "volume_shipping_pairs",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def volume_shipping_pairs(spark, sf_dir):
    """TPC-H Q7 shape: volume shipping between a nation pair.  Both nation
    dims broadcast; the only shuffle is lineitem<->orders and the final
    agg.  The nation-pair disjunction stays a Column predicate so Catalyst
    can evaluate it post-join without materializing the cross space."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n2 = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "profit_by_nation_year",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(23,6))), 2) AS DOUBLE) AS profit
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY nation, o_year
    """,
)
def profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp: supply cost modeled as 10% of retail).
    part/supplier/nation broadcast; lineitem<->orders is the one big join.

    The profit sum accumulates in DECIMAL(23,6): a double sum is
    order-dependent, and with AQE choosing partition counts the half-cent
    rounding of round(sum(double), 2) flipped between engines at small SFs.
    Per-row double → decimal conversion is deterministic on both engines;
    the decimal sum is exact and associative, so partitioning can't move
    the rounded cent."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(amount.cast("decimal(23,6)")), 2).cast("double").alias("profit"))
    )


@query(
    "local_supplier_volume",
    """
    SELECT n.n_name AS n_name, CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM customer c, orders o, lineitem l, supplier s, nation n, region r
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA'
      AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
    GROUP BY n_name
    """,
)
def local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue from intra-nation supply within a region.

    The date filter pushes into the orders scan, the region filter prunes
    nation before anything joins, and customer/supplier/nation/region all
    broadcast — lineitem<->orders is the single shuffle join.  The
    c_nationkey = s_nationkey locality predicate rides the supplier
    broadcast join, not a separate shuffle."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "nation_market_share",
    """
    SELECT o_year, round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE 0 END AS DECIMAL(23,6))) AS DOUBLE) / CAST(sum(CAST(vol AS DECIMAL(23,6))) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS vol,
             n2.n_name AS supp_nation
      FROM part p, lineitem l, orders o, customer c, nation n1, region r, supplier s, nation n2
      WHERE p.p_partkey = l.l_partkey AND l.l_orderkey = o.o_orderkey
        AND o.o_custkey = c.c_custkey AND c.c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
        AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n2.n_nationkey
        AND p.p_type = 'ECONOMY'
    ) GROUP BY o_year
    """,
)
def nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a part type's volume in a
    region, per year.  Every dimension broadcasts (part pre-filtered to the
    type, region to AMERICA); the share is a conditional-sum ratio computed
    in the same aggregate — no second pass, no self-join."""
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = t(spark, sf_dir, "supplier")
    n2 = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0)).cast("decimal(23,6)")).cast("double") / F.sum(vol.cast("decimal(23,6)")).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@query(
    "top_revenue_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(round(r.total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The revenue 'view' is computed once; the scalar max joins back as a
    1-row broadcast (crossJoin against a single aggregate row), the Spark
    analog of the uncorrelated scalar subquery."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(23,6)")).alias("total_revenue")
    )
    if not revenue.isStreaming:
        revenue = revenue.localCheckpoint()  # feeds the max AND the filter join
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).cast("double").alias("total_revenue"))
    )


@query(
    "supplier_part_variety",
    """
    SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def supplier_part_variety(spark, sf_dir):
    """TPC-H Q16 shape (lineitem stands in for partsupp — this corpus has no
    partsupp table): distinct suppliers per (brand, type, size), excluding a
    supplier denylist.  The NOT IN compiles to a broadcast anti-join, the
    part dim broadcasts, and the distinct count shuffles on the group key."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "small_quantity_revenue",
    """
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(23,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN (
        SELECT l2.l_partkey AS a_partkey, 0.2 * avg(l2.l_quantity) AS qty_thresh
        FROM lineitem l2 JOIN part p2 ON p2.p_partkey = l2.l_partkey
        WHERE p2.p_brand = 'Brand#11'
        GROUP BY a_partkey
      ) a ON a.a_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11' AND l.l_quantity < a.qty_thresh
    """,
)
def small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small-quantity orders.  The
    correlated scalar subquery (per-part average quantity) becomes an
    aggregate + re-join; the aggregate side is tiny (one row per brand
    part) so it broadcasts, and the brand filter prunes both scans."""
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    pl = t(spark, sf_dir, "lineitem").join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    if not pl.isStreaming:
        pl = pl.localCheckpoint()  # feeds the per-part average AND the outer filter
    thresh = pl.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        pl.join(F.broadcast(thresh), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(23,6)")).cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "priority_counts_by_linestatus",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def priority_counts_by_linestatus(spark, sf_dir):
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) — the
    map-side-combinable alternative to two filtered scans."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "customer_order_histogram",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def customer_order_histogram(spark, sf_dir):
    """TPC-H Q13 shape: left outer join + double aggregation.  count(col)
    skips the nulls the outer join introduces, so no-order customers land
    in the c_count=0 bucket."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "promo_revenue_share",
    """
    SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(23,6))) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))) AS DOUBLE), 4) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share — broadcast part, one-month
    shipdate slice pushed to the scan, single global agg."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0).cast("decimal(23,6)")).cast("double") / F.sum(rev.cast("decimal(23,6)")).cast("double"), 4
            ).alias("promo_share")
        )
    )


@query(
    "large_order_customers",
    """
    SELECT c.c_name, o.o_orderkey, round(agg.sum_qty, 2) AS sum_qty
    FROM orders o
      JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) agg
        ON agg.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def large_order_customers(spark, sf_dir):
    """TPC-H Q18 shape: group-by-having on the fact, then enrich with the
    order/customer dims.  The HAVING shrinks the fact side before either
    join, so the join input is the filtered aggregate, not raw lineitem."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 150)
    )
    return (
        o.join(agg, o.o_orderkey == agg.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", F.round("_sum_qty", 2).alias("sum_qty"))
    )


@query(
    "disjunctive_part_revenue",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def disjunctive_part_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive mixed-table predicates.  Catalyst
    derives the table-local implications (p_brand IN (...), p_size <= 50,
    l_quantity <= 40) and pushes them below the join; the full disjunction
    evaluates post-join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "idle_rich_customers",
    """
    SELECT c.c_nationkey, count(*) AS numcust, CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(23,6))), 2) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (global average, computed once and
    broadcast as a 1-row cross join) + anti join (customers with no urgent
    orders — every customer has *some* order in this corpus)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), money_sum(F.col("c_acctbal")).alias("totacctbal"))
    )


@query(
    "lag_daily_revenue_delta",
    """
    SELECT d, CAST(round(rev, 2) AS DOUBLE) AS rev, CAST(round(rev - lag(rev) OVER (ORDER BY d), 2) AS DOUBLE) AS delta
    FROM (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d, sum(CAST(value AS DECIMAL(23,6))) AS rev
      FROM events GROUP BY 1
    )
    """,
)
def lag_daily_revenue_delta(spark, sf_dir):
    """lag/lead analytic frame: day-over-day revenue delta.  The daily agg
    shrinks events to one row per day before the single-partition window
    (tiny by construction; at scale the window key would partition by a
    coarser entity, never a global sort of the fact)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(23,6)")).alias("_rev")
    )
    w = Window.orderBy("d")
    return daily.select(
        "d",
        F.round("_rev", 2).cast("double").alias("rev"),
        F.round(F.col("_rev") - F.lag("_rev").over(w), 2).cast("double").alias("delta"),
    )


@query(
    "cube_order_counts",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark, sf_dir):
    """CUBE grouping sets (Part C aggregations beyond rollup): all four
    grouping combinations in one shuffle via the Expand operator."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("o_totalprice")).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@query("avro_container_roundtrip", "SELECT doc_id, lang FROM documents")
def avro_container_roundtrip(spark, sf_dir):
    """readAvroContainer (B.1): documents are encoded per-partition into
    Avro object-container blobs (pure-Python codec behind mapInPandas),
    then decoded back 1->N through the pipeline — a distributed
    encode/decode round-trip whose output must hash-match the source
    table.  Exercises the jar-less Avro path end to end."""
    schema_json = (
        '{"type":"record","name":"Doc","fields":['
        '{"name":"doc_id","type":"long"},{"name":"lang","type":"string"}]}'
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")

    def enc(batches):
        import pandas as pd  # noqa: PLC0415

        from kafka_connect_morphlines_spark.avro_codec import write_container

        for pdf in batches:
            recs = pdf.to_dict("records")
            if recs:
                yield pd.DataFrame({"payload": [write_container(recs, schema_json, codec="deflate")]})

    blobs = docs.mapInPandas(enc, "payload binary")
    p = compile_pipeline([{"readAvroContainer": {"inputField": "payload", "schemaString": schema_json}}])
    return p(blobs).select(F.col("_json.doc_id").alias("doc_id"), F.col("_json.lang").alias("lang"))


@query("confluent_wire_roundtrip", "SELECT doc_id, source FROM documents")
def confluent_wire_roundtrip(spark, sf_dir):
    """Confluent wire-format serde (KafkaAvroSerializer parity,
    KafkaDataProducerCommandBuilder.java:251-256): every document row is
    encoded to magic 0x00 + BE schema id + Avro binary via the kafkaProducer
    encode path, then consumed back through readAvro {wireFormat: true} —
    a distributed produce/consume loop whose output must hash-match a plain
    projection of the source table.  A framing drift on either side (wrong
    header width, wrong byte order) would shift the Avro payload and break
    the hash-match."""
    schema_json = (
        '{"type":"record","name":"Doc","fields":['
        '{"name":"doc_id","type":"long"},{"name":"source","type":"string"}]}'
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")

    def enc(batches):
        import pandas as pd  # noqa: PLC0415

        from kafka_connect_morphlines_spark.avro_codec import encode_confluent

        for pdf in batches:
            yield pd.DataFrame(
                {"_value": [encode_confluent(r, schema_json, 7) for r in pdf.to_dict("records")]}
            )

    wire = docs.mapInPandas(enc, "_value binary")
    p = compile_pipeline([{"readAvro": {"schemaString": schema_json, "wireFormat": True, "outputField": "rec"}}])
    return p(wire).select(F.col("rec.doc_id").alias("doc_id"), F.col("rec.source").alias("source"))


@query(
    "salted_agg_event_totals",
    """
    SELECT event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def salted_agg_event_totals(spark, sf_dir):
    """Two-phase salted aggregation (functions/skew.py): hot group keys are
    split across 16 sub-keys, pre-aggregated, then merged — the explicit
    mitigation for skewed groupBy keys AQE can't rebalance.  Must produce
    exactly what the plain groupBy produces (the oracle)."""
    from kafka_connect_morphlines_spark.functions import skew

    # decimal accumulation so the two-phase sum is exact and associative —
    # a salted double sum re-orders terms twice (see money_sum)
    ev = t(spark, sf_dir, "events").withColumn("value", F.col("value").cast("decimal(23,6)"))
    out = skew.salted_aggregate(ev, ["event_type"], {"n": ("count", "event_id"), "total": ("sum", "value")})
    return out.select("event_type", "n", F.round("total", 2).cast("double").alias("total"))


@query(
    "enrich_json_wrap_unions",
    """
    SELECT doc_id, '{"lang":{"string":"' || lang || '"},"n_chars":{"long":' || n_chars || '}}' AS wrapped
    FROM documents
    """,
)
def enrich_json_wrap_unions(spark, sf_dir):
    """enrichJson wrapUnions (Avro-JSON union encoding, ref :265-287): the
    REST-proxy-shaped payload with union-typed fields as {"type": value}."""
    schema = (
        '{"type":"record","name":"D","fields":['
        '{"name":"lang","type":["null","string"]},'
        '{"name":"n_chars","type":["null","long"]}]}'
    )
    p = compile_pipeline(
        [
            {"sqlExpr": {"payload": "to_json(struct(lang, n_chars))"}},
            {"enrichJson": {"valueField": "payload", "outputField": "wrapped", "schemaString": schema, "wrapUnions": True}},
        ]
    )
    return p(t(spark, sf_dir, "documents")).select("doc_id", "wrapped")


# --------------------------------------------------------------------------
# D. Corpus-preparation operators (functions/traindata.py): decontamination,
#    packing/chunking, deterministic splits, dedup-cluster components.
# --------------------------------------------------------------------------


@query(
    "decontaminate_ngrams",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
    dg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 25 != 0),
    per AS (
      SELECT dg.doc_id, count(*) AS n_grams, count(bg.g) AS n_contaminated
      FROM dg LEFT JOIN bg ON dg.g = bg.g GROUP BY dg.doc_id
    )
    SELECT d.doc_id,
           coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.n_contaminated, 0) AS n_contaminated,
           round(CASE WHEN coalesce(per.n_grams, 0) > 0
                      THEN CAST(per.n_contaminated AS DOUBLE) / per.n_grams
                      ELSE 0.0 END, 6) AS contamination
    FROM (SELECT doc_id FROM documents WHERE doc_id % 25 != 0) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination by word-3-gram overlap (traindata.py): the
    benchmark split (doc_id % 25 == 0, standing in for an eval suite) is
    broadcast as a distinct-gram set; the corpus side computes the fraction
    of its distinct 3-grams that hit it.  Corpus text never shuffles."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    out = traindata.decontaminate(corpus, bench, n=3)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round("contamination", 6).alias("contamination"),
    )


@query(
    "pack_sequences_bins",
    """
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS e
      FROM d
    )
    SELECT source, doc_id, n_tokens,
           CAST(floor((e - n_tokens) / 512.0) AS BIGINT) AS bin_id
    FROM c
    """,
)
def pack_sequences_bins(spark, sf_dir):
    """Greedy contiguous sequence packing into 512-token bins per source
    (traindata.pack_sequences): one window shuffle partitioned by the
    packing group, never a global window."""
    from kafka_connect_morphlines_spark.functions import traindata

    out = traindata.pack_sequences(t(spark, sf_dir, "documents"), budget=512)
    return out.select(
        "source",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bin_id").cast("long").alias("bin_id"),
    )


@query(
    "chunk_documents_windows",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS w FROM documents
    ),
    c AS (
      SELECT doc_id, i AS chunk_id,
             w[i * 64 + 1 : least((i + 1) * 64, len(w))] AS ch
      FROM tok, UNNEST(generate_series(0, CAST(ceil(len(w) / 64.0) AS BIGINT) - 1)) AS t(i)
      WHERE len(w) > 0
    )
    SELECT doc_id, chunk_id, CAST(len(ch) AS BIGINT) AS n_tokens,
           md5(array_to_string(ch, ' ')) AS chunk_digest
    FROM c
    """,
)
def chunk_documents_windows(spark, sf_dir):
    """Fixed 64-token window chunking, 1→N codegen explode
    (traindata.chunk_documents); digests keep the compare payload small."""
    from kafka_connect_morphlines_spark.functions import traindata

    out = traindata.chunk_documents(t(spark, sf_dir, "documents"), window=64)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_digest"),
    )


@query(
    "hash_split_assign",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('split/' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS bkt
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bkt < 9000 THEN 'train' WHEN bkt < 9500 THEN 'val' ELSE 'test' END AS split
    FROM b
    """,
)
def hash_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split by md5 bucket
    (traindata.hash_split) — map-side, RNG-free, stable under retries and
    corpus growth, reproducible outside Spark (the oracle IS the proof)."""
    from kafka_connect_morphlines_spark.functions import traindata

    out = traindata.hash_split(t(spark, sf_dir, "documents"), weights={"train": 0.9, "val": 0.05, "test": 0.05})
    return out.select("doc_id", "split")


@query(
    "mixture_sample_deterministic",
    """
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(source || '/' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS bkt
      FROM documents
    )
    SELECT doc_id, source FROM b
    WHERE bkt < CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000 WHEN 'src2' THEN 7500 ELSE 10000 END
    """,
)
def mixture_sample_deterministic(spark, sf_dir):
    """Deterministic per-source mixture downsampling (traindata.mixture_sample):
    a pure map-side filter on a hashed (source, id) bucket — the source
    re-weighting step of a pretraining mixture, pushed to the scan."""
    from kafka_connect_morphlines_spark.functions import traindata

    out = traindata.mixture_sample(
        t(spark, sf_dir, "documents"),
        rates={"src0": 0.25, "src1": 0.5, "src2": 0.75},
        default_rate=1.0,
    )
    return out.select("doc_id", "source")


@query(
    "dedup_cc_clusters",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source, list_distinct(list_filter(string_split(trim(text), ' '), x -> x != '')) AS toks
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
    reach(id, n) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.id, sym.d FROM reach r JOIN sym ON sym.s = r.n
    )
    SELECT id AS doc_id, min(n) AS component FROM reach GROUP BY id
    """,
)
def dedup_cc_clusters(spark, sf_dir):
    """Connected components over near-dup pairs (traindata.connected_components):
    collapses transitive duplicate chains (A~B, B~C) into one cluster so
    dedup keeps a single representative.  Iterative min-label propagation,
    each round a node-keyed join + groupBy-min with checkpointed lineage;
    the oracle is a recursive reachability CTE over the same edges."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, block_col="source", threshold=0.8)
    return traindata.connected_components(edges, docs).orderBy("doc_id")


@query(
    "waiting_suppliers",
    """
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    agg AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
      FROM li GROUP BY l_orderkey
    ),
    w AS (
      SELECT DISTINCT li.l_orderkey, li.l_suppkey
      FROM li JOIN agg ON li.l_orderkey = agg.l_orderkey
      WHERE li.late AND agg.n_supp >= 2 AND agg.n_late = 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders waiting),
    adapted to the testdata schema: "late" = shipped >90 days after order
    date (no l_receiptdate/commitdate here).  The exists/not-exists pair of
    the original is expressed as one per-order distinct-count aggregate —
    two shuffles total instead of two correlated subquery joins; supplier
    is broadcast."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = t(spark, sf_dir, "supplier")

    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    waiters = (
        j.filter("late")
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        waiters.join(F.broadcast(sup), waiters["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "global_shuffle_order",
    """
    WITH s AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('ep0/' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 64 AS shard,
             md5('ep0#' || CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ord) AS INT) AS pos
    FROM s
    """,
)
def global_shuffle_order(spark, sf_dir):
    """Deterministic epoch shuffle (traindata.global_shuffle): shard by one
    md5 of (seed, id), rank within shard by a second — windows are
    shard-partitioned, so the permutation materializes with zero global
    sorts.  The oracle recomputes the identical (shard, pos) in DuckDB,
    proving order is a record property, not a job artifact."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.global_shuffle(docs, seed="ep0", shards=64).select("doc_id", "shard", "pos")


@query(
    "dominant_part_suppliers",
    """
    WITH pq AS (
      SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'red%' AND l.l_shipdate >= DATE '1995-01-01'
        AND l.l_shipdate < DATE '1996-01-01'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    sh AS (
      SELECT l_partkey, l_suppkey, qty,
             qty / sum(qty) OVER (PARTITION BY l_partkey) AS share
      FROM pq
    )
    SELECT s.s_name, s.s_nationkey, count(*) AS n_parts,
           round(max(sh.share), 4) AS max_share
    FROM sh JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE sh.share > 0.5
    GROUP BY s.s_name, s.s_nationkey
    ORDER BY n_parts DESC, s.s_name
    """,
)
def dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (excess-availability suppliers), adapted: the testdata
    has no partsupp, so "dominates supply of a part" = shipped >50% of the
    part's 1995 quantity.  Part is a broadcast dim filtered before the join;
    the share is a window over the *aggregated* (part, supp) frame — two
    shuffles on small aggregates, never on raw lineitem; supplier broadcasts
    at the end (reference has no relational surface; SURVEY.md §2 Part C)."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    sup = t(spark, sf_dir, "supplier")
    pq = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    sh = pq.withColumn("share", F.col("qty") / F.sum("qty").over(w)).filter(F.col("share") > 0.5)
    return (
        sh.join(F.broadcast(sup), sh["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name", "s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.max("share"), 4).alias("max_share"))
        .orderBy(F.desc("n_parts"), "s_name")
    )


@query(
    "encode_documents_ids",
    """
    WITH exploded AS (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(string_split(trim(text), ' '), x -> x != ''),
               (x, i) -> struct_pack(tok := x, ord := i))) AS u
      FROM documents
    ),
    tok AS (SELECT doc_id, u.tok AS tok, u.ord AS ord FROM exploded),
    vocab AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS INT) AS tid
      FROM tok GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 64
    )
    SELECT tok.doc_id,
           CAST(count(*) AS INT) AS n_tokens,
           string_agg(CAST(coalesce(v.tid, 0) AS VARCHAR), '-' ORDER BY tok.ord) AS ids_str
    FROM tok LEFT JOIN vocab v USING (tok)
    GROUP BY tok.doc_id
    """,
)
def encode_documents_ids(spark, sf_dir):
    """Tokenizer encode step (traindata.build_vocab + encode_documents): a
    frequency-ranked vocab (64 ids here so OOV→0 is exercised) broadcast-
    joined onto position-exploded tokens, re-assembled in order per doc.
    The id arrays are certified as dash-joined strings so the oracle compare
    stays scalar-typed."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    vocab = traindata.build_vocab(docs, vocab_size=64)
    out = traindata.encode_documents(docs, vocab)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.array_join(F.col("token_ids"), "-").alias("ids_str"),
    )


# --------------------------------------------------------------------------
# Semantic (embedding-space) dedup — SemDeDup family (functions/semantic.py)
# --------------------------------------------------------------------------


@query(
    "semantic_centroid_assign",
    """
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings ORDER BY vec_id LIMIT 64
    )
    SELECT vec_id, centroid FROM (
      SELECT e.vec_id, c.cid AS centroid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                        c.cid ASC) AS rn
      FROM embeddings e, cent c
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
)
def semantic_centroid_assign(spark, sf_dir):
    """k-means assignment step (semantic.py / similarity.ivf_assign): nearest
    of 8 fixed centroids by cosine, Arrow-batched matmul against broadcast
    centroids — map-only, no shuffle.  Fixed lowest-id centroids keep the
    step SQL-expressible; the Lloyd-fit path is certified by
    kmeans_cluster_stats (rows-only) + a golden."""
    emb = t(spark, sf_dir, "embeddings")
    cents = similarity.deterministic_centroids(emb, 64)
    out = similarity.ivf_assign(emb, cents)
    return out.select("vec_id", "centroid").orderBy("vec_id")


@query(
    "semantic_dedup",
    """
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings ORDER BY vec_id LIMIT 64
    ),
    a AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c
      ) WHERE rn = 1
    ),
    victims AS (
      SELECT DISTINCT y.vec_id
      FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id
      WHERE list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                   CAST(ey.embedding AS DOUBLE[])) >= 0.3
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM victims)
    ORDER BY e.vec_id
    """,
)
def semantic_dedup(spark, sf_dir):
    """SemDeDup (semantic.semantic_dedup_keep): cluster-block the embedding
    space, drop rows with a lower-id same-cluster neighbor above the cosine
    threshold.  Pair space is Σ|cluster|², not n² — clustering is the
    blocking structure, exactly like LSH buckets in dedup.py."""
    from kafka_connect_morphlines_spark.functions import semantic

    emb = t(spark, sf_dir, "embeddings")
    # 64 clusters: the blocking knob — cluster size, not corpus size, bounds
    # the quadratic verify (SemDeDup uses k~100k at web scale)
    cents = similarity.deterministic_centroids(emb, 64)
    kept = semantic.semantic_dedup_keep(emb, cents, threshold=0.3)
    return kept.select("vec_id", "label").orderBy("vec_id")


def _kmeans_int_oracle_sql(k: int = 8, d: int = 64, iters: int = 3, scale: int = 1024, seed: str = "kmq") -> str:
    """Replays the ENTIRE quantized-lattice Lloyd fit in SQL: md5-order
    seeds, then per iteration an exact-integer argmin assignment and a
    floor(sum/n) centroid update (empty clusters carry over via the LEFT
    JOIN coalesce) — possible because every quantity is an integer or a
    correctly-rounded double the engines agree on."""
    q = f"CAST(floor(CAST(embedding[j] AS DOUBLE) * {scale} + 0.5) AS BIGINT)"
    ctes = [
        f"""xq AS (
      SELECT vec_id, CAST(j - 1 AS INT) AS j, {q} AS xv
      FROM embeddings, range(1, {d + 1}) t(j)
    )""",
        f"""seeds AS (
      SELECT embedding, row_number() OVER (ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
      FROM embeddings ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    )""",
        f"""c0 AS (
      SELECT c, CAST(j - 1 AS INT) AS j, {q} AS cv
      FROM seeds, range(1, {d + 1}) t(j)
    )""",
    ]
    for it in range(iters):
        ctes += [
            f"""d{it} AS (
      SELECT x.vec_id, c.c, sum((x.xv - c.cv) * (x.xv - c.cv)) AS d2
      FROM xq x JOIN c{it} c ON c.j = x.j GROUP BY x.vec_id, c.c
    )""",
            f"""a{it} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d{it}
      ) WHERE rn = 1
    )""",
            f"""u{it} AS (
      SELECT a.c, x.j, CAST(floor(CAST(sum(x.xv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      FROM a{it} a JOIN xq x ON x.vec_id = a.vec_id GROUP BY a.c, x.j
    )""",
            f"""c{it + 1} AS (
      SELECT p.c, p.j, coalesce(u.cv, p.cv) AS cv
      FROM c{it} p LEFT JOIN u{it} u ON u.c = p.c AND u.j = p.j
    )""",
        ]
    ctes += [
        f"""dF AS (
      SELECT x.vec_id, c.c, sum((x.xv - c.cv) * (x.xv - c.cv)) AS d2
      FROM xq x JOIN c{iters} c ON c.j = x.j GROUP BY x.vec_id, c.c
    )""",
        """aF AS (
      SELECT vec_id, c, d2 FROM (
        SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM dF
      ) WHERE rn = 1
    )""",
    ]
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT CAST(c AS INT) AS centroid, count(*) AS cluster_size,
           round(CAST(sum(d2) AS DOUBLE) / count(*), 6) AS mean_sq_dist
    FROM aF GROUP BY c ORDER BY centroid
"""


@query("kmeans_cluster_stats", _kmeans_int_oracle_sql())
def kmeans_cluster_stats(spark, sf_dir):
    """Full Lloyd k-means fit with per-cluster size + mean squared
    distance.  Promoted from rows-only in r07 via the quantized-lattice
    variant (semantic.kmeans_fit_int): vectors and centroids live on the
    floor(x*1024+0.5) integer lattice and the centroid update floors the
    mean back onto it, so the whole 3-iteration fit — assignments,
    updates, empty-cluster carryover, final stats — is exact integer
    arithmetic a DuckDB oracle replays end to end.  The float
    semantic.kmeans_fit stays the production path (semantic_dedup,
    ssl_prototype_prune, IVF); golden kept alongside the oracle."""
    from kafka_connect_morphlines_spark.functions import semantic

    emb = t(spark, sf_dir, "embeddings")
    cents = semantic.kmeans_fit_int(emb, k=8, n_iter=3)
    return semantic.kmeans_stats_int(emb, cents).orderBy("centroid")


@query(
    "bloom_incremental_dedup",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderkey % 13 = 0
      AND o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 != 0)
    ORDER BY o_orderkey
    """,
)
def bloom_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup (functions/bloom.py): a replayed batch
    (o_orderkey % 13 == 0) deduped against the corpus snapshot
    (o_orderkey % 7 != 0).  The corpus keys are summarized once into a
    broadcast bloom words table; only rows the filter cannot rule out reach
    the exact verify anti-join, so the semantics stay exactly NOT IN while
    the join input shrinks to dups + fpp of the batch."""
    from kafka_connect_morphlines_spark.functions import bloom

    orders = t(spark, sf_dir, "orders")
    corpus = orders.filter(F.col("o_orderkey") % 7 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 13 == 0)
    kept = bloom.incremental_dedup(
        incoming, corpus, F.col("o_orderkey"), F.col("o_orderkey"), fpp=0.01
    )
    return kept.select("o_orderkey", "o_custkey").orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Data-quality validation — Deequ-style suites (functions/validation.py)
# --------------------------------------------------------------------------


@query(
    "data_quality_check",
    """
    SELECT "constraint", col_name, violations, violations = 0 AS passed FROM (
      SELECT 'not_null' AS "constraint", 'o_custkey' AS col_name,
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
      UNION ALL
      SELECT 'unique', 'o_orderkey',
             (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
      UNION ALL
      SELECT 'matches[^[1-5]-]', 'o_orderpriority',
             (SELECT count(*) FROM orders
              WHERE o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-'))
      UNION ALL
      SELECT 'in_range[0.0,100000.0]', 'o_totalprice',
             (SELECT count(*) FROM orders
              WHERE o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 100000)
      UNION ALL
      SELECT 'in_range[0.0,0.05]', 'l_tax',
             (SELECT count(*) FROM lineitem
              WHERE l_tax IS NULL OR l_tax < 0 OR l_tax > 0.05)
      UNION ALL
      SELECT 'subset_of', 'l_orderkey',
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    ) t
    """,
)
def data_quality_check(spark, sf_dir):
    """Deequ-style constraint suite (validation.check): all scalar
    constraints of a table ride one codegen aggregate; referential
    integrity is one anti-join count.  The admission gate of an ingest
    pipeline run as a query."""
    from kafka_connect_morphlines_spark.functions import validation as V

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    suite_orders = V.check(
        orders,
        [
            V.NotNull("o_custkey"),
            V.Unique("o_orderkey"),
            V.Matches("o_orderpriority", "^[1-5]-"),
            V.InRange("o_totalprice", 0.0, 100000.0),
        ],
    )
    suite_li = V.check(li, [V.InRange("l_tax", 0.0, 0.05), V.SubsetOf("l_orderkey", orders, "o_orderkey")])
    out = suite_orders.unionByName(suite_li)
    return out.select(
        "constraint", F.col("column").alias("col_name"), "violations", "passed"
    )


@query(
    "data_quality_profile",
    """
    WITH wide AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CASE WHEN l_quantity IS NOT NULL THEN 1.0 ELSE 0.0 END) AS comp0,
             CAST(count(DISTINCT l_quantity) AS DOUBLE) AS nd0,
             CAST(min(l_quantity) AS DOUBLE) AS min0,
             CAST(max(l_quantity) AS DOUBLE) AS max0,
             avg(CAST(l_quantity AS DOUBLE)) AS mean0,
             avg(CASE WHEN l_discount IS NOT NULL THEN 1.0 ELSE 0.0 END) AS comp1,
             CAST(count(DISTINCT l_discount) AS DOUBLE) AS nd1,
             CAST(min(l_discount) AS DOUBLE) AS min1,
             CAST(max(l_discount) AS DOUBLE) AS max1,
             avg(CAST(l_discount AS DOUBLE)) AS mean1
      FROM lineitem
    )
    SELECT col_name, metric, round(value, 4) AS value FROM (
      SELECT 'l_quantity' AS col_name, m.metric, m.value
      FROM wide, LATERAL (VALUES ('row_count', n), ('completeness', comp0), ('n_distinct', nd0),
                                 ('min', min0), ('max', max0), ('mean', mean0)) m(metric, value)
      UNION ALL
      SELECT 'l_discount', m.metric, m.value
      FROM wide, LATERAL (VALUES ('row_count', n), ('completeness', comp1), ('n_distinct', nd1),
                                 ('min', min1), ('max', max1), ('mean', mean1)) m(metric, value)
    )
    ORDER BY col_name, metric
    """,
)
def data_quality_profile(spark, sf_dir):
    """One-pass numeric column profile (validation.profile, exact-distinct
    leg so the oracle matches; the 100 TB default is HLL approx to avoid
    the multi-distinct Expand)."""
    from kafka_connect_morphlines_spark.functions import validation as V

    li = t(spark, sf_dir, "lineitem")
    out = V.profile(li, ["l_quantity", "l_discount"], exact_distinct=True)
    return out.select(
        F.col("column").alias("col_name"), "metric", F.round("value", 4).alias("value")
    ).orderBy("col_name", "metric")


@query(
    "gopher_filter_verdicts",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','a','in','is','it','that','for','on','with','as','at','by','an','be','this','are','was'],
                       lower(x)))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS unique_token_ratio
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             1.0 - CAST(len(list_distinct([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))])) AS DOUBLE)
                   / (len(toks) - 1) AS dup_gram_frac
      FROM tok WHERE len(toks) >= 2
    ),
    j AS (
      SELECT q.*, coalesce(g.dup_gram_frac, 0.0) AS dup_gram_frac
      FROM q LEFT JOIN g USING (doc_id)
    )
    SELECT doc_id,
           reasons = '' AS passed,
           reasons
    FROM (
      SELECT doc_id,
             concat_ws(',',
               CASE WHEN n_tokens < 30 THEN 'too_short' END,
               CASE WHEN n_tokens > 50000 THEN 'too_long' END,
               CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END,
               CASE WHEN unique_token_ratio < 0.4 THEN 'low_diversity' END,
               CASE WHEN dup_gram_frac > 0.05 THEN 'repetitive' END) AS reasons
      FROM j
    )
    ORDER BY doc_id
    """,
)
def gopher_filter_verdicts(spark, sf_dir):
    """Gopher composite corpus filter (textclean.gopher_filter_df): four
    rule families, one verdict + audit trail per doc."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    return textclean.gopher_filter_df(docs).orderBy("doc_id")


_HLL_ROLLUP_SQL = f"""
    WITH parts AS (
      SELECT scope, {_HLL_REG} AS reg, {_HLL_RHO} AS rho
      FROM (SELECT o_orderpriority AS scope, md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders)
    ),
    regs AS (SELECT scope, reg, max(rho) AS rho FROM parts GROUP BY scope, reg),
    allregs AS (
      SELECT scope, reg, rho FROM regs
      UNION ALL
      SELECT 'merged' AS scope, reg, max(rho) AS rho FROM regs GROUP BY reg
    ),
    agg AS (SELECT scope, count(*) AS np, {_HLL_SP} AS sp FROM allregs GROUP BY scope)
    SELECT scope, round({_hll_est_sql()}, 2) AS estimate FROM agg ORDER BY scope
"""


@query("hll_sketch_rollup", _HLL_ROLLUP_SQL)
def hll_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: distinct customers per order-priority as
    portable HLL register sketches (sketches.hll_build — md5-derived, so
    the DuckDB oracle rebuilds sketch AND estimate exactly), merged by
    register max to the corpus-wide estimate WITHOUT rescanning — the
    100 TB pattern for daily→monthly distinct-count rollups.  Promoted
    from rows-only in r07: the engine-specific DataSketches binary sketch
    (F.hll_sketch_agg, kept in sketches.hll_overlap for interop) is
    replaced by the engine-portable register-table HLL."""
    from kafka_connect_morphlines_spark.functions import sketches

    orders = t(spark, sf_dir, "orders")
    per = sketches.hll_build(orders, F.col("o_custkey"), ["o_orderpriority"])
    per = per.localCheckpoint()  # feeds per-scope estimates + the merge
    per_est = sketches.hll_estimate(per, ["o_orderpriority"]).select(
        F.col("o_orderpriority").alias("scope"), F.round("estimate", 2).alias("estimate")
    )
    merged_regs = per.groupBy("reg").agg(F.max("rho").alias("rho"))
    merged = sketches.hll_estimate(merged_regs).select(
        F.lit("merged").alias("scope"), F.round("estimate", 2).alias("estimate")
    )
    return per_est.unionByName(merged).orderBy("scope")


@query(
    "kmv_distinct_users",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS pos
      FROM h
    ),
    sk AS (
      SELECT event_type, count(*) AS n, max(hv) AS hk
      FROM r WHERE pos <= 64 GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, exact_distinct,
           CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 3)
           END AS kmv_distinct
    FROM ex e JOIN sk s ON e.event_type = s.event_type
    ORDER BY e.event_type
    """,
)
def kmv_distinct_users(spark, sf_dir):
    """KMV (bottom-k) distinct sketch (sketches.kmv_build/kmv_estimate):
    distinct users per event type via the k smallest md5-60bit hashes,
    next to the exact count for audit.  Third mergeable-sketch family
    member (CMS frequency / HLL registers / KMV order statistics) — KMV's
    edge is LOSSLESS sketch union (bottom-k of a union is computable
    exactly from the parts; pinned in pytest).  Scale shape: an Arrow
    per-batch bottom-k pre-reduction bounds the shuffle at groups x k x
    n_batches rows (provably lossless — a value outside its batch's
    bottom-k cannot be in the global bottom-k), so the estimator never
    shuffles one row per distinct key the way exact countDistinct must."""
    from kafka_connect_morphlines_spark.functions import sketches

    ev = t(spark, sf_dir, "events")
    sk = sketches.kmv_build(
        ev, F.col("user_id").cast("string"), k=64, group_cols=["event_type"]
    )
    est = sketches.kmv_estimate(sk, k=64, group_cols=["event_type"], out_col="kmv_distinct")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "exact_distinct", "kmv_distinct")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Time-series regularization (functions/timeseries.py)
# --------------------------------------------------------------------------


@query(
    "resample_ffill_hourly",
    """
    WITH b AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS bucket, ts, value
      FROM events
    ),
    per_bucket AS (
      SELECT k, bucket, arg_max(value, ts) AS obs, count(*) AS n_obs
      FROM b GROUP BY k, bucket
    ),
    span AS (SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY k),
    grid AS (
      SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span
    ),
    j AS (
      SELECT g.k, g.bucket, p.obs, coalesce(p.n_obs, 0) AS n_obs
      FROM grid g LEFT JOIN per_bucket p ON g.k = p.k AND g.bucket = p.bucket
    )
    SELECT k AS event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           round(last_value(obs IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
           n_obs
    FROM j
    ORDER BY event_type, bucket
    """,
)
def resample_ffill_hourly(spark, sf_dir):
    """Per-key hourly grid + forward fill (timeseries.resample_ffill): gaps
    materialize as n_obs=0 rows carrying the last seen value."""
    from kafka_connect_morphlines_spark.functions import timeseries

    ev = t(spark, sf_dir, "events")
    out = timeseries.resample_ffill(ev, unit="hour")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.round("value", 4).alias("value"),
        "n_obs",
    ).orderBy("event_type", "bucket")


@query(
    "rolling_event_stats",
    """
    SELECT event_id,
           CAST(round(sum(CAST(value AS DECIMAL(23,6))) OVER w, 4) AS DOUBLE) AS roll_sum,
           round(min(value) OVER w, 4) AS roll_min,
           round(max(value) OVER w, 4) AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def rolling_event_stats(spark, sf_dir):
    """Trailing 24-observation moving stats per key
    (timeseries.rolling_stats) — one shuffle by key, row-frame window."""
    from kafka_connect_morphlines_spark.functions import timeseries

    ev = t(spark, sf_dir, "events")
    out = timeseries.rolling_stats(ev.select("event_id", "ts", "event_type", "value"), window_rows=24)
    # certify the decimal-exact rolling SUM (the money_sum pattern; the
    # double mean is 1-ulp sensitive to engine rounding and is pinned by
    # pytest instead)
    return out.select(
        "event_id",
        F.round(F.col("roll_sum_dec"), 4).cast("double").alias("roll_sum"),
        F.round("roll_min", 4).alias("roll_min"),
        F.round("roll_max", 4).alias("roll_max"),
    ).orderBy("event_id")


_PQ_CB_SQL = """
    seeds AS (
      SELECT embedding, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    cb AS (
      SELECT c, CAST((j - 1) // 8 AS INT) AS s, CAST((j - 1) % 8 AS INT) AS jj,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS cv
      FROM seeds, range(1, 65) t(j)
    ),
    xq AS (
      SELECT vec_id, CAST((j - 1) // 8 AS INT) AS s, CAST((j - 1) % 8 AS INT) AS jj,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS xv
      FROM embeddings, range(1, 65) t(j)
    ),
    d2 AS (
      SELECT x.vec_id, x.s, cb.c, sum((x.xv - cb.cv) * (x.xv - cb.cv)) AS d
      FROM xq x JOIN cb ON cb.s = x.s AND cb.jj = x.jj
      GROUP BY x.vec_id, x.s, cb.c
    ),
    best AS (
      SELECT vec_id, s, c FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) = 1
    )"""


@query(
    "pq_encode_codes",
    f"""
    WITH {_PQ_CB_SQL}
    SELECT vec_id, string_agg(CAST(c AS VARCHAR), '-' ORDER BY s) AS codes_str
    FROM best GROUP BY vec_id ORDER BY vec_id
    """,
)
def pq_encode_codes(spark, sf_dir):
    """Product-quantization encode (functions/pq.py): 64-dim vectors -> 8
    codebook ids (32x compression).  Promoted from rows-only in r07 via
    the engine-portable variant: md5-order sample codebooks + fixed-point
    (floor(x*1024+0.5)) arithmetic make every argmin an exact integer
    comparison the oracle replays (the Lloyd-fit pq_fit stays the
    production refinement path, pytest-pinned)."""
    from kafka_connect_morphlines_spark.functions import pq

    emb = t(spark, sf_dir, "embeddings")
    books = pq.pq_fit_sample(emb, m_subspaces=8, k_codes=16)
    out = pq.pq_encode_int(emb, books)
    return out.select(
        "vec_id", F.array_join(F.col("codes"), "-").alias("codes_str")
    ).orderBy("vec_id")


@query(
    "pq_topk_adc",
    f"""
    WITH {_PQ_CB_SQL},
    qv AS (
      SELECT CAST((j - 1) // 8 AS INT) AS s, CAST((j - 1) % 8 AS INT) AS jj,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
      FROM embeddings, range(1, 65) t(j) WHERE vec_id = 0
    ),
    lut AS (
      SELECT cb.s, cb.c, sum(cb.cv * qv.qv) AS dot
      FROM cb JOIN qv ON qv.s = cb.s AND qv.jj = cb.jj
      GROUP BY cb.s, cb.c
    ),
    scored AS (
      SELECT b.vec_id, CAST(sum(l.dot) AS DOUBLE) / 1048576.0 AS score
      FROM best b JOIN lut l ON l.s = b.s AND l.c = b.c
      WHERE b.vec_id != 0
      GROUP BY b.vec_id
    )
    SELECT vec_id, round(score, 4) AS score FROM (
      SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM scored
    ) WHERE rn <= 10
    """,
)
def pq_topk_adc(spark, sf_dir):
    """ADC top-k over PQ codes (functions/pq.py): the query builds an m x k
    lookup table; scoring is a map-only LUT-gather scan + TakeOrdered —
    the original vectors are never read at query time.  Promoted from
    rows-only in r07: fixed-point LUT entries make the gathered score an
    exact integer sum (descaled by the power-of-two 1024², exact in
    doubles), so the oracle reproduces scores AND ranking bit-for-bit."""
    from kafka_connect_morphlines_spark.functions import pq

    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    books = pq.pq_fit_sample(emb, m_subspaces=8, k_codes=16)
    codes = pq.pq_encode_int(emb.filter(F.col("vec_id") != 0), books)
    out = pq.pq_topk_int(codes, books, qvec, k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


# --------------------------------------------------------------------------
# Text retrieval (functions/retrieval.py): the Spark-native stand-in for the
# reference's Solr hand-off (loadSolr, config/cloudsolr.conf:74-78) —
# inverted-index statistics and BM25 ranked search over the corpus itself.
# --------------------------------------------------------------------------


@query(
    "inverted_index_stats",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS term
      FROM documents
    ), tp AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
    )
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ctf,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM tp GROUP BY term
    """,
)
def inverted_index_stats(spark, sf_dir):
    """Index build, stats face: per-term document frequency, collection
    frequency, posting bounds (retrieval.index_stats).  All algebraic
    aggregates — map-side combine, vocabulary-sized result, no posting list
    ever materialized (the unbounded-stopword hazard at corpus scale)."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, retrieval

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return retrieval.index_stats(docs)


@query(
    "bm25_topk_search",
    """
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x->x!='') AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    hits AS (SELECT doc_id, term FROM tok WHERE term IN ('spark','vector','window')),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    per AS (
      SELECT tf.doc_id,
             CAST(round( ln(1.0 + (s.n_docs - dfreq.df + 0.5)/(dfreq.df + 0.5))
                   * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6)
                  AS DECIMAL(18,6)) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(round(sum(s), 4) AS DOUBLE) AS score, count(*) AS n_terms_matched
    FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def bm25_topk_search(spark, sf_dir):
    """BM25 ranked retrieval, top-10 for a 3-term query
    (retrieval.bm25_topk).  The exploded token stream is filtered against
    the literal query terms before any shuffle; per-term scores are rounded
    and summed as DECIMAL so the ranking is aggregation-order independent.
    Deterministic total order: (score desc, doc_id)."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, retrieval

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return retrieval.bm25_topk(docs, ["spark", "vector", "window"], k=10)


@query(
    "bigram_logprob",
    """
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x->x!='') AS toks FROM documents),
    uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w),
    voc AS (SELECT count(*) AS v FROM uni),
    pairs AS (
      SELECT doc_id, z[1] AS w1, z[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
            FROM d WHERE len(toks) >= 2)
    ),
    big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
    lp AS (SELECT p.doc_id, ln((b.c2 + 1.0)/(u.c1 + 1.0*v.v)) AS lp
           FROM pairs p JOIN big b USING (w1, w2) JOIN uni u ON u.w = p.w1 CROSS JOIN voc v),
    agg AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS logprob FROM lp GROUP BY doc_id)
    SELECT dd.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams, coalesce(agg.logprob, 0.0) AS logprob
    FROM documents dd LEFT JOIN agg ON dd.doc_id = agg.doc_id
    """,
)
def bigram_logprob(spark, sf_dir):
    """Per-doc average conditional bigram log-probability under the corpus's
    own add-one-smoothed bigram LM (textstats.bigram_logprob_df) — the
    word-order-sensitive rung of the perplexity-filter ladder.  Codegen
    index-explode for the pairs, two count shuffles with map-side combine,
    text never shuffles."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textstats

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.bigram_logprob_df(docs)


# --------------------------------------------------------------------------
# Temporal tables (functions/temporal.py): SCD2 version building and
# point-in-time joins — the time-aware form of the reference's side-data
# enrichment (EnrichJsonBuilder.java:191-200 consults *current* state only).
# --------------------------------------------------------------------------


@query(
    "scd2_order_versions",
    """
    WITH chg AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    )
    SELECT o_custkey, valid_from, lead(valid_from) OVER w AS valid_to,
           row_number() OVER w AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current,
           n_orders, spend
    FROM chg WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
    """,
)
def scd2_order_versions(spark, sf_dir):
    """SCD2 dimension build from an append-only change stream
    (temporal.scd2_versions): per-customer daily order state becomes
    versioned rows with valid_from/valid_to/version/is_current.  One
    key-partitioned window — a single shuffle on the key, no self-join."""
    from kafka_connect_morphlines_spark.functions import temporal

    orders = t(spark, sf_dir, "orders")
    chg = orders.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("chg_date")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("spend"),
    )
    out = temporal.scd2_versions(chg, "o_custkey", "chg_date", ["n_orders", "spend"])
    return out


@query(
    "pit_join_ship_state",
    """
    WITH chg AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    ),
    v AS (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY valid_from) AS version FROM chg),
    f AS (SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, CAST(l.l_shipdate AS DATE) AS ship
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, v.version, v.spend
    FROM f ASOF JOIN v ON f.o_custkey = v.o_custkey AND f.ship >= v.valid_from
    """,
)
def pit_join_ship_state(spark, sf_dir):
    """Point-in-time join (temporal.point_in_time_join): each lineitem picks
    the customer's order-state version valid at ship time.  Union+window
    as-of form — one shuffle on the key, no fact-x-version range-join
    explosion.  Inner semantics (facts shipping before any version drop),
    matching DuckDB ASOF JOIN."""
    from kafka_connect_morphlines_spark.functions import temporal

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    chg = orders.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("chg_date")
    ).agg(money_sum(F.col("o_totalprice")).alias("spend"))
    versions = temporal.scd2_versions(chg, "o_custkey", "chg_date", ["spend"]).select(
        "o_custkey", "valid_from", "version", "spend"
    )
    facts = li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey", "l_linenumber", "o_custkey", F.to_date("l_shipdate").alias("ship")
    )
    out = temporal.point_in_time_join(
        facts, versions, key="o_custkey", fact_ts="ship", value_cols=["version", "spend"]
    )
    return out.filter(F.col("version_asof").isNotNull()).select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        F.col("version_asof").alias("version"),
        F.col("spend_asof").alias("spend"),
    )


# --------------------------------------------------------------------------
# Behavioral analytics (functions/funnel.py): cross-event sequencing the
# record-at-a-time reference cannot express — ordered funnels and cohort
# retention over the Kafka-envelope event stream.
# --------------------------------------------------------------------------


@query(
    "funnel_conversion",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type='signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id=s1.user_id
           WHERE e.event_type='click' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id=s2.user_id
           WHERE e.event_type='purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
    SELECT s1.user_id, CAST(epoch_ms(s1.t1) AS BIGINT) AS t_signup,
           CAST(epoch_ms(s2.t2) AS BIGINT) AS t_click,
           CAST(epoch_ms(s3.t3) AS BIGINT) AS t_purchase
    FROM s1 LEFT JOIN s2 ON s1.user_id=s2.user_id LEFT JOIN s3 ON s1.user_id=s3.user_id
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered funnel signup -> click -> purchase (funnel.funnel_steps):
    per-user earliest completion time of each step after the previous one.
    N-1 user-keyed joins over monotonically shrinking (user, ts) frames —
    event payloads never shuffle; later joins AQE-broadcast."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    steps = ["signup", "click", "purchase"]
    out = funnel.funnel_steps(ev, steps)
    return out.select(
        "user_id",
        *[F.unix_millis(F.col(f"t_{s}")).alias(f"t_{s}") for s in steps],
    )


@query(
    "cohort_retention_weekly",
    """
    WITH cohort AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                    FROM events WHERE event_type='signup' GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
    j AS (SELECT c.cohort_week, CAST(date_diff('day', c.cohort_week, a.week)/7 AS INT) AS week_offset
          FROM act a JOIN cohort c ON a.user_id=c.user_id
          WHERE date_diff('day', c.cohort_week, a.week) >= 0)
    SELECT cohort_week, week_offset, count(*) AS n_active FROM j GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark, sf_dir):
    """Weekly cohort retention (funnel.cohort_retention): signup-week
    cohorts x active-week offsets.  One distinct-(user, week) aggregate +
    one user-keyed join; the result is cohorts-x-offsets-sized regardless
    of event volume."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    return funnel.cohort_retention(ev, "signup")


@query(
    "cms_heavy_hitters",
    """
    WITH d AS (SELECT i FROM (VALUES (0),(1),(2),(3)) t(i)),
    ex AS (SELECT i, CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)), 1+6*i, 6)) AS BIGINT)%1024 AS bucket
           FROM events CROSS JOIN d),
    sk AS (SELECT i, bucket, count(*) AS cnt FROM ex GROUP BY i, bucket),
    cand AS (SELECT DISTINCT user_id FROM events),
    ke AS (SELECT user_id, i, CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)), 1+6*i, 6)) AS BIGINT)%1024 AS bucket
           FROM cand CROSS JOIN d),
    est AS (SELECT ke.user_id AS key, min(coalesce(sk.cnt,0)) AS est_count
            FROM ke LEFT JOIN sk USING (i, bucket) GROUP BY ke.user_id)
    SELECT key, CAST(est_count AS BIGINT) AS est_count FROM est
    ORDER BY est_count DESC, key LIMIT 10
    """,
)
def cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (functions/sketches.py): depth-4 x
    width-1024 mergeable frequency sketch; all depth buckets come from
    disjoint 24-bit slices of ONE md5 digest (the oracle builds the
    identical sketch).  Sketch state is bounded by depth x width regardless
    of key cardinality; estimation joins a broadcastable 4096-row table."""
    from kafka_connect_morphlines_spark.functions import sketches

    ev = t(spark, sf_dir, "events")
    return sketches.cms_heavy_hitters(ev, F.col("user_id"), k=10, depth=4, width=1024)


@query(
    "k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment, count(*) AS n,
           count(DISTINCT CAST(floor(c_acctbal/2000) AS BIGINT)*2000) AS n_sensitive,
           count(*) < 8 AS k_violation,
           count(DISTINCT CAST(floor(c_acctbal/2000) AS BIGINT)*2000) < 3 AS l_violation
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def k_anonymity_audit(spark, sf_dir):
    """Privacy release gate (functions/privacy.py): k-anonymity (class size
    >= k) and l-diversity (distinct sensitive values >= l) over the
    (nation, segment) quasi-identifier with bucketed account balance as the
    sensitive attribute.  One groupBy with map-side combine; the audit
    table is equivalence-class-sized, not row-sized."""
    from kafka_connect_morphlines_spark.functions import privacy

    cust = t(spark, sf_dir, "customer").withColumn(
        "bal_bucket", privacy.generalize_bucket(F.col("c_acctbal"), 2000)
    )
    return privacy.anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], k=8, sensitive_col="bal_bucket", l=3
    )


@query(
    "temperature_mixture_rates",
    """
    WITH c AS (SELECT source, CAST(sum(len(list_filter(string_split(trim(text),' '), x->x!=''))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
    z AS (SELECT sum(pow(n_tokens, 0.7)) AS z FROM c)
    SELECT source, n_tokens, round(pow(n_tokens,0.7)/z.z, 6) AS p,
           round(least(1.0, 10000 * (pow(n_tokens,0.7)/z.z) / n_tokens), 6) AS rate
    FROM c CROSS JOIN z
    """,
)
def temperature_mixture_rates(spark, sf_dir):
    """Temperature-based source mixture (traindata.temperature_rates):
    p_s = n_s^0.7 / sum n^0.7 over per-source token counts — the
    UniMax-style small-source upweighting — plus the per-source keep rate
    realizing a 10k-token budget.  One source-keyed groupBy; the rate table
    is source-count-sized and feeds mixture_sample."""
    from kafka_connect_morphlines_spark.functions import traindata

    return traindata.temperature_rates(t(spark, sf_dir, "documents"), alpha=0.7, token_budget=10_000)


@query(
    "cross_dedup_benchmark",
    """
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x->x!='') AS toks FROM documents),
    sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks)-1), i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])
               ELSE [array_to_string(toks, ' ')] END) AS s
           FROM d),
    bench AS (SELECT * FROM sh WHERE doc_id < 20),
    pairs AS (SELECT c.doc_id, b.doc_id AS ref_id,
       CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
         / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) AS jacc
       FROM sh c CROSS JOIN bench b)
    SELECT doc_id, ref_id, round(jacc, 6) AS jacc FROM pairs WHERE jacc >= 0.8
    """,
)
def cross_dedup_benchmark(spark, sf_dir):
    """Two-table near-dup join (dedup.minhash_cross_dupes): corpus docs
    near-duplicating any of the 20 'benchmark' docs — whole-document
    eval-set decontamination.  Benchmark banded frame broadcasts; the
    corpus never self-joins; shingle-set verification is candidate-bounded.
    The oracle is the EXACT all-pairs Jaccard (admissible because every
    >=0.8 pair in this corpus sits far above the LSH recall knee; the
    banded probe provably recalls jacc=1 self-matches)."""
    from kafka_connect_morphlines_spark.functions import dedup

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    out = dedup.minhash_cross_dupes(docs, bench, threshold=0.8)
    return out.select("doc_id", "ref_id", F.round("jacc", 6).alias("jacc"))


# --------------------------------------------------------------------------
# DDSketch quantile rollup (functions/sketches.py dd_*)
# --------------------------------------------------------------------------

import math as _math

_DD_ALPHA = 0.01
_DD_GAMMA = (1.0 + _DD_ALPHA) / (1.0 - _DD_ALPHA)
_DD_LOG_GAMMA = _math.log(_DD_GAMMA)


def _dd_oracle_sql() -> str:
    """The oracle builds the IDENTICAL sketch: gamma / ln(gamma) are inlined
    from the same Python doubles on both sides, so only per-row ln(v) /
    exp(b*ln_gamma) touch each engine's libm (a bucket flips only if a
    value sits within one ulp of a bucket boundary)."""
    lg = repr(_DD_LOG_GAMMA)
    gp1 = repr(_DD_GAMMA + 1.0)

    def est(q: str) -> str:
        return (
            "round(2.0 * exp(CAST(min(CASE WHEN cum >= greatest(ceil({q}*total), 1) "
            "THEN bucket END) AS DOUBLE) * {lg}) / {gp1}, 4)"
        ).format(q=q, lg=lg, gp1=gp1)

    return f"""
    WITH b AS (
      SELECT event_type,
             CAST(ceil(ln(greatest(CAST(value AS DOUBLE), 1e-9)) / {lg}) AS BIGINT) AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    sk AS (
      SELECT event_type AS scope, bucket, count(*) AS cnt FROM b GROUP BY 1, 2
      UNION ALL
      SELECT 'merged' AS scope, bucket, count(*) AS cnt FROM b GROUP BY 2
    ),
    cum AS (
      SELECT scope, bucket,
             sum(cnt) OVER (PARTITION BY scope ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY scope) AS total
      FROM sk
    )
    SELECT scope,
           {est('0.5')} AS p50,
           {est('0.95')} AS p95,
           {est('0.99')} AS p99
    FROM cum GROUP BY scope ORDER BY scope
    """


@query("ddsketch_value_quantiles", _dd_oracle_sql())
def ddsketch_value_quantiles(spark, sf_dir):
    """DDSketch quantile rollup (sketches.dd_sketch/dd_merge/dd_quantiles):
    p50/p95/p99 of event value per event_type as mergeable log-bucket
    sketches, PLUS the corpus-wide quantiles obtained by merging the per-key
    sketches WITHOUT rescanning raw events — the quantile analogue of the
    HLL rollup (hll_sketch_rollup), with relative-error guarantee alpha=1%.
    100 TB shape: build is one map-side-combinable groupBy bounded by
    keys x occupied-buckets; merge is union+sum over sketch rows only."""
    from kafka_connect_morphlines_spark.functions import sketches

    ev = t(spark, sf_dir, "events")
    sk = sketches.dd_sketch(ev, F.col("value"), keys=[F.col("event_type")], alpha=_DD_ALPHA)
    sk = sk.localCheckpoint()  # feeds both the per-key walk and the merge
    per = sketches.dd_quantiles(sk, [0.5, 0.95, 0.99], _DD_ALPHA, ["event_type"]).select(
        F.col("event_type").alias("scope"), "p50", "p95", "p99"
    )
    merged_sk = sketches.dd_merge(sk.drop("event_type"))
    merged = sketches.dd_quantiles(merged_sk, [0.5, 0.95, 0.99], _DD_ALPHA).select(
        F.lit("merged").alias("scope"), "p50", "p95", "p99"
    )
    return per.unionByName(merged).orderBy("scope")


@query(
    "weighted_sample_docs",
    """
    WITH s AS (
      SELECT doc_id, lang, source, n_chars,
             -ln((CAST('0x' || substr(md5('wsamp/' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
                 / 1152921504606846976.0)
               / greatest(CAST(n_chars AS DOUBLE), 1e-9) AS es
      FROM documents
    )
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT * FROM s ORDER BY es, doc_id LIMIT 200)
    ORDER BY doc_id
    """,
)
def weighted_sample_docs(spark, sf_dir):
    """Weighted sampling without replacement (traindata.weighted_sample,
    Efraimidis-Spirakis A-ES): 200 docs drawn with probability proportional
    to n_chars — the length/quality-weighted subsample step of corpus
    mixing.  Map-only key + TakeOrderedAndProject; no shuffle."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return traindata.weighted_sample(docs, F.col("n_chars"), 200).orderBy("doc_id")


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled PageRank: one CTE per iteration mirrors the engine's
    deterministic-arithmetic contract (decimal(38,18) contribution sums,
    rank rounded to 12 dp per round) term for term."""
    head = """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT DISTINCT 1000000 + l_suppkey AS src, o_custkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT id, round(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes)"""
    step = """,
    s{i} AS (
      SELECT e.dst AS id,
             CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS csum
      FROM edges e
      JOIN r{p} r ON e.src = r.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.id,
             round(0.15 / (SELECT n FROM nn) + 0.85 * coalesce(s.csum, 0.0), 12) AS rank
      FROM nodes n LEFT JOIN s{i} s ON n.id = s.id
    )"""
    body = head + "".join(step.format(i=i, p=i - 1) for i in range(1, iters + 1))
    return body + f"""
    SELECT id, rank FROM r{iters} ORDER BY id
    """


@query("pagerank_trade_graph", _pagerank_oracle_sql())
def pagerank_trade_graph(spark, sf_dir):
    """PageRank (web.pagerank) over the symmetric customer<->supplier trade
    graph (who-buys-from-whom via orders x lineitem) — the link-graph
    quality-weighting signal of web-corpus prep, here hash-certified
    against a fully unrolled 3-iteration SQL oracle (possible because the
    operator pins per-round arithmetic: exact decimal contribution sums +
    12 dp rank rounding)."""
    from kafka_connect_morphlines_spark.functions import web

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # supplier ids are offset by 1,000,000 (below); the no-duplicates
    # argument for the union needs every customer id under that offset,
    # which TPC-H stops guaranteeing near SF 6.7 — fail loudly there
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.when(
                F.col("o_custkey") >= 1000000,
                F.raise_error(F.lit("pagerank_trade_graph: o_custkey >= 1000000 collides with supplier ids")),
            )
            .otherwise(F.col("o_custkey"))
            .alias("c"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    # r11 (guide §1.2, §2.4): pairs feeds BOTH union branches — without a
    # materialization each branch re-ran the orders x lineitem join +
    # distinct (job profile: three 104 MB lineitem scans per execution).
    # The outer .distinct() was a no-op costing a full extra shuffle:
    # pairs is already distinct and the two directions are disjoint by
    # construction (src < 1e6 <= dst in one branch, src >= 1e6 > dst in
    # the other — supplier ids are offset by 1,000,000), so the union
    # carries no duplicates.  Edge set identical; oracle unchanged.
    pairs = pairs.localCheckpoint()
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return web.pagerank(edges, iters=3).orderBy("id")


@query(
    "triangle_count_cosupply",
    """
    WITH und AS (
      SELECT a, b FROM (
        SELECT p.l_partkey AS a, q.l_partkey AS b, count(*) AS n
        FROM lineitem p JOIN lineitem q
          ON p.l_orderkey = q.l_orderkey AND p.l_partkey < q.l_partkey
        GROUP BY 1, 2
      ) WHERE n >= 2
    ),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
    ),
    rk AS (SELECT v, deg * 2147483648 + v AS rk FROM deg),
    e AS (
      SELECT CASE WHEN ra.rk < rb.rk THEN und.a ELSE und.b END AS u,
             CASE WHEN ra.rk < rb.rk THEN und.b ELSE und.a END AS w,
             CASE WHEN ra.rk < rb.rk THEN rb.rk ELSE ra.rk END AS rkw
      FROM und JOIN rk ra ON ra.v = und.a JOIN rk rb ON rb.v = und.b
    ),
    wed AS (
      SELECT x.w AS u, y.w AS w
      FROM e x JOIN e y ON x.u = y.u AND x.rkw < y.rkw
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM wed JOIN e ON wed.u = e.u AND wed.w = e.w
    ),
    cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
           FROM deg)
    SELECT n_nodes, n_edges, n_triangles,
           round(CAST(3 * n_triangles AS DOUBLE) / CAST(wedges AS DOUBLE), 6) AS gcc
    FROM nd, cnt, tri
    """,
)
def triangle_count_cosupply(spark, sf_dir):
    """Exact triangle count + global clustering coefficient
    (web.triangle_count) over the part co-purchase AFFINITY graph —
    parts that share an order MORE THAN ONCE (support >= 2, the standard
    market-basket noise cut) — the non-bipartite companion to
    pagerank_trade_graph's link analysis.  The support threshold is also
    the scale lever: the raw co-occurrence graph has 41M wedges at
    sf0.1, the support-2 graph ~3.9k edges — thresholding BEFORE the
    wedge join is how co-occurrence triangle counting stays tractable on
    any corpus.  Degree-ordered orientation bounds every vertex's wedge
    fan-out at ~sqrt(2m); each triangle counted exactly once at its
    lowest-rank vertex."""
    from kafka_connect_morphlines_spark.functions import web

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # co-occurrence pairs WITHOUT a fact-table self-join: ONE shuffle of
    # lineitem into per-order sorted part lists (bounded by order size),
    # then codegen double index-explode generates each i<j combination
    # map-side — exactly the lineitem-pair multiset the oracle's
    # self-join counts, at half the shuffled volume
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    base = per_order.select(
        "ps", F.explode(F.sequence(F.lit(1), F.size("ps") - 1)).alias("i")
    )
    pairs = base.select(
        "ps", "i", F.explode(F.sequence(F.col("i") + 1, F.size("ps"))).alias("j")
    ).select(
        F.element_at(F.col("ps"), F.col("i")).alias("src"),
        F.element_at(F.col("ps"), F.col("j")).alias("dst"),
    ).filter(F.col("src") < F.col("dst"))
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return web.triangle_count(edges)


@query(
    "tokenizer_fertility_by_lang",
    r"""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS words,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks,
             octet_length(encode(text)) AS bytes
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(toks) AS BIGINT) AS tokens,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           round(CAST(sum(toks) AS DOUBLE) / CAST(sum(words) AS DOUBLE), 6) AS fertility,
           round(CAST(sum(bytes) AS DOUBLE) / CAST(sum(toks) AS DOUBLE), 6) AS bytes_per_token
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility audit: tokens-per-word and bytes-per-token per
    language under the BPE-ish pre-tokenizer (textstats.bpe_ish_tokens) —
    the standard multilingual-tokenizer-cost table (fertility >> 1 means
    a language pays more sequence length per word; zh pays bytes per
    token).  Map-only scan + one groupBy(lang) with exact integer sums;
    ratios via the _ratio6 idiom.  On this synthetic corpus the text is
    punctuation-free and space-separated, so fertility degenerates to
    1.0 and the discriminating signal is bytes_per_token (zh multibyte
    vs latin) — the oracle still certifies the full computation."""
    docs = t(spark, sf_dir, "documents")
    agg = (
        docs.select(
            "lang",
            F.size(textstats.tokens(F.col("text"))).alias("w"),
            F.size(textstats.bpe_ish_tokens(F.col("text"))).alias("tk"),
            F.octet_length("text").alias("by"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("w").alias("words"),
            F.sum("tk").alias("tokens"),
            F.sum("by").alias("bytes"),
        )
    )
    return agg.select(
        "lang",
        "docs",
        "words",
        "tokens",
        "bytes",
        F.round(F.try_divide(F.col("tokens").cast("double"), F.col("words").cast("double")), 6).alias("fertility"),
        F.round(F.try_divide(F.col("bytes").cast("double"), F.col("tokens").cast("double")), 6).alias("bytes_per_token"),
    ).orderBy("lang")


@query(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             sum(CAST(o_totalprice AS DECIMAL(23,6))) AS rev
      FROM orders GROUP BY 1
    ),
    lags AS (SELECT CAST(v AS INT) AS lag FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(v)),
    j AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM lags l
      JOIN daily a ON true
      JOIN daily b ON b.d = a.d + to_days(l.lag)
    ),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM j GROUP BY lag
    )
    SELECT lag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS acf
    FROM s ORDER BY lag
    """,
)
def acf_daily_revenue(spark, sf_dir):
    """Autocorrelation function of daily order revenue at lags 1-7 — the
    seasonality probe of the timeseries family (weekly periodicity shows
    as a lag-7 peak).  Exactness: daily revenue and all Pearson moments
    accumulate as DECIMAL (order-invariant), so both engines feed
    IDENTICAL numbers into the closed-form n*Sxy - Sx*Sy correlation;
    the only float ops are two correctly-rounded casts, two IEEE sqrts
    and one divide — deterministic on both engines.  Shuffle shape: one
    groupBy(day) reduction, then a 7-way broadcast lag self-join over
    the ~day-count-sized series."""
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(23,6)")).alias("rev")
    )
    daily = daily.localCheckpoint()  # tiny series reused on both join sides
    lags = spark.createDataFrame([(i,) for i in range(1, 8)], "lag int")
    a, b = daily.alias("a"), daily.alias("b")
    j = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(
            b,
            F.col("b.d") == F.col("a.d") + F.make_dt_interval(days=F.col("lag")),
        )
        .select("lag", F.col("a.rev").alias("x"), F.col("b.rev").alias("y"))
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select("lag", "n", F.round(num / den, 6).alias("acf")).orderBy("lag")


@query(
    "anova_value_by_type",
    """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(23,6))) AS s,
             sum(CAST(value AS DECIMAL(23,6)) * CAST(value AS DECIMAL(23,6))) AS s2
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
             sum(s) AS st, sum(s2) AS s2t,
             sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                      AS DECIMAL(38,6))) AS ssb_term
      FROM g
    )
    SELECT nt AS n_rows, k AS n_groups,
           round(CAST(ssb_term AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 4) AS ss_between,
           round(CAST(s2t AS DOUBLE) - CAST(ssb_term AS DOUBLE), 4) AS ss_within,
           round(((CAST(ssb_term AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) / (k - 1))
                 / ((CAST(s2t AS DOUBLE) - CAST(ssb_term AS DOUBLE)) / (nt - k)), 6) AS f_stat
    FROM tot
    """,
)
def anova_value_by_type(spark, sf_dir):
    """One-way ANOVA F statistic across event types — the k-group
    companion to ab_test_event_values' two-sample test.  All moments
    accumulate as exact DECIMALs (Σx, Σx², per-group (Σx)²/n), so both
    engines feed identical numbers into the SSB/SSW closed form; only
    the final F division chain is float, mirrored op-for-op.  One
    map-side-combined groupBy; everything after runs on k rows.

    Division parity (r09 fix): the per-group (Σx)²/n term is computed as
    a DOUBLE chain (cast s → double, square, divide by n, round 6dp) —
    each IEEE op is bit-identical across engines given identical exact
    DECIMAL inputs (the proven _ratio6 idiom) — then quantized onto the
    6dp grid and summed as exact DECIMAL(38,6), so the cross-group sum is
    order-independent.  DECIMAL/BIGINT division is deliberately NOT used:
    DuckDB resolves it to DOUBLE (full-precision quotient) while Spark
    keeps scale-6 DECIMAL, so the two engines would feed different
    numbers into SSB/SSW — the exact drift class the repo's _ratio6 rule
    exists to prevent.  Double-exactness of the s→double cast holds while
    |Σx| < 2^53/10^6 ≈ 9e9 per group (beyond that, both engines still
    agree — parity is unconditional; only absolute accuracy degrades)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(23,6)")).alias("s"),
        F.sum(
            F.col("value").cast("decimal(23,6)") * F.col("value").cast("decimal(23,6)")
        ).alias("s2"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("st"),
        F.sum("s2").alias("s2t"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double"),
                6,
            ).cast("decimal(38,6)")
        ).alias("ssb_term"),
    )
    ssb = F.col("ssb_term").cast("double") - F.col("st").cast("double") * F.col("st").cast("double") / F.col("nt").cast("double")
    ssw = F.col("s2t").cast("double") - F.col("ssb_term").cast("double")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nt") - F.col("k")))
    return tot.select(
        F.col("nt").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
    )


@query(
    "weighted_median_price_by_flag",
    """
    WITH per_v AS (
      SELECT l_returnflag AS g, CAST(l_extendedprice AS DECIMAL(18,6)) AS v,
             sum(CAST(l_quantity AS DECIMAL(18,6))) AS wv
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, wv,
             coalesce(sum(wv) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      CAST(0 AS DECIMAL(38,6))) AS before,
             sum(wv) OVER (PARTITION BY g) AS wt
      FROM per_v
    ),
    med AS (
      SELECT g, wt, v AS median_price FROM cum
      WHERE 2 * (before + wv) >= wt AND 2 * before < wt
    ),
    p90 AS (
      SELECT g, v AS p90_price FROM cum
      WHERE 10 * (before + wv) >= 9 * wt AND 10 * before < 9 * wt
    )
    SELECT med.g AS grp, CAST(med.wt AS DOUBLE) AS w_total,
           CAST(med.median_price AS DOUBLE) AS median_price,
           CAST(p90.p90_price AS DOUBLE) AS p90_price
    FROM med JOIN p90 ON med.g = p90.g
    ORDER BY grp
    """,
)
def weighted_median_price_by_flag(spark, sf_dir):
    """Exact quantity-weighted median and p90 of extended price per
    return flag (orderstats.weighted_quantiles_by_group) — the exact
    weighted-order-statistic Spark's built-ins don't give you
    (approx_percentile is a sketch; percentile interpolates doubles and
    runs one partition per group).  r10 rework after the CORRECTNESS_r09
    hash mismatch: the distinct (flag, price) frame is bucketed by
    boundary LITERALS baked on the driver (bucket id = pure function of
    the value — no spark_partition_id, no checkpoint-freeze assumption),
    cumulated per (group, bucket), offsets prefix-summed on the driver;
    the crossing row is picked by exact DECIMAL-product comparisons — no
    division, no interpolation, no float contract anywhere, hence the
    direct SQL oracle.  Domain contract (ADVICE r09): the DECIMAL(18,6)
    value cast requires |l_extendedprice| < 1e12 — beyond that Spark's
    non-ANSI cast yields NULL while DuckDB raises; TPC-H prices are
    < 1e5 * quantity bound, far inside the contract.

    r11 output-boundary fix for the persistent driver hash mismatch
    (CORRECTNESS_r09 AND _r10 red, while two completely different
    implementations matched the oracle cell-exactly in every local run
    at every SF): this was the ONLY query in the 259-entry corpus whose
    output schema carried DECIMAL columns, so a Decimal-vs-float
    rendering difference between the driver harness's two fetch paths
    (e.g. duckdb->pandas converts DECIMAL to float64, '508966.0', while
    Spark collect yields Decimal('508966.000000')) fails its hash while
    rows/schema "match".  Both the Spark output and the oracle now cast
    the three numeric columns to DOUBLE at the final select: the decimal
    values are identical on both sides (verified cell-exactly at sf0.001
    / 0.01 / 0.1), so the doubles are bit-identical — the computation is
    unchanged, only the output boundary type.  All internal arithmetic
    (weight sums, cumulative crossings) stays exact DECIMAL; w_total is
    integer-valued (sum of quantities) and prices carry 2 decimals
    < 1e6, both exactly representable in double at any realistic SF."""
    from kafka_connect_morphlines_spark.functions import orderstats

    li = t(spark, sf_dir, "lineitem")
    wq = orderstats.weighted_quantiles_by_group(
        li,
        F.col("l_returnflag"),
        # (18,6) keeps the distinct-value groupBy/range keys long-backed
        F.col("l_extendedprice").cast("decimal(18,6)"),
        F.col("l_quantity"),
        {"median_price": (1, 2), "p90_price": (9, 10)},
    )
    return wq.select(
        "grp",
        F.col("w_total").cast("double").alias("w_total"),
        F.col("median_price").cast("double").alias("median_price"),
        F.col("p90_price").cast("double").alias("p90_price"),
    ).orderBy("grp")


@query(
    "price_decile_grid",
    """
    WITH per AS (
      SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM per),
    grid AS (
      SELECT i AS decile, (i * (SELECT n FROM tot) + 9) // 10 AS k
      FROM (SELECT unnest(range(1, 10)) AS i)
    )
    SELECT g.decile, min(c.v) AS value
    FROM grid g JOIN cum c ON c.cum >= g.k
    GROUP BY g.decile ORDER BY g.decile
    """,
)
def price_decile_grid(spark, sf_dir):
    """Exact GLOBAL decile grid (d10..d90) of extended price — the
    threshold table a quality-score calibration or stratified-pricing
    pipeline pins once per corpus.  Spark has no exact distributed
    order-statistic for this: percentile() buffers a value->count map in
    ONE aggregation buffer, approx_percentile is a sketch, and a
    row_number window over the full frame is a single-partition sort.
    This is orderstats.global_rank_pick with the r10 PER-RANK interval
    narrowing: each of the 9 ranks converges to its own covering
    width_bucket geometrically (one scan per round for all ranks via a
    bounded composite key), so the plan carries no data-sized
    single-partition sort at any scale — the exact shape that broke the
    pre-fix span narrowing (quartile ranks left ~half the frame
    surviving).  ``with_ranks`` labels each picked row with the ranks it
    covers, so tie plateaus spanning several deciles stay correct.  The
    lower-quantile contract (smallest v with cum >= ceil(i*n/10)) is
    integer-exact — no division or interpolation — hence the direct SQL
    oracle."""
    from kafka_connect_morphlines_spark.functions import orderstats

    li = t(spark, sf_dir, "lineitem")
    per = (
        li.groupBy(F.col("l_extendedprice").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()  # read once per selection round + final picks
    )
    n = per.agg(F.sum("_c").cast("long").alias("n")).first()["n"] or 0
    ks = [((i * n) + 9) // 10 for i in range(1, 10)] if n else [1]
    picked = orderstats.global_rank_pick(per, "_v", "_c", ks, with_ranks="_ks")
    kmap = spark.createDataFrame(
        [(int(k), i) for i, k in enumerate(ks, 1)], "k long, decile long"
    )
    return (
        picked.select(F.explode("_ks").alias("k"), F.col("_v").alias("value"))
        .join(F.broadcast(kmap), "k")
        .select("decile", "value")
        .orderBy("decile")
    )


@query(
    "js_divergence_sources",
    """
    WITH tok AS (
      SELECT source AS s,
             unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS t
      FROM documents
    ),
    counts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY s, t),
    totals AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY s),
    cn AS (SELECT counts.s, t, c, n FROM counts JOIN totals USING (s)),
    shared AS (
      SELECT a.s AS source_a, b.s AS source_b,
             a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
      FROM cn a JOIN cn b ON a.t = b.t AND a.s < b.s
    ),
    per_pair AS (
      SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared,
             sum(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) / 2
                   * log2(2 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                          / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                             + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
                 + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) / 2
                   * log2(2 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                          / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                             + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))) AS terms,
             CAST(sum(ca) AS BIGINT) AS sca, max(na) AS mna,
             CAST(sum(cb) AS BIGINT) AS scb, max(nb) AS mnb
      FROM shared GROUP BY source_a, source_b
    ),
    allp AS (
      SELECT a.s AS source_a, b.s AS source_b
      FROM totals a JOIN totals b ON a.s < b.s
    )
    SELECT allp.source_a, allp.source_b,
           coalesce(n_shared, 0) AS n_shared,
           coalesce(round(terms
                          + (1 - CAST(sca AS DOUBLE) / CAST(mna AS DOUBLE)) / 2
                          + (1 - CAST(scb AS DOUBLE) / CAST(mnb AS DOUBLE)) / 2,
                          6),
                    1.0) AS jsd_bits
    FROM allp LEFT JOIN per_pair USING (source_a, source_b)
    ORDER BY source_a, source_b
    """,
)
def js_divergence_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source token
    distributions (textstats.js_divergence_matrix) — the training-mixture
    drift matrix.  Absent-token mass is folded in closed form
    ((1 - P_shared)/2 per side, from EXACT integer count sums divided
    once), so no full-outer join exists anywhere; only the shared-token
    log-term sum is floating, each term a deterministic double chain from
    exact integer counts (the word_entropy precedent), final 6dp round.
    One (source, token) groupBy + one token-keyed self-join; m sources is
    a config-sized constant."""
    docs = t(spark, sf_dir, "documents")
    return textstats.js_divergence_matrix(docs, F.col("text"), F.col("source"))


@query(
    "kruskal_wallis_values",
    """
    WITH pool AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r2 AS (
      SELECT v,
             2 * coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      FROM (SELECT v, count(*) AS c FROM pool GROUP BY v)
    ),
    per_g AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(r2 AS DECIMAL(38,0))) AS r2_g
      FROM pool JOIN r2 USING (v) GROUP BY g
    ),
    ties AS (
      SELECT coalesce(sum(CAST(tc AS DECIMAL(38,0)) * tc * tc - tc),
                      CAST(0 AS DECIMAL(38,0))) AS tie3
      FROM (SELECT count(*) AS tc FROM pool GROUP BY v)
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(CAST(round(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                            / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6))) AS srq
      FROM per_g
    )
    SELECT n AS n_rows, k AS n_groups,
           round(3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                   * CAST(srq AS DOUBLE)
                 - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat,
           round((3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                    * CAST(srq AS DOUBLE)
                  - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tie3 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             - CAST(n AS DOUBLE))), 6) AS h_tie_corrected
    FROM tot, ties
    """,
)
def kruskal_wallis_values(spark, sf_dir):
    """Kruskal-Wallis H across event types (evalmetrics.kruskal_wallis):
    the k-group RANK test completing the stats ladder — mann_whitney
    (2-group ranks) / anova_value_by_type (k-group means) / this (k-group
    ranks).  Pooled 2x-integer average ranks from the distributed _rank2,
    exact DECIMAL rank sums, tie-corrected; the per-group R2^2/n quotient
    uses the ANOVA r09 quantized-double idiom so both engines sum
    identical DECIMAL(38,6) terms.

    Domain contract (ADVICE r09): the long-backed DECIMAL(18,6) rank-key
    cast requires |value| < 1e12 — beyond that Spark's non-ANSI cast
    yields NULL (silently entering the rank pool as a NULL key) while
    DuckDB raises a cast-overflow error.  events.value is generated in
    [0, 1000); wider real-world domains must pre-scale or widen the cast
    on BOTH engines together."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # decimal(18,6): raw per-row values fit 18 digits, which keeps the
    # rank-map join/group keys LONG-BACKED — (23,6) BigDecimal keys
    # measured 26x slower at a 20M-row smoke (docs/SCALE.md r09)
    return evalmetrics.kruskal_wallis(
        ev, F.col("event_type"), F.col("value").cast("decimal(18,6)")
    )


@query(
    "brown_forsythe_values",
    """
    WITH pool AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
      FROM pool
    ),
    meds AS (
      SELECT g, CASE WHEN count(*) = 1 THEN sum(v) * 2 ELSE sum(v) END AS med2
      FROM ranked
      WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
         OR rn = CAST(floor((cnt + 2) / 2) AS BIGINT)
      GROUP BY g
    ),
    z AS (
      SELECT p.g, CAST(abs(p.v * 2 - m.med2) AS DECIMAL(18,6)) AS z2
      FROM pool p JOIN meds m ON m.g = p.g
    ),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(z2 AS DECIMAL(38,6))) AS s,
             sum(CAST(round(CAST(z2 AS DOUBLE) * CAST(z2 AS DOUBLE), 6)
                      AS DECIMAL(38,6))) AS s2
      FROM z GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
             sum(s) AS st, sum(s2) AS s2t,
             sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                      AS DECIMAL(38,6))) AS ssb_term
      FROM grp
    )
    SELECT nt AS n_rows, k AS n_groups,
           round(((CAST(ssb_term AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) / (k - 1))
                 / ((CAST(s2t AS DOUBLE) - CAST(ssb_term AS DOUBLE)) / (nt - k)), 6) AS w_stat
    FROM tot
    """,
)
def brown_forsythe_values(spark, sf_dir):
    """Brown-Forsythe variance-homogeneity test across event types
    (evalmetrics.brown_forsythe): the robust "are the spreads equal?"
    check ANOVA silently assumes.  AGGREGATE-FIRST (one corpus scan; the
    median ranks run over distinct values, docs/SCALE.md r09): group
    medians are EXACT rank-picked sums of the two middle DECIMALs
    (med2 = 2*median — no engine avg() scale rules anywhere),
    z2 = |2v - med2| is exact long-backed DECIMAL(18,6), its square is
    quantized onto the 6dp grid (the ANOVA idiom, mirrored op-for-op in
    the oracle) before the count-weighted sum, and the F chain reuses
    the quantized-division idiom; F is invariant to the uniform 2x scale
    so the statistic equals the textbook W.

    Domain contract (ADVICE r09): the long-backed DECIMAL(18,6) cast
    (and the 2v doubling behind z2) requires |value| < 1e12 / 2 —
    beyond that Spark's non-ANSI cast yields NULL while DuckDB raises.
    events.value is generated in [0, 1000); wider real-world domains
    must pre-scale or widen the cast on BOTH engines together."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # decimal(18,6): long-backed sort key for the median window (the
    # BigDecimal lesson, docs/SCALE.md r09)
    return evalmetrics.brown_forsythe(
        ev, F.col("event_type"), F.col("value").cast("decimal(18,6)")
    )


# Benford first-digit expectations as shared literals: log10(1+1/d)
# computed ONCE here in Python — neither engine ever calls its own log,
# so the chi-square arithmetic is identical doubles on both sides.
_BENFORD_P = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL_ROWS = ", ".join(f"({d}, {_BENFORD_P[d]!r})" for d in range(1, 10))


@query(
    "benford_first_digit_prices",
    f"""
    WITH exp AS (SELECT CAST(d AS INT) AS digit, CAST(p AS DOUBLE) AS p
                 FROM (VALUES {_BENFORD_SQL_ROWS}) t(d, p)),
    obs AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs)
    SELECT e.digit, coalesce(o.n, 0) AS observed,
           round(CAST(t.nt AS DOUBLE) * e.p, 3) AS expected,
           round((CAST(coalesce(o.n, 0) AS DOUBLE) - CAST(t.nt AS DOUBLE) * e.p)
                 * (CAST(coalesce(o.n, 0) AS DOUBLE) - CAST(t.nt AS DOUBLE) * e.p)
                 / (CAST(t.nt AS DOUBLE) * e.p), 6) AS chi2_term
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    ORDER BY e.digit
    """,
)
def benford_first_digit_prices(spark, sf_dir):
    """Benford's-law first-digit audit over order prices — the classic
    fabricated-numbers / data-quality screen.  The expected proportions
    log10(1+1/d) are embedded as shared LITERALS (computed once in
    Python), so neither engine evaluates its own log and every
    chi-square term is an identical double chain.  One map-side-combined
    groupBy over first digits.  The 9-row expectation table is the
    preserved side of the left join, so the per-digit counts broadcast."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    obs = (
        orders.select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = spark.createDataFrame(
        [(d, _BENFORD_P[d]) for d in range(1, 10)], "digit int, p double"
    )
    tot = obs.agg(F.sum("n").alias("nt"))
    j = exp.join(obs, "digit", "left").crossJoin(F.broadcast(tot))
    dev = F.coalesce(F.col("n"), F.lit(0)).cast("double") - F.col("nt").cast("double") * F.col("p")
    return j.select(
        "digit",
        F.coalesce(F.col("n"), F.lit(0)).alias("observed"),
        F.round(F.col("nt").cast("double") * F.col("p"), 3).alias("expected"),
        F.round(dev * dev / (F.col("nt").cast("double") * F.col("p")), 6).alias("chi2_term"),
    ).orderBy("digit")


@query(
    "trend_daily_revenue",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             sum(CAST(o_totalprice AS DECIMAL(23,6))) AS rev
      FROM orders GROUP BY 1
    ),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT coalesce(CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT), 0) AS tie3,
             coalesce(CAST(sum(tc * (tc - 1) // 2) AS BIGINT), 0) AS tie2
      FROM (SELECT count(*) AS tc FROM daily GROUP BY rev)
    ),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn,
             CAST(b.rev - a.rev AS DOUBLE) / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    sstat AS (SELECT CAST(sum(sgn) AS BIGINT) AS s FROM pairs),
    ranked AS (
      SELECT slope, row_number() OVER (ORDER BY slope) AS rn, count(*) OVER () AS np
      FROM pairs
    ),
    med AS (
      SELECT avg(slope) AS ts FROM ranked
      WHERE rn = CAST(floor((np + 1) / 2) AS BIGINT)
         OR rn = CAST(floor((np + 2) / 2) AS BIGINT)
    )
    SELECT n AS n_points, s AS s_stat,
           round(CAST(n * (n - 1) * (2 * n + 5) - tie3 AS DOUBLE) / 18.0, 6) AS var_s,
           round(CASE WHEN s > 0 THEN (s - 1) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie3 AS DOUBLE) / 18.0)
                      WHEN s < 0 THEN (s + 1) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie3 AS DOUBLE) / 18.0)
                      ELSE 0.0 END, 6) AS z,
           round(CAST(s AS DOUBLE)
                 / sqrt(CAST((n * (n - 1) // 2) - tie2 AS DOUBLE)
                        * CAST(n * (n - 1) // 2 AS DOUBLE)), 6) AS tau_b,
           round(ts, 6) AS theil_sen_slope
    FROM nrow, ties, sstat, med
    """,
)
def trend_daily_revenue(spark, sf_dir):
    """Mann-Kendall trend test + Theil-Sen slope on daily revenue
    (timeseries.mann_kendall_trend): the nonparametric is-this-KPI-
    drifting monitor, with exact-integer S statistic / tie correction
    (DECIMAL value comparisons) and the exact pairwise-slope median.
    The pair table is bounded by calendar days squared, never by input
    rows — the corpus-sized work is the one groupBy building the
    series."""
    from kafka_connect_morphlines_spark.functions import timeseries

    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(23,6)")).alias("rev")
    )
    return timeseries.mann_kendall_trend(daily, F.col("d"), F.col("rev"))


@query(
    "trend_daily_revenue_fast",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             sum(CAST(o_totalprice AS DECIMAL(23,6))) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.d AS i,
             CAST(b.rev - a.rev AS DOUBLE) / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b ON a.d <> b.d
    ),
    inner_ranked AS (
      SELECT i, slope,
             row_number() OVER (PARTITION BY i ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY i) AS cnt
      FROM pairs
    ),
    inner_med AS (
      SELECT i, avg(slope) AS med_i FROM inner_ranked
      WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
         OR rn = CAST(floor((cnt + 2) / 2) AS BIGINT)
      GROUP BY i
    ),
    outer_ranked AS (
      SELECT med_i, row_number() OVER (ORDER BY med_i) AS rn, count(*) OVER () AS cnt
      FROM inner_med
    )
    SELECT CAST(max(cnt) AS BIGINT) AS n_points,
           round(avg(med_i), 6) AS repeated_median_slope
    FROM outer_ranked
    WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
       OR rn = CAST(floor((cnt + 2) / 2) AS BIGINT)
    """,
)
def trend_daily_revenue_fast(spark, sf_dir):
    """Siegel repeated-median slope on daily revenue — the fast second
    mode VERDICT r08 #5 asked for (timeseries.siegel_repeated_median_slope).
    Same O(days^2) pair count as exact Theil-Sen but the expensive rank
    runs PARTITIONED BY the left point (max partition = n-1 slopes, all
    cores busy) instead of one global million-row sort; the outer median
    ranks only n values.  A different estimator by contract (higher 50%
    breakdown), not an approximation — exact rank-picked medians with the
    identical correctly-rounded double slope chain, hence the full SQL
    oracle.  The exact Theil-Sen mode stays certified as
    trend_daily_revenue."""
    from kafka_connect_morphlines_spark.functions import timeseries

    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(23,6)")).alias("rev")
    )
    return timeseries.siegel_repeated_median_slope(daily, F.col("d"), F.col("rev"))


@query(
    "cusum_changepoint_revenue",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             sum(CAST(o_totalprice AS DECIMAL(23,6))) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(CAST(rev AS DECIMAL(38,6))) AS t, CAST(count(*) AS BIGINT) AS n FROM daily),
    dev AS (
      SELECT d, n,
             CAST(n AS DECIMAL(38,6)) * CAST(rev AS DECIMAL(38,6)) - t AS dd
      FROM daily, tot
    ),
    cum AS (
      SELECT d, n,
             sum(dd) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dev
    ),
    top AS (SELECT d, n, c FROM cum ORDER BY abs(c) DESC, d ASC LIMIT 1)
    SELECT CAST(d AS DATE) AS change_point,
           round(CAST(abs(c) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum_peak,
           CASE WHEN c < 0 THEN 1 ELSE -1 END AS direction
    FROM top
    """,
)
def cusum_changepoint_revenue(spark, sf_dir):
    """CUSUM changepoint estimate on daily revenue
    (timeseries.cusum_changepoint): argmax |cumulative deviation from
    the global mean| — the control-chart changepoint locator.  The mean
    is never materialized: deviations are scaled by n (n*x - total), so
    every cumulative sum is an EXACT DECIMAL and the argmax day is
    engine-exact; only the reported peak divides back by n.  Windows
    bounded by calendar days."""
    from kafka_connect_morphlines_spark.functions import timeseries

    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(23,6)")).alias("rev")
    )
    return timeseries.cusum_changepoint(daily, F.col("d"), F.col("rev"))


@query(
    "event_transition_probs",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(n / sum(n) OVER (PARTITION BY from_type), 6) AS prob
    FROM pairs
    ORDER BY from_type, to_type
    """,
)
def event_transition_probs(spark, sf_dir):
    """First-order Markov transition matrix (funnel.event_transitions):
    P(next event type | current) per user stream — session-path mining.
    One user-keyed window shuffle; the probability normalization runs over
    the states^2 pair table only."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    return funnel.event_transitions(ev).orderBy("from_type", "to_type")


@query(
    "zscore_hourly_anomalies",
    """
    WITH b AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS bucket, CAST(value AS DOUBLE) AS v
      FROM events
    ),
    per_bucket AS (
      SELECT k, bucket,
             CAST(round(sum(CAST(v AS DECIMAL(23,6))), 4) AS DOUBLE) AS x,
             count(*) AS n_events
      FROM b GROUP BY k, bucket
    ),
    stats AS (
      SELECT k, bucket, x, n_events,
             CAST(sum(CAST(x AS DECIMAL(23,6))) OVER (PARTITION BY k) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(30,6))) OVER (PARTITION BY k) AS DOUBLE) AS sx2,
             count(*) OVER (PARTITION BY k) AS n
      FROM per_bucket
    )
    SELECT k, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, x, n_events, z
    FROM (
      SELECT k, bucket, x, n_events,
             round((x - sx / n) / sqrt((sx2 - sx * sx / n) / (n - 1)), 4) AS z
      FROM stats
    )
    WHERE abs(z) > 3.0
    ORDER BY k, bucket
    """,
)
def zscore_hourly_anomalies(spark, sf_dir):
    """Metric-monitor anomaly detection (timeseries.zscore_anomalies):
    hours whose value total deviates >3 sigma from the key's distribution.
    Variance from DECIMAL-exact moment sums (sum x, sum x^2) so the z-score
    is hash-stable across engines — stddev_samp over doubles would not be."""
    from kafka_connect_morphlines_spark.functions import timeseries

    ev = t(spark, sf_dir, "events")
    out = timeseries.zscore_anomalies(ev, z_threshold=3.0)
    return out.select(
        "k",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "x",
        "n_events",
        "z",
    ).orderBy("k", "bucket")


def _bpe_train_ctes(n_merges: int = 20, max_words: int = 50000, end_token: str = "</w>") -> tuple[list, str]:
    """(CTE list, rules-emission subquery) replaying the ENTIRE
    argmax-BPE training in SQL, one merge per unrolled round
    (bpe_train's batched selection is provably identical to
    one-at-a-time — the invariant its pytest reference pins).

    The merge application — greedy left-to-right non-overlapping replace
    of adjacent symbols (l, r) — is ONE global regexp_replace on a
    double-separator encoding: symbols joined by two \\x1f bytes with the
    pattern consuming one separator from each flank, so back-to-back
    matches ('a b a b' under merge a+b) each retain a flank for the next
    scan position, exactly the Python two-pointer walk.  Pair stats per
    round come from re-splitting the state string; argmax tie-break
    (cnt DESC, l, r) and the cnt >= 2 stop rule (max pair count is
    non-increasing, so a dead round stays dead) mirror bpe_train.
    States are MATERIALIZED so the 20-round chain plans linearly."""
    s1 = "\x1f"
    s2 = s1 + s1
    ctes = [
        rf"""w0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x != '')) AS w
        FROM documents)
      GROUP BY w ORDER BY freq DESC, w LIMIT {max_words}
    )""",
        f"""s0 AS MATERIALIZED (
      SELECT freq, '{s2}' || array_to_string(regexp_split_to_array(w, ''), '{s2}')
             || '{s2}' || '{end_token}' || '{s2}' AS str
      FROM w0
    )""",
    ]
    for it in range(n_merges):
        ctes += [
            f"""e{it} AS (
      SELECT freq, ls, unnest(range(1, len(ls))) AS i
      FROM (SELECT freq, string_split(trim(str, '{s1}'), '{s2}') AS ls FROM s{it})
    )""",
            f"""b{it} AS MATERIALIZED (
      SELECT ls[i] AS l, ls[i + 1] AS r, sum(freq) AS cnt
      FROM e{it} GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
    )""",
            f"""s{it + 1} AS MATERIALIZED (
      SELECT s.freq,
             CASE WHEN b.cnt >= 2 THEN regexp_replace(
               s.str,
               '{s1}' || regexp_escape(b.l) || '{s2}' || regexp_escape(b.r) || '{s1}',
               '{s1}' || replace(b.l || b.r, '\\', '\\\\') || '{s1}',
               'g')
             ELSE s.str END AS str
      FROM s{it} s CROSS JOIN b{it} b
    )""",
        ]
    emits = "\n      UNION ALL ".join(
        f'SELECT {it} AS rank, l AS "left", r AS "right", CAST(cnt AS BIGINT) AS pair_count FROM b{it} WHERE cnt >= 2'
        for it in range(n_merges)
    )
    return ctes, emits


def _bpe_oracle_sql(n_merges: int = 20, max_words: int = 50000, end_token: str = "</w>") -> str:
    ctes, emits = _bpe_train_ctes(n_merges, max_words, end_token)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT * FROM ({emits})
    ORDER BY rank
    """


@query("bpe_merge_rules", _bpe_oracle_sql())
def bpe_merge_rules(spark, sf_dir):
    """Distributed BPE tokenizer training (traindata.bpe_train): the top 20
    merge rules learned from the corpus.  PROMOTED from rows-only in r08:
    the full iterative argmax fit is replayed by an unrolled 20-round SQL
    oracle (_bpe_oracle_sql) — pair counts are exact integers, the argmax
    tie-break is total, and the greedy merge application is expressible
    as one boundary-aware global regexp_replace per round, so nothing in
    the fit is engine-specific.  The pytest equality gate against the
    pure-Python sequential reference remains (it also justifies replaying
    bpe_train's batched selection one merge at a time).  Scale story: one
    corpus shuffle collapses text to the (distinct word, freq) table;
    every round then runs on that vocabulary-sized table (codegen pair
    counts, Arrow-batched merge)."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.bpe_train(docs, n_merges=20).orderBy("rank")


@query(
    "value_histogram_by_type",
    """
    WITH base AS (
      SELECT event_type AS k, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
    ),
    bounds AS (SELECT k, min(v) AS lo0, max(v) AS hi0 FROM base GROUP BY k),
    binned AS (
      SELECT b.k,
             CASE WHEN bo.hi0 = bo.lo0 THEN 0
                  ELSE least(CAST(floor((b.v - bo.lo0) / ((bo.hi0 - bo.lo0) / 20)) AS INTEGER), 19)
             END AS bin,
             bo.lo0, bo.hi0
      FROM base b JOIN bounds bo USING (k)
    )
    SELECT k, bin,
           round(lo0 + bin * (hi0 - lo0) / 20, 6) AS lo,
           round(lo0 + (bin + 1) * (hi0 - lo0) / 20, 6) AS hi,
           count(*) AS cnt
    FROM binned
    GROUP BY k, bin, lo0, hi0
    ORDER BY k, bin
    """,
)
def value_histogram_by_type(spark, sf_dir):
    """Fixed-width histogram profiling (validation.histogram): 20-bin value
    distribution per event type.  Two map-side-combinable aggregates; the
    bounds frame is keys-sized and broadcast — no sort, no percentile
    collection (the scale trap of equal-frequency binning)."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    return validation.histogram(ev, F.col("value"), n_bins=20, key=F.col("event_type")).orderBy(
        "k", "bin"
    )


_HLL_OVERLAP_SQL = f"""
    WITH parts AS (
      SELECT side, {_HLL_REG} AS reg, {_HLL_RHO} AS rho
      FROM (SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS side,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE event_type IN ('click', 'purchase'))
    ),
    regs AS (SELECT side, reg, max(rho) AS rho FROM parts GROUP BY side, reg),
    allregs AS (
      SELECT side, reg, rho FROM regs
      UNION ALL
      SELECT 'u' AS side, reg, max(rho) AS rho FROM regs GROUP BY reg
    ),
    agg AS (SELECT side, count(*) AS np, {_HLL_SP} AS sp FROM allregs GROUP BY side),
    est AS (SELECT side, {_hll_est_sql()} AS e FROM agg)
    SELECT round(a.e, 1) AS est_a, round(b.e, 1) AS est_b, round(u.e, 1) AS est_union,
           round(greatest(a.e + b.e - u.e, 0.0), 1) AS est_intersection
    FROM (SELECT e FROM est WHERE side = 'a') a,
         (SELECT e FROM est WHERE side = 'b') b,
         (SELECT e FROM est WHERE side = 'u') u
"""


@query("hll_audience_overlap", _HLL_OVERLAP_SQL)
def hll_audience_overlap(spark, sf_dir):
    """HLL inclusion-exclusion overlap (sketches.hll_overlap_portable): how
    many users both click AND purchase, estimated from two mergeable
    register sketches without a join or rescan.  Promoted from rows-only in
    r07: portable md5-derived HLL — the oracle rebuilds both sketches, the
    register-max union, and every estimate exactly."""
    from kafka_connect_morphlines_spark.functions import sketches

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    out = sketches.hll_overlap_portable(clicks, buys, "user_id")
    return out.select(*[F.round(F.col(c), 1).alias(c) for c in out.columns])


@query(
    "kn_bigram_logprob",
    """
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x->x!='') AS toks FROM documents),
    pairs AS (
      SELECT doc_id, z[1] AS w1, z[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
            FROM d WHERE len(toks) >= 2)
    ),
    big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(c2) AS c1, count(*) AS nfol FROM big GROUP BY w1),
    cont AS (SELECT w2, count(*) AS ncont FROM big GROUP BY w2),
    types AS (SELECT count(*) AS ntypes FROM big),
    lp AS (
      SELECT p.doc_id,
             ln(greatest(b.c2 - 0.75, 0.0) / x.c1
                + 0.75 * x.nfol / x.c1 * (co.ncont / t.ntypes)) AS lp
      FROM pairs p
      JOIN big b USING (w1, w2)
      JOIN ctx x ON x.w1 = p.w1
      JOIN cont co ON co.w2 = p.w2
      CROSS JOIN types t
    ),
    agg AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS logprob FROM lp GROUP BY doc_id)
    SELECT dd.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams, coalesce(agg.logprob, 0.0) AS logprob
    FROM documents dd LEFT JOIN agg ON dd.doc_id = agg.doc_id
    """,
)
def kn_bigram_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (textstats.kn_bigram_logprob_df)
    — the standard LM smoothing for perplexity filters; all factors derive
    from four aggregates over the Zipf-bounded bigram count table."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textstats

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.kn_bigram_logprob_df(docs)


def _bpe_encode_oracle_sql(
    n_merges: int = 20, k_rounds: int = 10, end_token: str = "</w>"
) -> str:
    """Replays train AND encode in SQL: the 20-round training chain
    (_bpe_train_ctes) feeds a per-distinct-word DYNAMIC encode loop —
    ``k_rounds`` unrolled rounds of "min applicable rank, apply
    exhaustively" — which is exactly encode_word's outer while, NOT a
    fixed rank-order sweep (rank order diverges under same-string merge
    collisions; the dynamic unroll never does).  Applicability is a
    literal substring probe on the double-separator encoding; the
    rewrite is the same flank-preserving global regexp_replace as
    training.  k_rounds bounds the while loop: each round shrinks an
    unfinished word by >= 1 symbol and corpus words are <= 8 chars
    (9 symbols), so 10 rounds provably reach fixpoint."""
    s1 = "\x1f"
    s2 = s1 + s1
    ctes, emits = _bpe_train_ctes(n_merges, 50000, end_token)
    ctes = list(ctes)
    ctes += [
        f"""rtab AS MATERIALIZED (SELECT * FROM ({emits}))""",
        r"""wdocs AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
            FROM documents WHERE doc_id < 50)
    )""",
        f"""enc0 AS MATERIALIZED (
      SELECT w, '{s2}' || array_to_string(regexp_split_to_array(w, ''), '{s2}')
             || '{s2}' || '{end_token}' || '{s2}' AS str
      FROM (SELECT DISTINCT w FROM wdocs)
    )""",
    ]
    for k in range(k_rounds):
        ctes += [
            f"""a{k} AS MATERIALIZED (
      SELECT e.w, min(r.rank) AS mrk
      FROM enc{k} e JOIN rtab r
        ON strpos(e.str, '{s1}' || r."left" || '{s2}' || r."right" || '{s1}') > 0
      GROUP BY e.w
    )""",
            f"""enc{k + 1} AS MATERIALIZED (
      SELECT e.w,
             CASE WHEN a.mrk IS NOT NULL THEN regexp_replace(
               e.str,
               '{s1}' || regexp_escape(r."left") || '{s2}' || regexp_escape(r."right") || '{s1}',
               '{s1}' || replace(r."left" || r."right", '\\', '\\\\') || '{s1}',
               'g')
             ELSE e.str END AS str
      FROM enc{k} e LEFT JOIN a{k} a USING (w) LEFT JOIN rtab r ON r.rank = a.mrk
    )""",
        ]
    ctes += [
        f"""wt AS (SELECT w, string_split(trim(str, '{s1}'), '{s2}') AS toks FROM enc{k_rounds})""",
        f"""agg AS (
      SELECT d.doc_id, CAST(sum(len(t.toks)) AS INT) AS n_tokens,
             array_to_string(list_slice(flatten(list(t.toks ORDER BY d.pos)), 1, 8), '|') AS head_tokens
      FROM wdocs d JOIN wt t USING (w) GROUP BY d.doc_id
    )""",
    ]
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT doc.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.head_tokens, '') AS head_tokens
    FROM (SELECT doc_id FROM documents WHERE doc_id < 50) doc
    LEFT JOIN agg USING (doc_id)
    ORDER BY doc.doc_id
    """


@query("bpe_encode_sample", _bpe_encode_oracle_sql())
def bpe_encode_sample(spark, sf_dir):
    """BPE encode with self-trained merges (traindata.bpe_encode after
    bpe_train): token counts + first tokens for the 50 lowest-id docs.
    PROMOTED from rows-only in r08: train AND the dynamic greedy encode
    loop are both replayed in SQL (_bpe_encode_oracle_sql) — the encode
    unrolls "min applicable rank, apply exhaustively" per distinct word,
    bounded by the corpus' 8-char words.  The pytest train->encode
    round-trip gate remains."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    rules = traindata.bpe_train(docs, n_merges=20)
    enc = traindata.bpe_encode(docs.filter(F.col("doc_id") < 50), rules)
    return enc.select(
        "doc_id",
        "n_tokens",
        # serialize: the driver canonicalizer sorts pandas cells, and
        # array-typed cells are unhashable (TypeError) — emit a string.
        F.concat_ws("|", F.slice("tokens", 1, 8)).alias("head_tokens"),
    ).orderBy("doc_id")


_HLL_ROLLING_SQL = f"""
    WITH parts AS (
      SELECT b, {_HLL_REG} AS reg, {_HLL_RHO} AS rho
      FROM (SELECT date_trunc('hour', ts) AS b, md5(CAST(user_id AS VARCHAR)) AS h FROM events)
    ),
    regs AS (SELECT b, reg, max(rho) AS rho FROM parts GROUP BY b, reg),
    bl AS (SELECT DISTINCT b AS bucket FROM regs),
    m AS (
      SELECT bl.bucket, regs.reg, max(regs.rho) AS rho
      FROM bl JOIN regs ON regs.b <= bl.bucket AND regs.b >= bl.bucket - INTERVAL 23 HOUR
      GROUP BY bl.bucket, regs.reg
    ),
    agg AS (SELECT bucket, count(*) AS np, {_HLL_SP} AS sp FROM m GROUP BY bucket)
    SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(floor({_hll_est_sql()}) AS BIGINT) AS rolling_distinct
    FROM agg ORDER BY bucket
"""


@query("hll_rolling_distinct_users", _HLL_ROLLING_SQL)
def hll_rolling_distinct_users(spark, sf_dir):
    """Trailing-24h unique users per hour from mergeable portable HLL
    sketches (sketches.hll_rolling_distinct_portable): one event scan
    builds hourly register sketches; the rolling union is a register-max
    over the sketch-sized bucket table only.  Promoted from rows-only in
    r07 (md5-derived registers -> the oracle re-derives every estimate)."""
    from kafka_connect_morphlines_spark.functions import sketches

    ev = t(spark, sf_dir, "events")
    out = sketches.hll_rolling_distinct_portable(ev, "user_id", window_buckets=24)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.floor("rolling_distinct").cast("long").alias("rolling_distinct"),
    ).orderBy("bucket")


@query(
    "fuzzy_join_part_names",
    """
    WITH n AS (SELECT DISTINCT lower(trim(p_name)) AS name FROM part)
    SELECT a.name AS l_id, b.name AS r_id,
           levenshtein(a.name, b.name) AS edit_dist
    FROM n a JOIN n b
      ON a.name < b.name
     AND levenshtein(a.name, b.name) <= 1
    ORDER BY l_id, r_id
    """,
)
def fuzzy_join_part_names(spark, sf_dir):
    """Edit-distance join (relational.fuzzy_join): near-identical part
    names via q-gram inverted-index blocking + exact levenshtein verify,
    over DISTINCT names — the dedup-first composition (SCALE.md lesson 2:
    pair output is quadratic in duplicate-cluster size, so collapse exact
    duplicates BEFORE any similarity join; this corpus has 20k parts over
    64 distinct names at sf0.1).  The oracle is the exact all-pairs join
    over the same distinct set, certifying the blocking's RECALL."""
    from kafka_connect_morphlines_spark.functions import relational

    names = (
        t(spark, sf_dir, "part")
        .select(F.lower(F.trim(F.col("p_name"))).alias("name"))
        .distinct()
    )
    out = relational.fuzzy_join(
        names, names, "name", "name", "name", "name", max_edit=1, q=2
    )
    return out.filter(F.col("l_id") < F.col("r_id")).orderBy("l_id", "r_id")


@query(
    "frequent_part_pairs",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    nb AS (SELECT count(DISTINCT b) AS n FROM bi),
    ic AS (SELECT i, count(*) AS ni FROM bi GROUP BY i),
    pairs AS (
      SELECT x.i AS item_a, y.i AS item_b, count(*) AS support
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY x.i, y.i HAVING count(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.support,
           round((p.support / nb.n) / ((ia.ni / nb.n) * (ib.ni / nb.n)), 6) AS lift
    FROM pairs p
    JOIN ic ia ON ia.i = p.item_a
    JOIN ic ib ON ib.i = p.item_b
    CROSS JOIN nb
    ORDER BY item_a, item_b
    """,
)
def frequent_part_pairs(spark, sf_dir):
    """Market-basket mining (funnel.frequent_pairs): parts ordered together
    in >=2 orders, with lift.  Basket-keyed self-join (shuffle carries ids
    only), map-side-combined pair counts, broadcast item counts."""
    from kafka_connect_morphlines_spark.functions import funnel

    li = t(spark, sf_dir, "lineitem")
    out = funnel.frequent_pairs(li, "l_orderkey", "l_partkey", min_support=2)
    return out.orderBy("item_a", "item_b")


@query(
    "ab_test_event_values",
    """
    WITH assigned AS (
      SELECT CASE WHEN CAST('0x' || substr(md5('exp1/' || CAST(user_id AS VARCHAR)), 1, 6) AS BIGINT) % 2 = 0
                  THEN 'a' ELSE 'b' END AS arm,
             value > 100 AS success
      FROM events
    ),
    agg AS (SELECT arm, count(*) AS n,
                   CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS conv
            FROM assigned GROUP BY arm)
    SELECT a.n AS na, a.conv AS ca, b.n AS nb, b.conv AS cb,
           CAST((a.conv * 2000000 + a.n) // (2 * a.n) AS BIGINT) AS rate_a_ppm,
           CAST((b.conv * 2000000 + b.n) // (2 * b.n) AS BIGINT) AS rate_b_ppm
    FROM (SELECT * FROM agg WHERE arm = 'a') a
    CROSS JOIN (SELECT * FROM agg WHERE arm = 'b') b
    """,
)
def ab_test_event_values(spark, sf_dir):
    """Experiment analysis (funnel.ab_test_zscores over traindata-style md5
    assignment): deterministic 50/50 arm split on user_id, success = value
    > 100, two-proportion conversion rates.  Assignment is a map-side record
    property; analysis is one aggregate.  The certified projection is pure
    BIGINT (counts + round-half-up ppm via integer div) — no float enters
    it, so it is bit-exact on any engine; the float z statistic stays in
    funnel.ab_test_zscores' output and is pinned in pytest instead."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1/"), F.col("user_id").cast("string"))), 1, 6), 16, 10).cast("long") % 2
        == 0,
        "a",
    ).otherwise("b")
    assigned = ev.select(arm.alias("arm"), (F.col("value") > 100).alias("success"))
    return funnel.ab_test_zscores(assigned, "arm", F.col("success")).drop("z")


@query(
    "score_pct_by_source",
    """
    SELECT doc_id, source,
           round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS score_pct
    FROM documents
    ORDER BY doc_id
    """,
)
def score_pct_by_source(spark, sf_dir):
    """Cross-source score calibration (traindata.normalize_scores): raw
    quality proxies become per-source percent ranks so one global
    threshold is meaningful before mixture sampling.  One source-keyed
    window shuffle; ties need no id tie-break (shared ranks)."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.normalize_scores(docs, "n_chars").select(
        "doc_id", "source", "score_pct"
    ).orderBy("doc_id")


@query(
    "snapshot_diff_docs",
    """
    WITH o AS (SELECT doc_id AS k, md5(text) AS ho FROM documents WHERE doc_id % 7 != 0),
    n AS (SELECT doc_id AS k,
                 md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS hn
          FROM documents WHERE doc_id % 11 != 0)
    SELECT coalesce(o.k, n.k) AS doc_id,
           CASE WHEN o.ho IS NULL THEN 'added'
                WHEN n.hn IS NULL THEN 'removed'
                WHEN o.ho != n.hn THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM o FULL OUTER JOIN n ON o.k = n.k
    ORDER BY doc_id
    """,
)
def snapshot_diff_docs(spark, sf_dir):
    """Corpus snapshot diff (traindata.diff_snapshots): v3->v4 release
    audit via digest compare on a full outer join — the shuffle carries
    (key, md5), never text.  Old = docs minus every 7th; new = docs minus
    every 11th with every 5th edited."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return traindata.diff_snapshots(old, new).orderBy("doc_id")


_RANDOM_PROJECTION_SQL = f"""
    WITH hp AS ({_hyperplane_cte_sql('jl:', 16, 64)}),
    m AS (SELECT p AS r, j, e * sqrt(3.0 / 16.0) AS w FROM hp),
    proj AS (
      SELECT e.vec_id, m.r,
             round(sum(CAST(e.embedding[m.j + 1] AS DOUBLE) * m.w), 6) AS y
      FROM embeddings e, m WHERE e.vec_id < 20
      GROUP BY e.vec_id, m.r
    )
    SELECT vec_id, string_agg(printf('%.9f', y), '|' ORDER BY r) AS embedding_rp
    FROM proj GROUP BY vec_id ORDER BY vec_id
"""


@query("embedding_random_projection", _RANDOM_PROJECTION_SQL)
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss projection (similarity.random_projection):
    64-dim embeddings -> 16 dims via a deterministic md5-seeded matrix,
    Arrow-batched matmul.  Downstream ANN/clustering shuffles shrink 4x.
    Certified: the oracle regenerates the exact md5 matrix entries
    (_hyperplane_cte_sql) and replays the scaled matmul; the 6dp round
    absorbs BLAS-vs-SQL summation-order noise.  pytest additionally pins
    distance preservation and rerun determinism."""
    from kafka_connect_morphlines_spark.functions import similarity

    emb = t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    out = similarity.random_projection(emb, dim, out_dim=16)
    return (
        out.filter(F.col("vec_id") < 20)
        .select(
            "vec_id",
            # serialize: array cells crash the driver canonicalizer sort;
            # locale-free fixed 9dp (format_number would insert grouping
            # commas at |x| >= 1000) keeps the golden stable across reruns.
            F.concat_ws(
                "|",
                F.transform(
                    "embedding_rp", lambda x: F.format_string("%.9f", x)
                ),
            ).alias("embedding_rp"),
        )
        .orderBy("vec_id")
    )


def _norm_text_oracle() -> str:
    from kafka_connect_morphlines_spark.commands.fields import _ACCENTS_FROM, _ACCENTS_TO

    return f"""
    WITH n AS (
      SELECT doc_id,
             translate(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                       '{_ACCENTS_FROM}', '{_ACCENTS_TO}') AS norm
      FROM documents
    )
    SELECT doc_id, norm,
           len(list_filter(string_split(norm, ' '), x -> x != '')) AS n_tokens
    FROM n ORDER BY doc_id
    """


@query("normalize_tokenize_text", _norm_text_oracle())
def normalize_tokenize_text(spark, sf_dir):
    """normalizeText + tokenizeText pipeline commands (commands/fields.py):
    trim/collapse/lowercase/accent-fold then whitespace tokenize — the
    normalization front of every dedup/matching key, as HOCON-configurable
    commands.  All codegen string ops, map-only."""
    pipe = compile_pipeline(
        [
            {"normalizeText": {"field": "text", "outputField": "norm"}},
            {"tokenizeText": {"inputField": "norm", "outputField": "toks"}},
        ]
    )
    docs = t(spark, sf_dir, "documents")
    return (
        pipe(docs)
        .select("doc_id", "norm", F.size("toks").alias("n_tokens"))
        .orderBy("doc_id")
    )


@query(
    "udtf_split_sentences",
    """
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]?'), x -> trim(x)),
                         x -> x != '') AS arr
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, u.pos, u.sentence
    FROM s, unnest(list_transform(range(len(arr)), i -> {'pos': i, 'sentence': arr[i+1]})) AS t(u)
    ORDER BY doc_id, u.pos
    """,
)
def udtf_split_sentences(spark, sf_dir):
    """Python UDTF surface (functions/udtfs.SplitSentences): LATERAL
    table-function join producing one typed row per sentence — the 1->N
    UDF leg, certified against the identical RE2-safe pattern in SQL."""
    from kafka_connect_morphlines_spark.functions import udtfs

    udtfs.register(spark)
    t(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM _udtf_docs d, LATERAL split_sentences(d.text) s
        WHERE d.doc_id < 100
        ORDER BY doc_id, pos
        """
    )


@query(
    "map_functions_props",
    """
    SELECT event_id, 'k' AS key, CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 >= 100
    ORDER BY event_id
    """,
)
def map_functions_props(spark, sf_dir):
    """Map higher-order functions (Part C map fns): from_json to a MapType,
    transform_values (v*2), map_filter (>= 100), map_entries + explode back
    to flat typed columns — all codegen, no Python."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    doubled = F.map_filter(
        F.transform_values(m, lambda k, v: v * 2), lambda k, v: v >= 100
    )
    return (
        ev.select("event_id", F.explode(doubled).alias("key", "value"))
        .orderBy("event_id")
    )


@query(
    "grouping_sets_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY rf, ls
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (Part C aggregations, completing cube/rollup):
    (flag, status), (flag), and grand total in ONE pass — Catalyst plans a
    single Expand + aggregate, not three scans.  Decimal-exact revenue."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            money_sum(F.col("l_extendedprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "revenue",
            "n",
        )
        .orderBy("rf", "ls")
    )


@query(
    "grouped_regression_hourly",
    """
    WITH b AS (
      SELECT event_type AS k,
             CAST(extract(hour FROM ts) AS DOUBLE) AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
    ),
    m AS (
      SELECT k, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(23,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(23,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx
      FROM b GROUP BY k
    )
    SELECT k, n,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
           round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx / n), 6) AS intercept
    FROM m
    ORDER BY k
    """,
)
def grouped_regression_hourly(spark, sf_dir):
    """Grouped OLS (Part C aggregations, the regr_slope/intercept family):
    per event type, fit value ~ hour-of-day in closed form from ONE
    map-side-combinable aggregate of decimal-exact moments — the
    engine-portable equivalent of regr_slope/regr_intercept (whose double
    accumulation is summation-order dependent)."""
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("k"),
        F.hour("ts").cast("double").alias("x"),
        F.col("value").cast("double").alias("y"),
    )
    m = b.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(23,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(23,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,6)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,6)")).cast("double").alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return m.select(
        "k",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")), 6).alias("intercept"),
    ).orderBy("k")


@query(
    "psi_value_drift",
    """
    WITH o AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
    n AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
    bounds AS (SELECT k, min(v) AS lo, max(v) AS hi FROM o GROUP BY k),
    ho AS (
      SELECT b.k, CASE WHEN bo.hi = bo.lo THEN 0
             ELSE CAST(least(greatest(floor((b.v - bo.lo) / ((bo.hi - bo.lo) / 10)), 0), 9) AS INTEGER) END AS bin,
             count(*) AS c_old
      FROM o b JOIN bounds bo USING (k) GROUP BY 1, 2
    ),
    hn AS (
      SELECT b.k, CASE WHEN bo.hi = bo.lo THEN 0
             ELSE CAST(least(greatest(floor((b.v - bo.lo) / ((bo.hi - bo.lo) / 10)), 0), 9) AS INTEGER) END AS bin,
             count(*) AS c_new
      FROM n b JOIN bounds bo USING (k) GROUP BY 1, 2
    ),
    j AS (
      SELECT coalesce(ho.k, hn.k) AS k, coalesce(ho.bin, hn.bin) AS bin,
             coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
      FROM ho FULL OUTER JOIN hn ON ho.k = hn.k AND ho.bin = hn.bin
    ),
    t AS (SELECT k, sum(c_old) AS tot_o, sum(c_new) AS tot_n FROM j GROUP BY k)
    SELECT j.k,
           round(sum((greatest(c_new / tot_n, 1e-6) - greatest(c_old / tot_o, 1e-6))
                     * ln(greatest(c_new / tot_n, 1e-6) / greatest(c_old / tot_o, 1e-6))), 6) AS psi
    FROM j JOIN t ON j.k = t.k
    GROUP BY j.k
    ORDER BY j.k
    """,
)
def psi_value_drift(spark, sf_dir):
    """Population Stability Index (validation.psi_drift): distribution
    drift of event values between two deterministic halves of the corpus,
    per event type — the standard release-over-release drift monitor.
    Two histogram aggregates + a bins-sized join; volume never re-joined."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    return validation.psi_drift(old, new, F.col("value"), key=F.col("event_type")).orderBy("k")


@query(
    "top_event_paths",
    """
    WITH seq AS (
      SELECT event_type AS a,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a || ' > ' || b || ' > ' || c AS path, count(*) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def top_event_paths(spark, sf_dir):
    """Top user journeys (order-2 extension of event_transition_probs):
    most frequent 3-step event paths across user streams.  One user-keyed
    window shuffle (two leads share the frame), a states^3-bounded groupBy,
    TakeOrdered top-k."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.select(F.concat_ws(" > ", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@query(
    "chi2_type_vs_daypart",
    """
    WITH obs AS (
      SELECT event_type AS r, CAST(floor(extract(hour FROM ts) / 6) AS INTEGER) AS c, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(o) AS n FROM obs),
    rm AS (SELECT r, sum(o) AS ro FROM obs GROUP BY r),
    cm AS (SELECT c, sum(o) AS co FROM obs GROUP BY c)
    SELECT round(sum(power(obs.o - rm.ro * cm.co / tot.n, 2) / (rm.ro * cm.co / tot.n)), 4) AS chi2,
           CAST((count(DISTINCT obs.r) - 1) * (count(DISTINCT obs.c) - 1) AS BIGINT) AS dof
    FROM obs JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot
    """,
)
def chi2_type_vs_daypart(spark, sf_dir):
    """Chi-square independence test (contingency analytics): is event type
    independent of day-part?  Expected counts from broadcast row/column
    marginals over the cells-sized contingency table; the event volume is
    aggregated exactly once."""
    ev = t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("r"),
        F.floor(F.hour("ts") / 6).cast("int").alias("c"),
    ).agg(F.count(F.lit(1)).alias("o"))
    obs = obs.localCheckpoint()  # feeds marginals + the cell join
    tot = obs.agg(F.sum("o").alias("n"))
    rm = obs.groupBy("r").agg(F.sum("o").alias("ro"))
    cm = obs.groupBy("c").agg(F.sum("o").alias("co"))
    j = (
        obs.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("ro") * F.col("co") / F.col("n")
    return j.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("long").alias("dof"),
    )


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text),' '), x->x!='')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * (ln((nd.n + 1.0) / (dfq.dfreq + 1)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-5 TF-IDF terms per document (retrieval.tfidf_top_terms): the
    sparse keyword representation exported for downstream ML.  Vocabulary-
    sized df table (AQE broadcast), doc-partitioned top-k window."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, retrieval

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return retrieval.tfidf_top_terms(docs, k=5).orderBy("doc_id", "rank")


@query(
    "latest_state_per_user",
    """
    SELECT user_id,
           arg_max(event_type, epoch(ts) * 1000000000 + event_id) AS last_type,
           round(arg_max(value, epoch(ts) * 1000000000 + event_id), 4) AS last_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           count(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def latest_state_per_user(spark, sf_dir):
    """Event-log compaction to a latest-state snapshot (the CDC 'current
    table' pattern): max_by over (ts, id) — ONE map-side-combinable
    aggregate, no window sort over the log.  Tie-break on the unique event
    id makes the winner deterministic under any partitioning."""
    ev = t(spark, sf_dir, "events")
    # scalar order key (same expression in the oracle): second-granularity
    # epoch * 1e9 + unique event id — deterministic total order
    ord_ = F.unix_timestamp("ts") * F.lit(1_000_000_000) + F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", ord_).alias("last_type"),
        F.round(F.max_by("value", ord_), 4).alias("last_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ).orderBy("user_id")


@query(
    "funnel_conversion_deadline",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type='signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id=s1.user_id
           WHERE e.event_type='click' AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL 72 HOURS
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id=s2.user_id
           WHERE e.event_type='purchase' AND e.ts >= s2.t2 AND e.ts <= s2.t2 + INTERVAL 72 HOURS
           GROUP BY e.user_id)
    SELECT s1.user_id, CAST(epoch_ms(s1.t1) AS BIGINT) AS t_signup,
           CAST(epoch_ms(s2.t2) AS BIGINT) AS t_click,
           CAST(epoch_ms(s3.t3) AS BIGINT) AS t_purchase
    FROM s1 LEFT JOIN s2 ON s1.user_id=s2.user_id LEFT JOIN s3 ON s1.user_id=s3.user_id
    """,
)
def funnel_conversion_deadline(spark, sf_dir):
    """Deadline funnel (funnel.funnel_steps max_gap): each step must land
    within 72 h of the previous one — attribution-window semantics.  Same
    N-1 shrinking user-keyed joins as the unbounded funnel."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    steps = ["signup", "click", "purchase"]
    out = funnel.funnel_steps(ev, steps, max_gap="72 hours")
    return out.select(
        "user_id",
        *[F.unix_millis(F.col(f"t_{s}")).alias(f"t_{s}") for s in steps],
    )


@query(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS users_both
    FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def audience_overlap_matrix(spark, sf_dir):
    """Exact pairwise audience overlap across event types: the full
    |types|^2 intersection matrix from ONE distinct (user, type) frame
    self-joined on the user key — users shuffle once, pairs are bounded by
    per-user type count squared (<= 25 here).  The exact counterpart of
    hll_audience_overlap for when types are few and exactness matters."""
    ev = t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("users_both"))
        .orderBy("type_a", "type_b")
    )


@query(
    "session_duration_stats",
    """
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ),
    per AS (
      SELECT user_id, sid, count(*) AS n_events,
             CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_s,
             CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_events,
           round(quantile_cont(dur_s, 0.5), 2) AS p50_dur_s,
           round(quantile_cont(dur_s, 0.95), 2) AS p95_dur_s,
           CAST(round(sum(CAST(session_value AS DECIMAL(23,6))), 2) AS DOUBLE) AS total_value
    FROM per
    """,
)
def session_duration_stats(spark, sf_dir):
    """Session-level rollup on top of gap sessionization: session counts,
    events/session, exact p50/p95 duration, decimal-exact value totals.
    The session assignment is one user-keyed window (same shuffle as
    sessionize); everything after runs on the sessions frame."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    marked = ev.select(
        "user_id", "ts", "value", "event_id",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)).alias("is_new"),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = marked.select(
        "user_id", "ts", "value", F.sum("is_new").over(wsum).alias("sid")
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("dur_s"),
        F.round(F.sum(F.col("value").cast("decimal(23,6)")), 2).cast("double").alias("session_value"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.percentile("dur_s", F.lit(0.5)), 2).alias("p50_dur_s"),
        F.round(F.percentile("dur_s", F.lit(0.95)), 2).alias("p95_dur_s"),
        F.round(F.sum(F.col("session_value").cast("decimal(23,6)")), 2).cast("double").alias("total_value"),
    )


@query(
    "score_decile_lift",
    """
    WITH s AS (
      SELECT source, n_chars,
             round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS pct
      FROM documents
    )
    SELECT source,
           CAST(least(floor(pct * 10), 9) AS INTEGER) AS decile,
           count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def score_decile_lift(spark, sf_dir):
    """Decile lift table over calibrated scores (composes
    traindata.normalize_scores): per-source score deciles with doc counts
    and mean length — the standard quality-classifier evaluation readout.
    Decile from percent_rank (per-source window), explicit floor()
    bucketing (the engine-portable cast convention)."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    scored = traindata.normalize_scores(docs, "n_chars", out_col="pct")
    dec = F.least(F.floor(F.col("pct") * 10), F.lit(9)).cast("int")
    return (
        scored.groupBy("source", dec.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("source", "decile")
    )


@query(
    "dau_wau_stickiness",
    """
    WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u
        ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
      GROUP BY d.day
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
)
def dau_wau_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per day — EXACT leg (trailing-7-day distinct via
    a days x day-users range join over the deduped (day, user) frame; the
    frame is day-user-sized, not event-sized).  At 100 TB use the
    sketch path (hll_rolling_distinct) — this exact form is the oracle-
    certifiable counterpart and the correctness reference for it."""
    ev = t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct().localCheckpoint()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    u = du.select(F.col("day").alias("uday"), "user_id")
    wau = (
        days.join(
            u,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") > F.date_sub(F.col("day"), 7)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "revenue_concentration",
    """
    WITH per AS (
      SELECT o_custkey, CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i, count(*) OVER () AS n,
             CAST(sum(CAST(rev AS DECIMAL(23,6))) OVER () AS DOUBLE) AS tot
      FROM per
    )
    SELECT round(2.0 * CAST(sum(CAST(i * rev AS DECIMAL(30,6))) AS DOUBLE) / (max(n) * max(tot)) - (max(n) + 1.0) / max(n), 6) AS gini,
           round(CAST(sum(CAST(CASE WHEN i > 0.99 * n THEN rev ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE) / max(tot), 6) AS top1pct_share
    FROM ranked
    """,
)
def revenue_concentration(spark, sf_dir):
    """Revenue concentration: Gini coefficient + top-1% share over
    per-customer revenue.  r10: every customer's exact global rank comes
    from orderstats.with_global_index (width_bucket + bounded per-bucket
    offsets + per-bucket row_number) — the r09 customer-count-sized
    single-partition sort is gone; the fact table never sorts and no
    partition ever holds more than ~|customers|/256 rows.  n and the
    exact DECIMAL revenue total ride along from the offsets collect and
    one bounded aggregate, entering the double chain as literals in the
    oracle's exact op order; revenue sums are decimal-exact."""
    from decimal import Decimal

    from kafka_connect_morphlines_spark.functions import orderstats

    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(23,6)")), 2)
        .cast("double")
        .alias("rev")
    )
    per = per.localCheckpoint()  # read 3x: total, offsets, indexed agg
    tot_dec = per.agg(F.sum(F.col("rev").cast("decimal(23,6)"))).first()[0]
    ranked, n = orderstats.with_global_index(
        per, "rev", tiebreaks=["o_custkey"], index_col="i"
    )
    # mirror the oracle's double chain exactly: tot = CAST(decimal-sum AS
    # DOUBLE), n BIGINT promoted per-op (round-half-even on both engines)
    tot = float(tot_dec if tot_dec is not None else Decimal(0))
    # empty-input sentinel: aggregates over zero rows are NULL on both
    # engines, so any finite literals give the same all-NULL row — avoid
    # the Python ZeroDivisionError only
    n_d = float(n) if n else 1.0
    return ranked.agg(
        F.round(
            F.lit(2.0)
            * F.sum((F.col("i") * F.col("rev")).cast("decimal(30,6)")).cast("double")
            / F.lit(n_d * tot)
            - F.lit((n_d + 1.0) / n_d),
            6,
        ).alias("gini"),
        F.round(
            F.sum(
                F.when(F.col("i") > F.lit(0.99 * n_d), F.col("rev"))
                .otherwise(0.0)
                .cast("decimal(30,6)")
            ).cast("double")
            / F.lit(tot),
            6,
        ).alias("top1pct_share"),
    )


@query(
    "repeat_purchase_intervals",
    """
    WITH p AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT CAST(date_diff('second', prev, ts) AS BIGINT) AS gap_s
      FROM p WHERE prev IS NOT NULL
    )
    SELECT count(*) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 2) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.9), 2) AS p90_gap_s,
           round(avg(gap_s), 2) AS avg_gap_s
    FROM gaps
    """,
)
def repeat_purchase_intervals(spark, sf_dir):
    """Repeat-purchase cadence: per-user gaps between consecutive purchases
    (one user-keyed lag window over the purchase subset — the filter
    pushes to the scan), then exact interpolated percentiles over the
    gaps frame (gap-count-sized, not event-sized)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s")
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 2).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 2).alias("p90_gap_s"),
        F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
    )


def _winnow_grams_sql(k: int, w: int) -> str:
    """Shared winnowing CTE prefix for the DuckDB oracles (mirrors
    functions/winnow.py term-for-term: md5 k-gram hashes, ordered-list
    window, rightmost-min selection)."""
    return f"""
    WITH g0 AS (
      SELECT doc_id, text, unnest(generate_series(1, len(text) - {k - 1})) AS pos
      FROM documents WHERE len(text) >= {k}
    ),
    grams AS (
      SELECT doc_id, CAST(pos AS INT) AS pos,
             CAST('0x' || substr(md5(substr(text, CAST(pos AS INT), {k})), 1, 15) AS BIGINT) AS khash
      FROM g0
    ),
    warr AS (
      SELECT doc_id, pos,
             list(khash) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS arr
      FROM grams
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             CAST(pos + {w} - list_position(list_reverse(arr), list_aggregate(arr, 'min')) AS INT) AS pos,
             list_aggregate(arr, 'min') AS fingerprint
      FROM warr WHERE len(arr) = {w}
    )
    """


@query(
    "winnow_fingerprint_index",
    _winnow_grams_sql(12, 8)
    + """
    SELECT fingerprint, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
    FROM fp GROUP BY fingerprint HAVING count(DISTINCT doc_id) >= 5
    ORDER BY fingerprint
    """,
)
def winnow_fingerprint_index(spark, sf_dir):
    """Winnowed fingerprint inverted index (winnow.fingerprint_index,
    Schleimer et al. SIGMOD'03 / MOSS): md5 k-gram hashes, rightmost-min
    per w-window, fingerprint-keyed counts.  Unlike minhash the selection
    is fully deterministic, so an iterative-free corpus fingerprint table
    is hash-certifiable.  One explode + one doc-keyed window shuffle + one
    fingerprint-keyed groupBy; certification projects the shared
    (n_docs >= 5) fingerprints."""
    from kafka_connect_morphlines_spark.functions import winnow

    docs = t(spark, sf_dir, "documents")
    idx = winnow.fingerprint_index(docs, k=12, w=8)
    return idx.filter(F.col("n_docs") >= 5).orderBy("fingerprint")


@query(
    "winnow_overlap_pairs",
    _winnow_grams_sql(16, 8)
    + """
    , fpd AS (SELECT DISTINCT fingerprint, doc_id FROM fp),
    sizes AS (SELECT fingerprint, count(*) AS n FROM fpd GROUP BY fingerprint),
    bounded AS (SELECT fpd.fingerprint, fpd.doc_id
                FROM fpd JOIN sizes USING (fingerprint) WHERE sizes.n <= 50)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fingerprints
    FROM bounded a JOIN bounded b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY id_a, id_b
    """,
)
def winnow_overlap_pairs(spark, sf_dir):
    """Document-overlap screening via shared winnowed fingerprints
    (winnow.overlap_pairs): candidate pairs come from an inverted-index
    self-join — no all-pairs stage — with boilerplate fingerprints capped
    at 50 postings (the LSH mega-bucket lesson).  Guarantee: any shared
    substring >= w + k - 1 = 23 chars yields a shared fingerprint."""
    from kafka_connect_morphlines_spark.functions import winnow

    docs = t(spark, sf_dir, "documents")
    out = winnow.overlap_pairs(docs, k=16, w=8, min_shared=3, max_postings=50)
    return out.orderBy("id_a", "id_b")


@query(
    "normalized_dedup_keys",
    r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS norm_digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY norm_digest
    """,
)
def normalized_dedup_keys(spark, sf_dir):
    """C4-style fuzzy-exact dedup (winnow.normalized_exact_dedup):
    case/punctuation/whitespace variants collapse to byte equality after
    canonicalization; one digest groupBy with map-side combine — the
    cheapest near-dup pass, run before minhash in a layered dedup stack."""
    from kafka_connect_morphlines_spark.functions import winnow

    docs = t(spark, sf_dir, "documents")
    return winnow.normalized_exact_dedup(docs).orderBy("norm_digest")


@query(
    "winnow_containment_pairs",
    _winnow_grams_sql(16, 8)
    + """
    , fpd AS (SELECT DISTINCT fingerprint, doc_id FROM fp),
    counts AS (SELECT doc_id, count(*) AS n_fp FROM fpd GROUP BY doc_id),
    sizes AS (SELECT fingerprint, count(*) AS n FROM fpd GROUP BY fingerprint),
    bounded AS (SELECT fpd.fingerprint, fpd.doc_id
                FROM fpd JOIN sizes USING (fingerprint) WHERE sizes.n <= 50),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fingerprints
      FROM bounded a JOIN bounded b
        ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p.id_a, p.id_b, p.shared_fingerprints,
           ca.n_fp AS n_a, cb.n_fp AS n_b,
           CAST(floor(p.shared_fingerprints / least(ca.n_fp, cb.n_fp) * 1000000 + 0.5) AS BIGINT)
             AS containment_ppm
    FROM pairs p
    JOIN counts ca ON ca.doc_id = p.id_a
    JOIN counts cb ON cb.doc_id = p.id_b
    ORDER BY id_a, id_b
    """,
)
def winnow_containment_pairs(spark, sf_dir):
    """MOSS-style containment scoring (winnow.containment_pairs): overlap
    pairs enriched with per-doc fingerprint counts and
    shared/min(n_a, n_b) as integer ppm (floor idiom, engine-portable).
    Separates substring inclusion from whole-document duplication; the
    count joins are broadcast-able (one row per document)."""
    from kafka_connect_morphlines_spark.functions import winnow

    docs = t(spark, sf_dir, "documents")
    out = winnow.containment_pairs(docs, k=16, w=8, min_shared=3, max_postings=50)
    return out.orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# DSIR importance resampling (functions/dsir.py) — hashed-n-gram
# log-likelihood-ratio data selection (Xie et al., NeurIPS 2023).  Part of
# the beyond-reference training-data pipeline layer; no reference analogue.
# --------------------------------------------------------------------------

_DSIR_WEIGHTS_SQL = """
    WITH d AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), e AS (
      SELECT doc_id, is_tgt,
             CASE WHEN i <= len(toks) THEN toks[i]
                  ELSE toks[i - len(toks)] || ' ' || toks[i - len(toks) + 1]
             END AS gram
      FROM (SELECT doc_id, is_tgt, toks, unnest(range(1, 2 * len(toks))) AS i
            FROM d WHERE len(toks) >= 1)
    ), b AS (
      SELECT doc_id, is_tgt,
             CAST(('0x' || substr(md5('feat/dsir/' || gram), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM e
    ), raw AS (
      SELECT bkt, count(*) AS cr FROM b GROUP BY bkt
    ), tgt AS (
      SELECT bkt, count(*) AS ct FROM b WHERE is_tgt GROUP BY bkt
    ), tot AS (
      SELECT (SELECT sum(cr) FROM raw) AS nr,
             (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt
    ), lam AS (
      SELECT r.bkt,
             CAST(floor(1000 * (ln(coalesce(t.ct, 0) + 1.0) - ln(nt + 4096.0)
                                - ln(r.cr + 1.0) + ln(nr + 4096.0)) + 0.5) AS BIGINT)
               AS lam_milli
      FROM raw r LEFT JOIN tgt t USING (bkt) CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, count(*) AS n_feats, CAST(sum(lam_milli) AS BIGINT) AS logw_milli
      FROM b JOIN lam USING (bkt) GROUP BY doc_id
    )
    SELECT dd.doc_id, coalesce(agg.n_feats, 0) AS n_feats,
           coalesce(agg.logw_milli, 0) AS logw_milli
    FROM documents dd LEFT JOIN agg ON dd.doc_id = agg.doc_id
"""


@query("dsir_importance_weights", _DSIR_WEIGHTS_SQL)
def dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (dsir.importance_weights): hashed
    unigram+bigram bag models for target (lang='en') vs raw, per-document
    BIGINT sum of milli-scaled per-bucket log-likelihood ratios.  One
    codegen index-explode, dim-bounded count tables (broadcast), per-doc
    shuffle carries (id, long) partial sums only."""
    from kafka_connect_morphlines_spark.functions import dsir, ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return dsir.importance_weights(docs, F.col("lang") == "en")


@query(
    "dsir_gumbel_topk",
    "WITH w AS ("
    + _DSIR_WEIGHTS_SQL
    + """
    ), g AS (
      SELECT doc_id,
             CAST(logw_milli
             + CAST(floor(-1000 * ln(-ln(
                 ((CAST(('0x' || substr(md5('gumbel/dsir/' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                   % 1000000) + 0.5) / 1000000.0)) + 0.5) AS BIGINT) AS BIGINT) AS key_milli
      FROM w
    )
    SELECT doc_id, key_milli FROM g ORDER BY key_milli DESC, doc_id LIMIT 100
    """,
)
def dsir_gumbel_topk(spark, sf_dir):
    """DSIR resampling leg (dsir.gumbel_topk): derandomized Gumbel-max
    top-k over the importance weights — exactly sampling k documents
    without replacement proportional to exp(logw).  TakeOrderedAndProject:
    per-partition heaps, only k rows cross the wire."""
    from kafka_connect_morphlines_spark.functions import dsir, ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    w = dsir.importance_weights(docs, F.col("lang") == "en")
    return dsir.gumbel_topk(w, k=100)


@query(
    "ccnet_perplexity_buckets",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ), e AS (
      SELECT doc_id, unnest(toks) AS tkn FROM tok
    ), cnt AS (
      SELECT tkn, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY tkn
    ), tot AS (
      SELECT sum(c) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM cnt
    ), lp AS (
      SELECT e.doc_id, ln((cnt.c + 1.0) / (tot.total + 1.0 * tot.vocab)) AS lp
      FROM e JOIN cnt USING (tkn) CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 6) AS logprob FROM lp GROUP BY doc_id
    ), scored AS (
      SELECT d.doc_id, d.lang, coalesce(agg.n_tokens, 0) AS n_tokens,
             coalesce(agg.logprob, 0.0) AS logprob
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    ), hist AS (
      SELECT lang, logprob, count(*) AS c FROM scored GROUP BY lang, logprob
    ), cum AS (
      SELECT lang, logprob, c,
             sum(c) OVER (PARTITION BY lang ORDER BY logprob DESC) - c AS cb
      FROM hist
    ), tot2 AS (
      SELECT lang, count(*) AS n FROM scored GROUP BY lang
    ), lut AS (
      SELECT cum.lang, cum.logprob,
             1 + CASE WHEN cb >= (n * 1 + 2) // 3 THEN 1 ELSE 0 END
               + CASE WHEN cb >= (n * 2 + 2) // 3 THEN 1 ELSE 0 END AS ppl_bucket
      FROM cum JOIN tot2 USING (lang)
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.logprob, lut.ppl_bucket
    FROM scored s JOIN lut ON s.lang = lut.lang AND s.logprob = lut.logprob
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles per language (Wenzek et
    al. LREC'20; traindata.rank_buckets): each document scored by the
    corpus's own add-one unigram LM (the certified unigram_logprob leg),
    then bucketed by exact per-language rank thresholds computed from the
    score *histogram* — no per-row global window; doc rows shuffle once and
    the threshold LUT joins back broadcast-size."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textstats, traindata

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    scored = textstats.unigram_logprob_df(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    out = traindata.rank_buckets(
        scored, value_col="logprob", group_col="lang", n_buckets=3, out_col="ppl_bucket"
    )
    return out.select("doc_id", "lang", "n_tokens", "logprob", "ppl_bucket")


@query(
    "dedup_keep_best",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source, list_distinct(list_filter(string_split(trim(text), ' '), x -> x != '')) AS toks
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
    reach(id, n) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.id, sym.d FROM reach r JOIN sym ON sym.s = r.n
    ),
    cc AS (SELECT id AS doc_id, min(n) AS component FROM reach GROUP BY id),
    te AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS tkn
      FROM documents
    ), tb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('feat/qclf/' || tkn), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM te
    ), tw AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w/qclf/' || CAST(bkt AS VARCHAR)), 1, 6)) AS BIGINT) % 2001 - 1000 AS wm
      FROM tb
    ), ta AS (
      SELECT doc_id, count(*) AS n_tokens, sum(wm) AS sm FROM tw GROUP BY doc_id
    ), score AS (
      SELECT d.doc_id,
             CASE WHEN coalesce(ta.n_tokens, 0) > 0
                  THEN (CASE WHEN ta.sm < 0 THEN -1 ELSE 1 END
                        * ((abs(ta.sm) * 2000 + ta.n_tokens) // (2 * ta.n_tokens)))
                       / 1000000.0
                  ELSE 0.0 END AS score
      FROM documents d LEFT JOIN ta ON d.doc_id = ta.doc_id
    )
    SELECT cc.doc_id, cc.component, score.score,
           row_number() OVER (PARTITION BY cc.component
                              ORDER BY score.score DESC, cc.doc_id) = 1 AS keep
    FROM cc JOIN score USING (doc_id)
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup collapse (dedup.keep_best_representative):
    connected components over n-gram-Jaccard pairs pick the cluster, the
    hashed linear classifier score picks WHICH copy survives — argmax score
    with doc-id tie-break, deterministic on both engines because the score
    is exact integer arithmetic.  Composition of three certified legs
    (ngram_jaccard_pairs -> connected_components -> qclf score)."""
    from kafka_connect_morphlines_spark.functions import textstats, traindata

    docs = t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, block_col="source", threshold=0.8)
    clusters = traindata.connected_components(edges, docs)
    scores = textstats.hashed_linear_score_df(docs).select("doc_id", "score")
    return dedup.keep_best_representative(clusters, scores).orderBy("doc_id")


@query(
    "dolma_attribute_tags",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','a','in','is','it','that','for','on','with','as','at','by','an','be','this','are','was'],
                       lower(x)))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS unique_token_ratio
      FROM tok
    ),
    g AS (
      SELECT doc_id,
             1.0 - CAST(len(list_distinct([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))])) AS DOUBLE)
                   / (len(toks) - 1) AS dup_gram_frac
      FROM tok WHERE len(toks) >= 2
    ),
    gop AS (
      SELECT doc_id, n_tokens, reasons = '' AS gopher_passed, reasons AS gopher_reasons
      FROM (
        SELECT q.doc_id, q.n_tokens,
               concat_ws(',',
                 CASE WHEN q.n_tokens < 30 THEN 'too_short' END,
                 CASE WHEN q.n_tokens > 50000 THEN 'too_long' END,
                 CASE WHEN q.stopword_ratio < 0.02 THEN 'low_stopword' END,
                 CASE WHEN q.unique_token_ratio < 0.4 THEN 'low_diversity' END,
                 CASE WHEN coalesce(g.dup_gram_frac, 0.0) > 0.05 THEN 'repetitive' END) AS reasons
        FROM q LEFT JOIN g USING (doc_id)
      )
    ),
    te AS (
      SELECT doc_id, unnest(toks) AS tkn FROM tok
    ), tb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('feat/qclf/' || tkn), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM te
    ), tw AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w/qclf/' || CAST(bkt AS VARCHAR)), 1, 6)) AS BIGINT) % 2001 - 1000 AS wm
      FROM tb
    ), ta AS (
      SELECT doc_id, count(*) AS qn, sum(wm) AS sm FROM tw GROUP BY doc_id
    ), qscore AS (
      SELECT d.doc_id,
             CASE WHEN coalesce(ta.qn, 0) > 0
                  THEN (CASE WHEN ta.sm < 0 THEN -1 ELSE 1 END
                        * ((abs(ta.sm) * 2000 + ta.qn) // (2 * ta.qn)))
                       / 1000000.0
                  ELSE 0.0 END AS qclf_score,
             coalesce(ta.sm, 0) > 0 AS qclf_label
      FROM documents d LEFT JOIN ta ON d.doc_id = ta.doc_id
    ),
    cnt AS (
      SELECT tkn, CAST(count(*) AS DOUBLE) AS c FROM te GROUP BY tkn
    ), tot AS (
      SELECT sum(c) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM cnt
    ), lp AS (
      SELECT te.doc_id, ln((cnt.c + 1.0) / (tot.total + 1.0 * tot.vocab)) AS lp
      FROM te JOIN cnt USING (tkn) CROSS JOIN tot
    ), lagg AS (
      SELECT doc_id, round(avg(lp), 6) AS logprob FROM lp GROUP BY doc_id
    ), scored AS (
      SELECT d.doc_id, d.lang, coalesce(lagg.logprob, 0.0) AS logprob
      FROM documents d LEFT JOIN lagg ON d.doc_id = lagg.doc_id
    ), hist AS (
      SELECT lang, logprob, count(*) AS c FROM scored GROUP BY lang, logprob
    ), cum AS (
      SELECT lang, logprob, c,
             sum(c) OVER (PARTITION BY lang ORDER BY logprob DESC) - c AS cb
      FROM hist
    ), tot2 AS (
      SELECT lang, count(*) AS n FROM scored GROUP BY lang
    ), lut AS (
      SELECT cum.lang, cum.logprob,
             1 + CASE WHEN cb >= (n * 1 + 2) // 3 THEN 1 ELSE 0 END
               + CASE WHEN cb >= (n * 2 + 2) // 3 THEN 1 ELSE 0 END AS ppl_bucket
      FROM cum JOIN tot2 USING (lang)
    ), ppl AS (
      SELECT s.doc_id, lut.ppl_bucket
      FROM scored s JOIN lut ON s.lang = lut.lang AND s.logprob = lut.logprob
    )
    SELECT gop.doc_id, gop.n_tokens, gop.gopher_passed, gop.gopher_reasons,
           qscore.qclf_score, qscore.qclf_label, ppl.ppl_bucket,
           (gop.gopher_passed AND qscore.qclf_label AND ppl.ppl_bucket <= 2) AS keep
    FROM gop JOIN qscore USING (doc_id) JOIN ppl USING (doc_id)
    ORDER BY doc_id
    """,
)
def dolma_attribute_tags(spark, sf_dir):
    """Dolma-style attribute tagging (Soldaini et al. 2024): every quality
    signal materialized side-by-side per document — Gopher rule verdict +
    audit reasons, hashed-classifier score/label, CCNet perplexity tercile —
    plus the final keep decision, so filtering is an auditable column
    operation instead of an opaque pipeline.  Composition of three
    certified legs sharing one tokenize scan; each leg's shuffle carries
    (id, small) rows only."""
    from kafka_connect_morphlines_spark.functions import textclean, textstats, traindata

    docs = t(spark, sf_dir, "documents")
    gop = textclean.gopher_filter_df(docs).withColumnRenamed("passed", "gopher_passed").withColumnRenamed(
        "reasons", "gopher_reasons"
    )
    qc = textstats.hashed_linear_score_df(docs).select(
        "doc_id", "n_tokens", F.col("score").alias("qclf_score"), F.col("label").alias("qclf_label")
    )
    ppl = traindata.rank_buckets(
        textstats.unigram_logprob_df(docs).join(docs.select("doc_id", "lang"), "doc_id"),
        value_col="logprob",
        group_col="lang",
        out_col="ppl_bucket",
    ).select("doc_id", "ppl_bucket")
    out = (
        gop.select("doc_id", "gopher_passed", "gopher_reasons")
        .join(qc, "doc_id")
        .join(ppl, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "gopher_passed",
            "gopher_reasons",
            "qclf_score",
            "qclf_label",
            "ppl_bucket",
            (F.col("gopher_passed") & F.col("qclf_label") & (F.col("ppl_bucket") <= 2)).alias("keep"),
        )
    )
    return out.orderBy("doc_id")


@query(
    "line_boilerplate_clean",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*4)+1 : least((i+1)*4, len(toks))], ' ') AS line
      FROM tok, unnest(range(0, CAST(ceil(len(toks) / 4.0) AS BIGINT))) AS u(i)
      WHERE len(toks) > 0
    ),
    boiler AS (
      SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line)
      WHERE df >= 2
    ),
    kept AS (
      SELECT doc_id, pos, line FROM lines WHERE line NOT IN (SELECT line FROM boiler)
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_lines, 0) AS n_lines,
           coalesce(t.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed,
           md5(coalesce(r.clean_text, '')) AS clean_digest
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def line_boilerplate_clean(spark, sf_dir):
    """RefinedWeb-style boilerplate line removal
    (textclean.line_frequency_dedup): every 4-token pseudo-line occurring
    in >= 2 distinct documents is removed from ALL of them, and each doc is
    rebuilt from its surviving lines.  The digest of the rebuilt text is
    certified, so the whole reassembly (order, delimiter, empty-doc
    handling) is pinned, while only 32-byte digests cross to the driver."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    toks = textstats.tokens(F.col("text"))
    nlines = F.ceil(F.size(toks) / F.lit(4)).cast("int")
    pseudo = docs.select(
        "doc_id",
        F.when(F.size(toks) > 0,
               F.concat_ws(
                   "\n",
                   F.transform(
                       F.sequence(F.lit(0), nlines - 1),
                       lambda i: F.concat_ws(" ", F.slice(toks, i * 4 + 1, 4)),
                   ),
               )).otherwise(F.lit("")).alias("text"),
    )
    out = textclean.line_frequency_dedup(pseudo, min_docs=2)
    return out.select(
        "doc_id", "n_lines", "n_removed", F.md5("clean_text").alias("clean_digest")
    ).orderBy("doc_id")


@query(
    "domain_cap_sample",
    """
    WITH te AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS tkn
      FROM documents
    ), tb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('feat/qclf/' || tkn), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM te
    ), tw AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w/qclf/' || CAST(bkt AS VARCHAR)), 1, 6)) AS BIGINT) % 2001 - 1000 AS wm
      FROM tb
    ), ta AS (
      SELECT doc_id, count(*) AS n_tokens, sum(wm) AS sm FROM tw GROUP BY doc_id
    ), score AS (
      SELECT d.doc_id, d.source,
             CASE WHEN coalesce(ta.n_tokens, 0) > 0
                  THEN (CASE WHEN ta.sm < 0 THEN -1 ELSE 1 END
                        * ((abs(ta.sm) * 2000 + ta.n_tokens) // (2 * ta.n_tokens)))
                       / 1000000.0
                  ELSE 0.0 END AS score
      FROM documents d LEFT JOIN ta ON d.doc_id = ta.doc_id
    )
    SELECT doc_id, source, score,
           row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS grp_rank,
           row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) <= 15 AS keep
    FROM score
    ORDER BY doc_id
    """,
)
def domain_cap_sample(spark, sf_dir):
    """RefinedWeb-style per-domain cap (traindata.cap_per_group): keep the
    15 best documents per source by classifier score (doc-id tie-break),
    flagging instead of filtering so the cut is auditable.  ``source``
    rides the scorer's own aggregate (carry_cols) — one documents scan,
    no score-vs-source re-join on doc_id."""
    from kafka_connect_morphlines_spark.functions import textstats, traindata

    docs = t(spark, sf_dir, "documents")
    scored = textstats.hashed_linear_score_df(docs, carry_cols=("source",)).select(
        "doc_id", "source", "score"
    )
    out = traindata.cap_per_group(scored, group_col="source", cap=15, score_col="score")
    return out.select("doc_id", "source", "score", "grp_rank", "keep").orderBy("doc_id")


@query(
    "vocab_growth_curve",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    n AS (SELECT count(*) AS nd FROM documents),
    sliced AS (
      SELECT doc_id, toks,
             1 + CASE WHEN rn0 >= (nd * 1 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 2 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 3 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 4 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 5 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 6 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 7 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 8 + 9) // 10 THEN 1 ELSE 0 END
               + CASE WHEN rn0 >= (nd * 9 + 9) // 10 THEN 1 ELSE 0 END AS bucket
      FROM (SELECT doc_id, toks, row_number() OVER (ORDER BY doc_id) - 1 AS rn0 FROM tok), n
    ),
    slice_tokens AS (
      SELECT bucket, count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      FROM sliced GROUP BY bucket
    ),
    first_seen AS (
      SELECT tkn, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS tkn FROM sliced)
      GROUP BY tkn
    ),
    new_types AS (
      SELECT s.bucket, count(*) AS new_types
      FROM first_seen f JOIN sliced s ON f.first_doc = s.doc_id
      GROUP BY s.bucket
    )
    SELECT st.bucket, st.n_docs, st.n_tokens,
           CAST(sum(st.n_tokens) OVER (ORDER BY st.bucket) AS BIGINT) AS cum_tokens,
           coalesce(nt.new_types, 0) AS new_types,
           CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY st.bucket) AS BIGINT) AS cum_types
    FROM slice_tokens st LEFT JOIN new_types nt ON st.bucket = nt.bucket
    ORDER BY st.bucket
    """,
)
def vocab_growth_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth audit (textstats.vocab_growth): running
    token and distinct-type counts over 10 id-ordered corpus slices, via
    per-slice new-type counts (a type is new exactly where its min doc id
    lands) — no cumulative COUNT(DISTINCT) rescans."""
    from kafka_connect_morphlines_spark.functions import textstats

    out = textstats.vocab_growth(t(spark, sf_dir, "documents"), n_buckets=10)
    return out.orderBy("bucket")


@query(
    "hard_negative_mining",
    """
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                                         c.vec_id ASC) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5 AND c.vec_id >= 5
        AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) < 0.3
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): per query, the 5
    most-similar corpus vectors BELOW the near-duplicate band (cosine <
    0.3 at this sf) — the contrastive-training batch builder."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.hard_negatives(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5),
        k=5, dup_threshold=0.3,
    )
    return out.select("query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank")


@query(
    "embedding_int8_quantize",
    """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           array_to_string(
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END,
             '|') AS qvec
    FROM q ORDER BY vec_id
    """,
)
def embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization (similarity.quantize_int8):
    integer codes are exact on both engines via the floor(x+0.5) idiom, so
    the full code vector is hash-certified (serialized '|'-joined)."""
    out = similarity.quantize_int8(t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.concat_ws("|", F.transform("qvec", lambda x: x.cast("long"))).alias("qvec"),
    ).orderBy("vec_id")


@query(
    "embedding_int8_topk",
    """
    WITH qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS qscale
      FROM embeddings WHERE vec_id = 0
    ),
    qq AS (
      SELECT list_transform(v, x -> CAST(floor(x / qscale + 0.5) AS BIGINT)) AS codes, qscale FROM qv
    ),
    c AS (
      SELECT vec_id,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id != 0
    ),
    cq AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
      FROM c
    )
    SELECT cq.vec_id,
           round(list_dot_product(
               list_transform(cq.codes, x -> CAST(x AS DOUBLE)),
               list_transform(qq.codes, x -> CAST(x AS DOUBLE))
             ) * cq.scale * qq.qscale, 6) AS score
    FROM cq, qq
    ORDER BY list_dot_product(
               list_transform(cq.codes, x -> CAST(x AS DOUBLE)),
               list_transform(qq.codes, x -> CAST(x AS DOUBLE))
             ) * cq.scale * qq.qscale DESC, cq.vec_id ASC
    LIMIT 10
    """,
)
def embedding_int8_topk(spark, sf_dir):
    """ADC-style approximate top-k over int8 codes
    (similarity.int8_topk_adc): exact integer dot x two scales — the
    shortlist scan before exact re-ranking; certified against the same
    quantization unrolled in SQL."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrow[0]["embedding"]] if qrow else []
    quant = similarity.quantize_int8(emb.filter(F.col("vec_id") != 0))
    out = similarity.int8_topk_adc(quant, qvec, k=10)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@query(
    "leakage_safe_split",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source, list_distinct(list_filter(string_split(trim(text), ' '), x -> x != '')) AS toks
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM tok a JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
    reach(id, n) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.id, sym.d FROM reach r JOIN sym ON sym.s = r.n
    ),
    cc AS (SELECT id AS doc_id, min(n) AS component FROM reach GROUP BY id),
    b AS (
      SELECT doc_id, component,
             CAST(('0x' || substr(md5('split/' || CAST(component AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS bkt
      FROM cc
    )
    SELECT doc_id, component,
           CASE WHEN bkt < 9000 THEN 'train' WHEN bkt < 9500 THEN 'val' ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def leakage_safe_split(spark, sf_dir):
    """Cluster-aware train/val/test split (traindata.leakage_safe_split):
    the split hashes the connected-component id, so near-dup pairs can
    never land on opposite sides of the boundary — the in-corpus leakage
    complement to benchmark decontamination.  Composition of two certified
    legs (jaccard pairs -> connected components) plus the certified md5
    split, keyed on the cluster."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, block_col="source", threshold=0.8)
    out = traindata.leakage_safe_split(
        docs, edges, weights={"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.orderBy("doc_id")


@query(
    "line_dedup_within_doc",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*4)+1 : least((i+1)*4, len(toks))], ' ') AS line
      FROM tok, unnest(range(0, CAST(ceil(len(toks) / 4.0) AS BIGINT))) AS u(i)
      WHERE len(toks) > 0
    ),
    firsts AS (
      SELECT doc_id, min(pos) AS pos, arg_min(line, pos) AS line, count(*) AS occ
      FROM lines GROUP BY doc_id, line
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept,
             CAST(sum(occ) AS BIGINT) AS n_lines
      FROM firsts GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.n_lines, 0) AS n_lines,
           coalesce(r.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed,
           md5(coalesce(r.clean_text, '')) AS clean_digest
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def line_dedup_within_doc(spark, sf_dir):
    """Within-document repeated-line cleanup
    (textclean.dedup_lines_within_doc): first occurrence of every 4-token
    pseudo-line survives, repeats inside the same doc are dropped; the
    rebuilt text digest is certified so reassembly order is pinned."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    toks = textstats.tokens(F.col("text"))
    nlines = F.ceil(F.size(toks) / F.lit(4)).cast("int")
    pseudo = docs.select(
        "doc_id",
        F.when(F.size(toks) > 0,
               F.concat_ws(
                   "\n",
                   F.transform(
                       F.sequence(F.lit(0), nlines - 1),
                       lambda i: F.concat_ws(" ", F.slice(toks, i * 4 + 1, 4)),
                   ),
               )).otherwise(F.lit("")).alias("text"),
    )
    out = textclean.dedup_lines_within_doc(pseudo)
    return out.select(
        "doc_id", "n_lines", "n_removed", F.md5("clean_text").alias("clean_digest")
    ).orderBy("doc_id")


@query(
    "dataset_card_by_source",
    """
    WITH tok AS (
      SELECT doc_id, source, lang,
             list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, lang, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_types
      FROM tok
    ),
    te AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS tkn
      FROM documents
    ), tb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('feat/qclf/' || tkn), 1, 6)) AS BIGINT) % 4096 AS bkt
      FROM te
    ), tw AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w/qclf/' || CAST(bkt AS VARCHAR)), 1, 6)) AS BIGINT) % 2001 - 1000 AS wm
      FROM tb
    ), ta AS (
      SELECT doc_id, count(*) AS n_tokens, sum(wm) AS sm FROM tw GROUP BY doc_id
    ), score AS (
      SELECT d.doc_id,
             CASE WHEN coalesce(ta.n_tokens, 0) > 0
                  THEN (CASE WHEN ta.sm < 0 THEN -1 ELSE 1 END
                        * ((abs(ta.sm) * 2000 + ta.n_tokens) // (2 * ta.n_tokens)))
                       / 1000000.0
                  ELSE 0.0 END AS score
      FROM documents d LEFT JOIN ta ON d.doc_id = ta.doc_id
    ),
    dig AS (
      SELECT doc_id, source, md5(text) AS dg FROM documents
    ),
    dup AS (
      SELECT source, count(*) AS n_docs, count(DISTINCT dg) AS n_distinct FROM dig GROUP BY source
    )
    SELECT q.source,
           count(*) AS n_docs,
           CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT q.lang) AS n_langs,
           CAST(round(sum(CAST(q.n_tokens AS DECIMAL(23,6))) / count(*), 2) AS DOUBLE) AS avg_tokens,
           CAST(round(sum(CAST(s.score AS DECIMAL(23,6))) / count(*), 6) AS DOUBLE) AS avg_qclf,
           max(dup.n_docs - dup.n_distinct) AS n_exact_dups
    FROM q JOIN score s USING (doc_id) JOIN dup ON q.source = dup.source
    GROUP BY q.source
    ORDER BY q.source
    """,
)
def dataset_card_by_source(spark, sf_dir):
    """Dataset-card summary per source (the release-audit table a corpus
    ships with): doc and token counts, language spread, mean classifier
    quality (decimal-exact mean), and exact-duplicate counts — every
    signal from certified legs, aggregated source-level so the output is
    source-cardinality-sized regardless of corpus size."""
    from kafka_connect_morphlines_spark.functions import textstats

    docs = t(spark, sf_dir, "documents")
    # One scorer scan yields n_tokens AND score with source/lang riding the
    # aggregate (carry_cols) — no second tokenize scan, no doc_id re-join.
    scored = textstats.hashed_linear_score_df(docs, carry_cols=("source", "lang"))
    dup = (
        docs.select("source", F.md5("text").alias("dg"))
        .groupBy("source")
        .agg((F.count(F.lit(1)) - F.countDistinct("dg")).alias("n_exact_dups"))
    )
    card = (
        scored
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                F.sum(F.col("n_tokens").cast("decimal(23,6)")) / F.count(F.lit(1)), 2
            ).cast("double").alias("avg_tokens"),
            F.round(
                F.sum(F.col("score").cast("decimal(23,6)")) / F.count(F.lit(1)), 6
            ).cast("double").alias("avg_qclf"),
        )
        .join(dup, "source")
    )
    return card.select(
        "source", "n_docs", "total_tokens", "n_langs", "avg_tokens", "avg_qclf", "n_exact_dups"
    ).orderBy("source")


def _pii_scan_oracle_sql() -> str:
    """Per-type regexp_count chain generated from the SAME pattern table
    (see _pii_oracle_sql) — counts on the progressively-redacted text so
    overlapping patterns (SSN vs phone) attribute the way redaction does."""
    from kafka_connect_morphlines_spark.functions.textclean import PII_PATTERNS

    type_names = {"<EMAIL>": "n_email", "<SSN>": "n_ssn", "<PHONE>": "n_phone", "<IP>": "n_ip"}
    remaining = "text"
    counts = []
    for pattern, repl in PII_PATTERNS:
        p = pattern.replace("'", "''")
        counts.append(f"len(regexp_extract_all({remaining}, '{p}')) AS {type_names[repl]}")
        remaining = f"regexp_replace({remaining}, '{p}', '{repl}', 'g')"
    inner = ", ".join(counts)
    return f"""
    WITH per_doc AS (SELECT doc_id, {inner} FROM documents)
    SELECT count(*) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS emails, CAST(sum(n_ssn) AS BIGINT) AS ssns,
           CAST(sum(n_phone) AS BIGINT) AS phones, CAST(sum(n_ip) AS BIGINT) AS ips,
           CAST(sum(CASE WHEN n_email + n_ssn + n_phone + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
    FROM per_doc
    """


@query("pii_scan_summary", None)  # oracle attached below (generated)
def pii_scan_summary(spark, sf_dir):
    """Corpus PII audit (textclean.pii_scan): per-type totals plus the
    affected-document count — the release gate run BEFORE redaction, from
    the same pattern table so scan and scrub cannot disagree."""
    from kafka_connect_morphlines_spark.functions import textclean

    per_doc = textclean.pii_scan(t(spark, sf_dir, "documents"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ssn").alias("ssns"),
        F.sum("n_phone").alias("phones"),
        F.sum("n_ip").alias("ips"),
        F.sum(
            ((F.col("n_email") + F.col("n_ssn") + F.col("n_phone") + F.col("n_ip")) > 0).cast("int")
        ).alias("docs_with_pii"),
    )


QUERIES["pii_scan_summary"] = QuerySpec(build=pii_scan_summary, oracle=_pii_scan_oracle_sql())


@query(
    "url_blocklist_filter",
    """
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'http://news.example.org/a/' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'http://ads.tracker.net/pix/' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'https://tracker.net:443/c/' || CAST(doc_id AS VARCHAR)
          ELSE 'https://cdn.safe-tracker.net/x/' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id, url,
             lower(regexp_replace(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1), ':[0-9]+$', '')) AS host
      FROM u
    )
    SELECT doc_id, host,
           EXISTS (
             SELECT 1 FROM (VALUES ('tracker.net'), ('spam.example')) b(domain)
             WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain
           ) AS blocked
    FROM h ORDER BY doc_id
    """,
)
def url_blocklist_filter(spark, sf_dir):
    """URL blocklist filtering with subdomain semantics (web.blocklist_filter):
    ads.tracker.net and tracker.net are blocked by the 'tracker.net' entry,
    cdn.safe-tracker.net is NOT (suffix must align on a label boundary —
    the classic blocklist false-positive).  Suffix-explode + broadcast
    equality join; no regex-per-pattern scan."""
    from kafka_connect_morphlines_spark.functions import web

    docs = t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.element_at(
                F.array(
                    F.lit("http://news.example.org/a/"),
                    F.lit("http://ads.tracker.net/pix/"),
                    F.lit("https://tracker.net:443/c/"),
                    F.lit("https://cdn.safe-tracker.net/x/"),
                ),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl = docs.sparkSession.createDataFrame(
        [("tracker.net",), ("spam.example",)], "domain string"
    )
    out = web.blocklist_filter(urls, bl)
    return out.select("doc_id", "host", "blocked").orderBy("doc_id")


# --------------------------------------------------------------------------
# Round-4 session additions: bloom semi-join prefilter, SSL-prototype
# pruning (D4), Jaro-Winkler record linkage.
# --------------------------------------------------------------------------


@query(
    "bloom_semi_join_orders",
    """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(23,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    )
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def bloom_semi_join_orders(spark, sf_dir):
    """Bloom-prefiltered semi join (bloom.semi_join_prefilter): orders of
    AUTOMOBILE-segment customers.  The fact side is probed against a
    broadcast bloom of the selected customer keys (map-only) before the
    exact verify semi join, so at scale only ~matches + fpp of the fact
    table reach the shuffle — exact LEFT SEMI semantics (the verify join
    removes bloom false positives), hence fully oracle-able."""
    from kafka_connect_morphlines_spark.functions import bloom

    orders = t(spark, sf_dir, "orders")
    autos = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "AUTOMOBILE")
    kept = bloom.semi_join_prefilter(
        orders, F.col("o_custkey"), autos, F.col("c_custkey"), fpp=0.01
    )
    return (
        kept.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("priority")
    )


@query(
    "ssl_prototype_prune",
    """
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings ORDER BY vec_id LIMIT 32
    ),
    a AS (
      SELECT vec_id, cid,
             round(list_cosine_similarity(ev, cv), 6) AS cos
      FROM (
        SELECT e.vec_id, c.cid, CAST(e.embedding AS DOUBLE[]) AS ev, c.cv,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c
      ) WHERE rn = 1
    ),
    r AS (
      SELECT vec_id, cid, cos,
             row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id ASC) AS rk,
             count(*) OVER (PARTITION BY cid) AS n
      FROM a
    )
    SELECT vec_id, cid AS centroid, cos AS proto_cos
    FROM r WHERE rk > ceil(0.1 * n)
    ORDER BY vec_id
    """,
)
def ssl_prototype_prune(spark, sf_dir):
    """SSL-Prototypes pruning (semantic.prototype_prune, the D4 recipe,
    arXiv:2308.12284): per embedding cluster, drop the 10% of examples
    closest to their centroid (the redundant prototypical core), keep the
    informative periphery.  One broadcast-assign matmul + one window rank
    per cluster — a single shuffle on the cluster id.  Rank uses the
    6dp-rounded cosine with an id tie-break so the cutoff is
    boundary-stable across engines."""
    from kafka_connect_morphlines_spark.functions import semantic

    emb = t(spark, sf_dir, "embeddings")
    cents = similarity.deterministic_centroids(emb, 32)
    kept = semantic.prototype_prune(emb, cents, frac=0.1)
    return kept.select("vec_id", "centroid", "proto_cos").orderBy("vec_id")


@query(
    "jaro_winkler_linkage",
    """
    WITH n AS (SELECT DISTINCT lower(trim(p_name)) AS name FROM part)
    SELECT a.name AS l_id, b.name AS r_id,
           round(jaro_winkler_similarity(a.name, b.name), 6) AS jw_sim
    FROM n a JOIN n b
      ON a.name < b.name
     AND jaro_winkler_similarity(a.name, b.name) >= 0.85
    ORDER BY l_id, r_id
    """,
)
def jaro_winkler_linkage(spark, sf_dir):
    """Jaro-Winkler record linkage (relational.jaro_winkler_join): name
    pairs with JW >= 0.85 via q-gram inverted-index blocking + vectorized
    JW verify on candidates only, over DISTINCT names (dedup-first,
    SCALE.md lesson 2).  The oracle is DuckDB's exact all-pairs
    jaro_winkler_similarity join, so it certifies both the metric's
    definition parity and the blocking's recall on this corpus."""
    from kafka_connect_morphlines_spark.functions import relational

    names = (
        t(spark, sf_dir, "part")
        .select(F.lower(F.trim(F.col("p_name"))).alias("name"))
        .distinct()
    )
    out = relational.jaro_winkler_join(
        names, names, "name", "name", "name", "name", threshold=0.85, q=2
    )
    return out.filter(F.col("l_id") < F.col("r_id")).orderBy("l_id", "r_id")


_ULM_MAXLEN = 8  # corpus max word length (the DP/backtrace unroll bound)


def _ulm_em_ctes(rname: str, vin: str, max_piece_len: int, with_freq: bool) -> list:
    """CTEs for one Viterbi pass under vocab ``vin``'s probs: probs ->
    piece-match table -> position DP (unrolled to _ULM_MAXLEN, tie-break
    score DESC / split-point ASC == the reference's longer-last-piece
    rule) -> backtrace walk emitting (w[, freq], piece, start)."""
    tname = f"ut{rname}"
    out = [
        f"""{tname} AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM {vin})""",
        f"""upr{rname} AS MATERIALIZED (
      SELECT p, CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE) AS prob
      FROM {vin}, {tname} t WHERE c > 0
    )""",
        f"""uwm{rname} AS MATERIALIZED (
      SELECT s.w, s.j, s.i, pr.prob
      FROM uwsp s JOIN upr{rname} pr ON pr.p = s.piece
    )""",
        f"""ub{rname}p0 AS (SELECT w, CAST(1.0 AS DOUBLE) AS best, 0 AS back FROM uw0)""",
    ]
    for i in range(1, _ULM_MAXLEN + 1):
        joins = []
        for j in range(max(0, i - max_piece_len), i):
            joins.append(
                f"""SELECT m.w, {j} AS j, b.best * m.prob AS score
        FROM uwm{rname} m JOIN ub{rname}p{j} b ON b.w = m.w
        WHERE m.j = {j} AND m.i = {i}"""
            )
        uni = "\n        UNION ALL ".join(joins)
        out.append(
            f"""ub{rname}p{i} AS MATERIALIZED (
      SELECT w, score AS best, j AS back FROM (
        SELECT w, j, score, row_number() OVER (PARTITION BY w ORDER BY score DESC, j ASC) AS rn
        FROM ({uni})
      ) WHERE rn = 1
    )"""
        )
    bt_uni = "\n        UNION ALL ".join(
        f"SELECT w, {i} AS i, back FROM ub{rname}p{i}" for i in range(1, _ULM_MAXLEN + 1)
    )
    out.append(f"""ubt{rname} AS MATERIALIZED ({bt_uni})""")
    fcol = ", f.freq" if with_freq else ""
    out.append(
        f"""us{rname}k0 AS (SELECT f.w{fcol}, len(f.w) AS pos FROM uw0 f)"""
    )
    scol = ", s.freq" if with_freq else ""
    for k in range(_ULM_MAXLEN):
        out.append(
            f"""us{rname}k{k + 1} AS MATERIALIZED (
      SELECT s.w{scol}, b.back AS pos, substr(s.w, b.back + 1, s.pos - b.back) AS piece,
             b.back AS start
      FROM us{rname}k{k} s JOIN ubt{rname} b ON b.w = s.w AND b.i = s.pos
      WHERE s.pos > 0
    )"""
        )
    pcols = "w, freq, piece, start" if with_freq else "w, piece, start"
    pc_uni = "\n        UNION ALL ".join(
        f"SELECT {pcols} FROM us{rname}k{k + 1}" for k in range(_ULM_MAXLEN)
    )
    out.append(f"""upc{rname} AS MATERIALIZED ({pc_uni})""")
    return out


def _ulm_train_ctes(n_iter: int = 2, vocab_size: int = 64, max_piece_len: int = 4, seed_mult: int = 4) -> list:
    """Replays the ENTIRE unigram-LM Viterbi-EM fit of
    traindata.unigram_lm_train_prob in SQL: substring seeding, ``n_iter``
    EM rounds (Viterbi E-step = the unrolled DP; M-step = integer
    freq-weighted counts with the chars-never-die floor), vocab_size
    pruning, one final EM round — ending in uvf (final counts) + utf
    (final total).  Certifiable because the prob twin scores paths as
    products of count/total doubles: every op in that chain is a
    correctly-rounded IEEE op all engines perform identically (the ln()
    the log-domain production path uses is exactly the op that is NOT)."""
    ctes = [
        r"""uw0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS w
        FROM documents)
      GROUP BY w ORDER BY freq DESC, w LIMIT 50000
    )""",
        f"""uws AS MATERIALIZED (
      SELECT w, j, unnest(range(j + 1, least(j + {max_piece_len}, len(w)) + 1)) AS i
      FROM (SELECT w, unnest(range(0, len(w))) AS j FROM uw0)
    )""",
        """uwsp AS MATERIALIZED (
      SELECT w, j, i, substr(w, j + 1, i - j) AS piece FROM uws
    )""",
        """useed AS MATERIALIZED (
      SELECT s.piece AS p, CAST(sum(f.freq) AS BIGINT) AS c
      FROM uwsp s JOIN uw0 f USING (w) GROUP BY s.piece
    )""",
        f"""uv0 AS MATERIALIZED (
      SELECT p, c FROM useed WHERE len(p) = 1
      UNION ALL
      SELECT p, c FROM (
        SELECT p, c FROM useed WHERE len(p) > 1
        ORDER BY c DESC, p LIMIT {seed_mult * vocab_size})
    )""",
    ]

    def vnext(rname: str, vin: str, vout: str) -> list:
        return [
            f"""ucnt{rname} AS MATERIALIZED (
      SELECT piece AS p, CAST(sum(freq) AS BIGINT) AS c FROM upc{rname} GROUP BY piece
    )""",
            f"""{vout} AS MATERIALIZED (
      SELECT p, c FROM (
        SELECT v.p,
               CASE WHEN len(v.p) = 1 THEN greatest(coalesce(c.c, 0), 1)
                    ELSE coalesce(c.c, 0) END AS c
        FROM {vin} v LEFT JOIN ucnt{rname} c USING (p)
      ) WHERE c > 0
    )""",
        ]

    for r in range(n_iter):
        ctes += _ulm_em_ctes(f"r{r}", f"uv{r}", max_piece_len, with_freq=True)
        ctes += vnext(f"r{r}", f"uv{r}", f"uv{r + 1}")
    ctes += [
        f"""unch AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uv{n_iter} WHERE len(p) = 1)""",
        f"""uvp AS MATERIALIZED (
      SELECT p, c FROM uv{n_iter} WHERE len(p) = 1
      UNION ALL
      SELECT p, c FROM (
        SELECT p, c, row_number() OVER (ORDER BY c DESC, p) AS rn
        FROM uv{n_iter} WHERE len(p) > 1
      ), unch WHERE rn <= greatest({vocab_size} - unch.n, 0)
    )""",
    ]
    ctes += _ulm_em_ctes("rf", "uvp", max_piece_len, with_freq=True)
    ctes += vnext("rf", "uvp", "uvf")
    ctes += ["""utf AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uvf)"""]
    return ctes


def _ulm_vocab_oracle_sql(n_iter: int = 2) -> str:
    body = ",\n    ".join(_ulm_train_ctes(n_iter=n_iter))
    return f"""
    WITH {body}
    SELECT CAST(row_number() OVER (ORDER BY c DESC, p) - 1 AS INT) AS rank,
           p AS piece, CAST(len(p) AS INT) AS piece_len, c AS count,
           round(CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS prob
    FROM uvf, utf t
    ORDER BY rank
    """


def _ulm_encode_oracle_sql(n_iter: int = 2, max_piece_len: int = 4) -> str:
    ctes = _ulm_train_ctes(n_iter=n_iter, max_piece_len=max_piece_len)
    ctes += _ulm_em_ctes("E", "uvf", max_piece_len, with_freq=False)
    ctes += [
        """uwtE AS MATERIALIZED (
      SELECT w, list(piece ORDER BY start) AS toks FROM upcE GROUP BY w
    )""",
        r"""udocs AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
            FROM documents WHERE doc_id < 50)
    )""",
        """uagg AS (
      SELECT d.doc_id, CAST(sum(len(t.toks)) AS INT) AS n_pieces,
             array_to_string(list_slice(flatten(list(t.toks ORDER BY d.pos)), 1, 8), '|') AS head_pieces
      FROM udocs d JOIN uwtE t USING (w) GROUP BY d.doc_id
    )""",
    ]
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT doc.doc_id, coalesce(uagg.n_pieces, 0) AS n_pieces,
           coalesce(uagg.head_pieces, '') AS head_pieces
    FROM (SELECT doc_id FROM documents WHERE doc_id < 50) doc
    LEFT JOIN uagg USING (doc_id)
    ORDER BY doc.doc_id
    """


@query("unigram_lm_vocab", _ulm_vocab_oracle_sql())
def unigram_lm_vocab(spark, sf_dir):
    """Unigram-LM tokenizer training (the SentencePiece model,
    Viterbi-EM).  PROMOTED from rows-only in r08 via the
    probability-product twin (traindata.unigram_lm_train_prob): path
    scores are products of count/total doubles — int->double conversion,
    division and multiplication are all correctly-rounded IEEE ops every
    engine performs identically, unlike the libm ln() of the log-domain
    production path — so the unrolled SQL oracle replays the ENTIRE fit:
    substring seeding, 2 EM rounds of per-word Viterbi DP (positions
    unrolled to the corpus' 8-char words), chars-never-die count floors,
    vocab pruning, final round.  Output prob = count/total rounded 6dp
    in Spark (half-up parity).  Pytest pins the distributed twin against
    unigram_lm_reference_prob; the log-domain unigram_lm_train stays the
    production default."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.unigram_lm_train_prob(docs, vocab_size=64, n_iter=2).orderBy("rank")


@query("unigram_lm_encode_sample", _ulm_encode_oracle_sql())
def unigram_lm_encode_sample(spark, sf_dir):
    """Unigram-LM encode with the self-trained vocabulary
    (traindata.unigram_lm_encode_prob after unigram_lm_train_prob):
    piece counts + first pieces for the 50 lowest-id docs.  PROMOTED
    from rows-only in r08: the oracle replays train AND the encode-time
    Viterbi pass (probs rebuilt exactly as count/total from the final
    integer counts), reassembling pieces in word order via the
    backtrace's start positions."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    vocab = traindata.unigram_lm_train_prob(docs, vocab_size=64, n_iter=2)
    enc = traindata.unigram_lm_encode_prob(docs.filter(F.col("doc_id") < 50), vocab)
    return enc.select(
        "doc_id",
        "n_pieces",
        F.concat_ws("|", F.slice("pieces", 1, 8)).alias("head_pieces"),
    ).orderBy("doc_id")


def _pcaw_oracle_sql(
    out_dim: int = 8, n_iter: int = 4, scale: int = 1024, unit: int = 1 << 20, d: int = 64
) -> str:
    """Replays similarity.pca_whiten_int END TO END: lattice centering
    (mu = floor(colsum/n)), exact-integer centered second moment, then
    per component 4 L-inf power rounds + Hotelling deflation
    C -= floor(u_i*u_j/D) with the products taken in doubles (the
    correctly-rounded-IEEE argument in the function docstring), sign
    convention, and the exact-int projection divided by
    |v|_2 * sqrt(m/unit/n + 1e-9) — every float op mirrored
    operation-for-operation."""
    q = f"CAST(floor(CAST(embedding[j] AS DOUBLE) * {scale} + 0.5) AS BIGINT)"
    uf = float(unit)
    ctes = [
        f"""xq AS MATERIALIZED (
      SELECT vec_id, CAST(j - 1 AS INT) AS j, {q} AS xv
      FROM embeddings, range(1, {d + 1}) t(j)
    )""",
        """nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)""",
        """mu AS MATERIALIZED (
      SELECT j, CAST(floor(CAST(sum(xv) AS DOUBLE) / CAST((SELECT n FROM nr) AS DOUBLE)) AS BIGINT) AS mq
      FROM xq GROUP BY j
    )""",
        """s0 AS MATERIALIZED (
      SELECT a.j AS i, b.j AS j, CAST(sum(a.xv * b.xv) AS BIGINT) AS s
      FROM xq a JOIN xq b USING (vec_id) GROUP BY a.j, b.j
    )""",
        """cm0 AS MATERIALIZED (
      SELECT s0.i, s0.j, s0.s - (SELECT n FROM nr) * ma.mq * mb.mq AS c
      FROM s0 JOIN mu ma ON ma.j = s0.i JOIN mu mb ON mb.j = s0.j
    )""",
    ]
    for comp in range(out_dim):
        ctes.append(
            f"""v{comp}r0 AS (SELECT CAST(j AS INT) AS j, CAST({unit} AS BIGINT) AS v
              FROM range(0, {d}) t(j))"""
        )
        for it in range(1, n_iter + 1):
            ctes += [
                f"""w{comp}r{it} AS MATERIALIZED (
      SELECT m.i AS j, CAST(sum(m.c * v.v) AS BIGINT) AS w
      FROM cm{comp} m JOIN v{comp}r{it - 1} v ON v.j = m.j GROUP BY m.i
    )""",
                f"""m{comp}r{it} AS (SELECT max(abs(w)) AS m FROM w{comp}r{it})""",
                f"""v{comp}r{it} AS MATERIALIZED (
      SELECT j, CAST(floor(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * {unit}) AS BIGINT) AS v
      FROM w{comp}r{it}, m{comp}r{it}
    )""",
            ]
        ctes += [
            f"""u{comp} AS MATERIALIZED (
      SELECT m.i, CAST(sum(m.c * v.v) AS BIGINT) AS u
      FROM cm{comp} m JOIN v{comp}r{n_iter} v ON v.j = m.j GROUP BY m.i
    )""",
            f"""dd{comp} AS (
      SELECT sum(CAST(v.v AS HUGEINT) * u.u) AS dd
      FROM v{comp}r{n_iter} v JOIN u{comp} u ON u.i = v.j
    )""",
            f"""sg{comp} AS (
      SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg FROM (
        SELECT j, v FROM v{comp}r{n_iter} ORDER BY abs(v) DESC, j ASC LIMIT 1)
    )""",
            f"""vs{comp} AS MATERIALIZED (
      SELECT v.j, sg.sg * v.v AS v FROM v{comp}r{n_iter} v, sg{comp} sg
    )""",
            f"""sc{comp} AS (
      SELECT (SELECT m FROM m{comp}r{n_iter}) AS m,
             (SELECT CAST(sum(v * v) AS BIGINT) FROM vs{comp}) AS sv2
    )""",
            f"""cm{comp + 1} AS MATERIALIZED (
      SELECT m.i, m.j,
             CASE WHEN d.dd = 0 THEN m.c
                  ELSE m.c - CAST(floor(CAST(a.u AS DOUBLE) * CAST(b.u AS DOUBLE)
                                        / CAST(d.dd AS DOUBLE)) AS BIGINT) END AS c
      FROM cm{comp} m JOIN u{comp} a ON a.i = m.i JOIN u{comp} b ON b.i = m.j, dd{comp} d
    )""",
        ]
    projs = []
    for comp in range(out_dim):
        projs.append(
            f"""SELECT x.vec_id, {comp} AS component,
             round(CAST(CAST(sum((x.xv - m.mq) * v.v) AS BIGINT) AS DOUBLE)
                   / (sqrt(CAST(sc.sv2 AS DOUBLE))
                      * sqrt(CAST(sc.m AS DOUBLE) / {uf!r} / CAST((SELECT n FROM nr) AS DOUBLE) + 1e-09)), 6) AS value
      FROM xq x JOIN mu m ON m.j = x.j JOIN vs{comp} v ON v.j = x.j, sc{comp} sc
      GROUP BY x.vec_id, sc.sv2, sc.m"""
        )
    uni = "\n      UNION ALL ".join(projs)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT vec_id, component, value FROM ({uni})
    ORDER BY vec_id, component
    """


@query("embedding_pca_whiten", _pcaw_oracle_sql())
def embedding_pca_whiten(spark, sf_dir):
    """PCA whitening.  PROMOTED from rows-only in r08 via the quantized
    power-iteration + Hotelling-deflation twin (similarity.pca_whiten_int):
    all eight components and the whitened projection are computed with
    integer lattice arithmetic plus correctly-rounded IEEE casts/divides/
    sqrts that every engine performs identically, so the unrolled SQL
    oracle replays the ENTIRE fit + transform.  The eigh-based
    similarity.pca_whiten stays the float production path (pytest pins
    its variance/orthogonality); long-format output so the driver hashes
    doubles, not float rendering."""
    from kafka_connect_morphlines_spark.functions import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    return sim.pca_whiten_int(emb, out_dim=8)


def _power_oracle_sql(
    d: int = 64, n_iter: int = 4, scale: int = 1024, unit: int = 1 << 20
) -> str:
    """Replays the ENTIRE quantized power iteration in SQL: lattice
    quantization, exact-integer S = Xq^T Xq, n_iter rounds of integer
    matvec + one correctly-rounded double division per coordinate
    (times a power-of-two unit — exact), then the same
    largest-|v|/smallest-index sign convention.  See
    similarity.power_component_int for the bit-for-bit argument."""
    q = f"CAST(floor(CAST(embedding[j] AS DOUBLE) * {scale} + 0.5) AS BIGINT)"
    ctes = [
        f"""xq AS (
      SELECT vec_id, CAST(j - 1 AS INT) AS j, {q} AS xv
      FROM embeddings, range(1, {d + 1}) t(j)
    )""",
        """s AS (
      SELECT a.j AS i, b.j AS j, CAST(sum(a.xv * b.xv) AS BIGINT) AS s
      FROM xq a JOIN xq b USING (vec_id) GROUP BY a.j, b.j
    )""",
        f"""v0 AS (SELECT CAST(j AS INT) AS j, CAST({unit} AS BIGINT) AS v
              FROM range(0, {d}) t(j))""",
    ]
    for it in range(n_iter):
        ctes += [
            f"""w{it} AS (
      SELECT s.i AS j, sum(CAST(s.s AS HUGEINT) * v.v) AS w
      FROM s JOIN v{it} v ON v.j = s.j GROUP BY s.i
    )""",
            f"""m{it} AS (SELECT max(abs(w)) AS m FROM w{it})""",
            f"""v{it + 1} AS (
      SELECT j, CAST(floor(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * {unit}) AS BIGINT) AS v
      FROM w{it}, m{it}
    )""",
        ]
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    jstar AS (
      SELECT j, v FROM v{n_iter}
      ORDER BY abs(v) DESC, j ASC LIMIT 1
    ),
    sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg FROM jstar)
    SELECT vf.j,
           round(CAST(sg * vf.v AS DOUBLE) / {float(unit)!r}, 6) AS loading,
           round(CAST(mf.m AS DOUBLE) / {float(unit)!r}, 3) AS lambda_hat
    FROM v{n_iter} vf, m{n_iter - 1} mf, sgn
    ORDER BY vf.j
    """


@query("pca_power_component", _power_oracle_sql())
def pca_power_component(spark, sf_dir):
    """Dominant principal direction via quantized power iteration
    (similarity.power_component_int) — the certifiable twin of the eigen
    step inside pca_whiten, same float-production/int-certified split as
    kmeans_fit vs kmeans_fit_int.  The d x d second-moment matrix is
    accumulated distributed in ONE Arrow pass (exact integer partials,
    bounded d^2 driver state); 4 L-infinity-normalized power rounds are
    then pure integer matvecs plus one correctly-rounded division per
    coordinate, replayed exactly by the unrolled SQL oracle.  Promotes
    the eigen family from "no oracle by nature" to hash-certified for
    the top component."""
    from kafka_connect_morphlines_spark.functions import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    return sim.power_component_int(emb, n_iter=4)


# --------------------------------------------------------------------------
# Evaluation-metrics family (functions/evalmetrics.py): the measurement half
# of a training-data pipeline — grade quality/lang predictions against
# labels with exact-integer arithmetic so every ratio is engine-portable.
# --------------------------------------------------------------------------


@query(
    "roc_auc_purchase",
    """
    WITH s AS (
      SELECT CAST(floor(value) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    ps AS (
      SELECT s, CAST(sum(y) AS BIGINT) AS np_s, CAST(sum(1 - y) AS BIGINT) AS nn_s
      FROM s GROUP BY s
    ),
    r AS (
      SELECT s, np_s, nn_s,
             CAST(coalesce(sum(np_s + nn_s) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
      FROM ps
    )
    SELECT CAST(sum(np_s) AS BIGINT) AS n_pos, CAST(sum(nn_s) AS BIGINT) AS n_neg,
           round(CAST(sum(np_s * (2 * before + np_s + nn_s + 1))
                      - sum(np_s) * (sum(np_s) + 1) AS DOUBLE)
                 / CAST(2 * sum(np_s) * sum(nn_s) AS DOUBLE), 6) AS auc
    FROM r
    """,
)
def roc_auc_purchase(spark, sf_dir):
    """Distributed ROC-AUC (evalmetrics.binary_rank_auc): does event value
    predict a purchase?  Mann-Whitney rank form with exact average-rank tie
    handling on 2x-scaled integers.  The score is quantized (floor) so the
    cumulative pass runs over distinct score values only — two codegen
    aggregations + one bounded window, no all-pairs anything."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    return evalmetrics.binary_rank_auc(
        ev, F.floor(F.col("value")).cast("long"), F.col("event_type") == "purchase"
    )


@query(
    "calibration_bins_purchase",
    """
    WITH s AS (
      SELECT CAST(floor(value) AS BIGINT) / 500.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    b AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(score AS DECIMAL(38,12))) AS ssum,
             CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY 1
    )
    SELECT bin, n,
           round(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_score,
           round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate
    FROM b ORDER BY bin
    """,
)
def calibration_bins_purchase(spark, sf_dir):
    """Reliability diagram (evalmetrics.calibration_table): equal-width
    bins of a [0,1] score vs exact positive rate — one codegen aggregate
    (map-side combined), DECIMAL score accumulation so the bin means are
    partition-invariant."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    score = F.floor(F.col("value")).cast("long") / F.lit(500.0)
    return evalmetrics.calibration_table(
        ev, score, F.col("event_type") == "purchase", bins=10
    )


@query(
    "pr_threshold_metrics",
    """
    WITH th AS (SELECT CAST(v AS DOUBLE) AS threshold
                FROM (VALUES (50.0), (100.0), (200.0), (300.0), (400.0)) t(v)),
    c AS (
      SELECT threshold,
             CAST(sum(CASE WHEN value >= threshold AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN value >= threshold AND event_type != 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN value < threshold AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN value < threshold AND event_type != 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM events CROSS JOIN th GROUP BY threshold
    )
    SELECT threshold, tp, fp, fn, tn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
    FROM c ORDER BY threshold
    """,
)
def pr_threshold_metrics(spark, sf_dir):
    """PR curve at fixed thresholds (evalmetrics.threshold_metrics): exact
    confusion counts per threshold from ONE scan — the 5-row threshold
    table is broadcast-cross-joined, F1 in its all-integer
    2TP/(2TP+FP+FN) form."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    return evalmetrics.threshold_metrics(
        ev,
        F.col("value"),
        F.col("event_type") == "purchase",
        [50.0, 100.0, 200.0, 300.0, 400.0],
    )


def _kappa_oracle_sql() -> str:
    """Cohen's kappa between ground-truth lang and the lang-id heuristic,
    reusing the generated lang_id oracle as the second rater so the two
    certification paths cannot drift."""
    pred = lang_id_oracle_sql()
    return f"""
    WITH pred AS ({pred}),
    pairs AS (
      SELECT d.lang AS a, p.lang_pred AS b
      FROM documents d JOIN pred p USING (doc_id)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM pairs
    ),
    ma AS (SELECT a AS cls, CAST(count(*) AS BIGINT) AS na FROM pairs GROUP BY a),
    mb AS (SELECT b AS cls, CAST(count(*) AS BIGINT) AS nb FROM pairs GROUP BY b),
    ch AS (SELECT CAST(sum(na * nb) AS BIGINT) AS sum_ab FROM ma JOIN mb USING (cls))
    SELECT n, agree, sum_ab,
           round(CAST(n * agree - sum_ab AS DOUBLE)
                 / CAST(n * n - sum_ab AS DOUBLE), 6) AS kappa
    FROM tot CROSS JOIN ch
    """


@query("cohens_kappa_langid", None)  # oracle attached below (shares lang_id SQL)
def cohens_kappa_langid(spark, sf_dir):
    """Inter-rater agreement (evalmetrics.cohens_kappa): ground-truth lang
    vs the marker-token lang-id heuristic, in the all-integer
    (n*agree - sum_ab)/(n*n - sum_ab) form.  One aggregate over the pair
    table + two |classes|-row marginals joined broadcast."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    preds = textstats.lang_id_exploded(docs)  # explode-once codegen plan (r08)
    pairs = docs.select("doc_id", "lang").join(preds, "doc_id").select(
        F.col("lang").alias("a"), F.col("lang_pred").alias("b")
    )
    return evalmetrics.cohens_kappa(pairs, F.col("a"), F.col("b"))


QUERIES["cohens_kappa_langid"] = QuerySpec(
    build=cohens_kappa_langid, oracle=_kappa_oracle_sql()
)


def _lang_case_sql(text_expr: str) -> tuple[str, str]:
    """(score exprs, argmax CASE) over an arbitrary SQL text expression —
    the same generator as lang_id_oracle_sql (strict >, code order,
    'und' floor), parameterized so extra raters (e.g. a truncated-text
    rater) share one certification path with lang_id_pred."""
    from kafka_connect_morphlines_spark.functions.textstats import LANG_MARKERS

    codes = sorted(LANG_MARKERS)
    score = {
        c: (
            "len(list_filter(list_transform(list_filter("
            f"string_split(trim({text_expr}), ' '), x -> x != ''), x -> lower(x)),"
            f" x -> list_contains({LANG_MARKERS[c]!r}, x)))"
        )
        for c in codes
    }
    exprs = ", ".join(f"{score[c]} AS s_{c}" for c in codes)
    greatest = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = f"CASE WHEN {greatest} <= 0 THEN 'und' "
    for c in codes:
        case += f"WHEN s_{c} = {greatest} THEN '{c}' "
    case += "END"
    return exprs, case


def _krippendorff_oracle_sql() -> str:
    """Replays the exact-integer alpha pipeline: three raters (gold lang,
    lang-id on full text, lang-id on the first 80 chars for docs with
    n_chars >= 160 — the missing-data leg), per-unit disagreement
    a_u = m^2 - sum r^2 over denominator (m-1) cleared by L = lcm{m-1} = 2
    (m is 2 or 3 here; alpha is L-invariant so the constant is safe),
    then ONE double division rounded 6dp."""
    exprs_b, case_b = _lang_case_sql("text")
    exprs_c, case_c = _lang_case_sql("substr(text, 1, 80)")
    return f"""
    WITH ra AS (SELECT doc_id AS u, lang AS c FROM documents),
    rb AS (SELECT doc_id AS u, {case_b} AS c
           FROM (SELECT doc_id, text, {exprs_b} FROM documents)),
    rc AS (SELECT doc_id AS u, {case_c} AS c
           FROM (SELECT doc_id, text, {exprs_c} FROM documents WHERE n_chars >= 160)),
    ratings AS (SELECT u, c FROM ra UNION ALL SELECT u, c FROM rb
                UNION ALL SELECT u, c FROM rc),
    ruc AS (SELECT u, c, count(*) AS r FROM ratings GROUP BY u, c),
    per_u AS (SELECT u, sum(r) AS m, sum(r * r) AS sq
              FROM ruc GROUP BY u HAVING sum(r) >= 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                   CAST(sum(m) AS BIGINT) AS n_ratings,
                   CAST(sum((2 // (m - 1)) * (m * m - sq)) AS BIGINT) AS a_l
            FROM per_u),
    nc AS (SELECT c, sum(r) AS n_c FROM ruc JOIN per_u USING (u) GROUP BY c),
    bb AS (SELECT sum(n_c) * sum(n_c) - sum(n_c * n_c) AS b FROM nc)
    SELECT n_units, n_ratings,
           round(1 - CAST((n_ratings - 1) * a_l AS DOUBLE)
                     / CAST(2 * b AS DOUBLE), 6) AS alpha
    FROM tot CROSS JOIN bb
    """


@query(
    "spearman_spend_vs_orders",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(23,6))) AS spend,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    rx AS (
      SELECT spend,
             2 * coalesce(sum(c) OVER (ORDER BY spend
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx
      FROM (SELECT spend, count(*) AS c FROM per_cust GROUP BY spend)
    ),
    ry AS (
      SELECT n_orders,
             2 * coalesce(sum(c) OVER (ORDER BY n_orders
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ry
      FROM (SELECT n_orders, count(*) AS c FROM per_cust GROUP BY n_orders)
    ),
    ranked AS (
      SELECT rx.rx, ry.ry FROM per_cust p JOIN rx USING (spend) JOIN ry USING (n_orders)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(rx AS DECIMAL(38,0))) AS sx, sum(CAST(ry AS DECIMAL(38,0))) AS sy,
             sum(CAST(rx * ry AS DECIMAL(38,0))) AS sxy,
             sum(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
             sum(CAST(ry * ry AS DECIMAL(38,0))) AS syy
      FROM ranked
    )
    SELECT n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
    FROM s
    """,
)
def spearman_spend_vs_orders(spark, sf_dir):
    """Spearman rank correlation (evalmetrics.spearman_rho) between a
    customer's total spend and their order count — do heavy spenders
    also order often?  Tie-corrected via exact 2*avg-rank integers (the
    AUC idiom) so both engines feed identical DECIMAL moments into the
    closed form.  One groupBy(customer), then distributed global ranking:
    spend sums are essentially unique per customer (~n distinct values),
    so the rank maps are built by the range-partitioned _rank2 (r09 —
    no single-partition sort, no O(n) broadcast; AQE picks the join
    strategy at runtime), one final aggregate."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(23,6)")).alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return evalmetrics.spearman_rho(per_cust, F.col("spend"), F.col("n_orders"))


def _bt_oracle_sql(n_iter: int = 3, unit: int = 1 << 20) -> str:
    """Replays the ENTIRE Bradley-Terry MM fit in SQL: exact DECIMAL duel
    construction, wins-matrix aggregation, then ``n_iter`` unrolled
    fixed-point rounds of S_i = sum floor(n_ij*unit^2/(p_i+p_j)) and
    p_i' = floor(W_i*unit^2/S_i) — every quantity a BIGINT, `//` and
    Python's // agreeing on positives, so the fit is bit-identical to
    evalmetrics.bradley_terry_strengths."""
    u2 = unit * unit
    ctes = [
        """tv AS (
      SELECT user_id, event_type, sum(CAST(value AS DECIMAL(23,6))) AS tv
      FROM events GROUP BY user_id, event_type
    )""",
        """d AS (
      SELECT CASE WHEN x.tv >= y.tv THEN x.event_type ELSE y.event_type END AS wn,
             CASE WHEN x.tv >= y.tv THEN y.event_type ELSE x.event_type END AS ls
      FROM tv x JOIN tv y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
    )""",
        """w AS (SELECT wn AS a, ls AS b, CAST(count(*) AS BIGINT) AS w FROM d GROUP BY wn, ls)""",
        """items AS (SELECT a AS item FROM w UNION SELECT b FROM w)""",
        """nm AS (
      SELECT a, b, CAST(sum(w) AS BIGINT) AS n
      FROM (SELECT a, b, w FROM w UNION ALL SELECT b AS a, a AS b, w FROM w)
      GROUP BY a, b
    )""",
        """wt AS (SELECT a AS item, CAST(sum(w) AS BIGINT) AS wins FROM w GROUP BY a)""",
        """dd AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS duels FROM nm GROUP BY a)""",
        f"""p0 AS (SELECT item, CAST({unit} AS BIGINT) AS p FROM items)""",
    ]
    for it in range(n_iter):
        ctes += [
            f"""s{it} AS (
      SELECT nm.a AS item, sum((nm.n * {u2}) // (pi.p + pj.p)) AS s
      FROM nm JOIN p{it} pi ON pi.item = nm.a JOIN p{it} pj ON pj.item = nm.b
      GROUP BY nm.a
    )""",
            f"""p{it + 1} AS (
      SELECT p.item,
             CASE WHEN s.s > 0 THEN (coalesce(wt.wins, 0) * {u2}) // s.s ELSE p.p END AS p
      FROM p{it} p LEFT JOIN s{it} s USING (item) LEFT JOIN wt ON wt.item = p.item
    )""",
        ]
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    tot AS (SELECT sum(p) AS t FROM p{n_iter})
    SELECT i.item, coalesce(wt.wins, 0) AS wins, coalesce(dd.duels, 0) AS duels,
           round(CAST(pf.p AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS strength
    FROM items i
    LEFT JOIN wt ON wt.item = i.item
    LEFT JOIN dd ON dd.item = i.item
    JOIN p{n_iter} pf ON pf.item = i.item
    CROSS JOIN tot
    ORDER BY i.item
    """


@query("bradley_terry_events", _bt_oracle_sql())
def bradley_terry_events(spark, sf_dir):
    """Bradley-Terry preference ranking
    (evalmetrics.bradley_terry_strengths): the RLHF-preference /
    arena-leaderboard aggregation.  Duels: for every user and every pair
    of event types the user engaged with, the type with the larger exact
    DECIMAL value total wins (ties -> lexicographically smaller type, a
    deterministic convention both engines share).  The duel table — the
    100 TB-sized object — reduces via ONE map-side-combinable groupBy to
    the k*(k-1) wins matrix; the 3-round MM fixed point then runs on the
    integer lattice (unit 2^20) in Python bigints, replayed exactly by
    the unrolled SQL oracle.  Strength = p_i / sum(p) via _ratio6."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    tv = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(23,6)")).alias("tv")
    )
    x, y = tv.alias("x"), tv.alias("y")
    duels = x.join(
        y,
        (F.col("x.user_id") == F.col("y.user_id"))
        & (F.col("x.event_type") < F.col("y.event_type")),
    ).select(
        F.when(F.col("x.tv") >= F.col("y.tv"), F.col("x.event_type"))
        .otherwise(F.col("y.event_type"))
        .alias("wn"),
        F.when(F.col("x.tv") >= F.col("y.tv"), F.col("y.event_type"))
        .otherwise(F.col("x.event_type"))
        .alias("ls"),
    )
    return evalmetrics.bradley_terry_strengths(duels, F.col("wn"), F.col("ls"))


@query("krippendorff_alpha_langid", _krippendorff_oracle_sql())
def krippendorff_alpha_langid(spark, sf_dir):
    """Krippendorff's alpha (evalmetrics.krippendorff_alpha_nominal):
    annotation-QA agreement across THREE raters with missing data — gold
    lang, the marker-token lang-id, and lang-id on the first 80 chars
    (abstains below 160 chars), the case Cohen's kappa cannot express.
    Exact integer coincidence arithmetic throughout (per-unit
    m^2 - sum r^2 with lcm-cleared denominators); the only driver
    round-trip is the distinct-m collect, bounded by the rater count."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    ra = docs.select(F.col("doc_id").alias("u"), F.col("lang").alias("c"))
    rb = textstats.lang_id_exploded(docs).select(
        F.col("doc_id").alias("u"), F.col("lang_pred").alias("c")
    )
    rc = textstats.lang_id_exploded(
        docs.filter(F.col("n_chars") >= 160).select(
            "doc_id", F.substring(F.col("text"), 1, 80).alias("text")
        )
    ).select(F.col("doc_id").alias("u"), F.col("lang_pred").alias("c"))
    ratings = ra.unionByName(rb).unionByName(rc)
    return evalmetrics.krippendorff_alpha_nominal(
        ratings, F.col("u"), F.col("c")
    )

_NB_TOKENS_DUCK = (
    "unnest(list_transform(list_filter(string_split(trim(text), ' '), "
    "x -> x != ''), x -> lower(x))) AS u(t)"
)

_NB_MODEL_CTE = f"""
    tok AS (
      SELECT lang AS cls, u.t AS token FROM documents, {_NB_TOKENS_DUCK}
    ),
    counts AS (SELECT cls, token, CAST(count(*) AS BIGINT) AS cnt
               FROM tok GROUP BY cls, token),
    corpus AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS tf FROM counts GROUP BY token),
    vocab AS (SELECT token FROM corpus ORDER BY tf DESC, token ASC LIMIT 64),
    iv AS (SELECT c.cls, c.token, c.cnt FROM counts c JOIN vocab v USING (token)),
    ct AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS class_tokens FROM iv GROUP BY cls),
    model AS (
      SELECT ct.cls, v.token, CAST(coalesce(iv.cnt, 0) AS BIGINT) AS cnt,
             round(ln(CAST(coalesce(iv.cnt, 0) + 1 AS DOUBLE)
                      / CAST(ct.class_tokens + 64 AS DOUBLE)), 6) AS loglik
      FROM ct CROSS JOIN vocab v
      LEFT JOIN iv ON iv.cls = ct.cls AND iv.token = v.token
    )
"""


@query(
    "nb_train_lang",
    f"""
    WITH {_NB_MODEL_CTE}
    SELECT cls, token, cnt, loglik FROM model ORDER BY cls, token
    """,
)
def nb_train_lang(spark, sf_dir):
    """Multinomial Naive Bayes training (evalmetrics.nb_train): language
    model over a 64-token document-frequency-capped vocabulary, Laplace
    6dp log-likelihoods.  One (cls, token) count shuffle; the emitted
    n_classes x vocab grid is broadcast-sized at any corpus scale."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    model = evalmetrics.nb_train(
        docs, F.col("text"), F.col("lang"), vocab_size=64, alpha=1
    )
    return model.orderBy("cls", "token")


@query(
    "nb_predict_lang",
    f"""
    WITH {_NB_MODEL_CTE},
    mass AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS m FROM model GROUP BY cls),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS tot FROM mass),
    priors AS (
      SELECT cls, CAST(round(ln(CAST(m AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
                       AS DECIMAL(38,12)) AS prior
      FROM mass CROSS JOIN tot
    ),
    dtok AS (
      SELECT doc_id, u.t AS token FROM documents, {_NB_TOKENS_DUCK}
    ),
    sc AS (
      SELECT d.doc_id, g.cls, CAST(count(*) AS BIGINT) AS n_terms,
             sum(CAST(g.loglik AS DECIMAL(38,12))) AS ll_sum
      FROM dtok d JOIN model g USING (token)
      GROUP BY d.doc_id, g.cls
    ),
    scored AS (
      SELECT sc.doc_id, sc.cls, sc.n_terms, p.prior + sc.ll_sum AS score,
             row_number() OVER (PARTITION BY sc.doc_id
                                ORDER BY (p.prior + sc.ll_sum) DESC, sc.cls ASC) AS rk
      FROM sc JOIN priors p USING (cls)
    )
    SELECT doc_id, cls AS pred_cls, n_terms,
           CAST(round(score, 6) AS DOUBLE) AS score
    FROM scored WHERE rk = 1 ORDER BY doc_id
    """,
)
def nb_predict_lang(spark, sf_dir):
    """NB prediction (evalmetrics.nb_predict with the self-trained model):
    per-document argmax of prior + in-vocab log-likelihood sum.  Each 6dp
    term accumulates as DECIMAL, so the argmax is partition-invariant;
    model + priors broadcast, one (doc, cls) shuffle."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    model = evalmetrics.nb_train(
        docs, F.col("text"), F.col("lang"), vocab_size=64, alpha=1
    )
    return evalmetrics.nb_predict(docs, F.col("doc_id"), F.col("text"), model).orderBy(
        "doc_id"
    )


@query(
    "pmi_type_value",
    """
    WITH cells AS (
      SELECT event_type AS x, CAST(least(floor(value / 50), 9) AS INTEGER) AS y,
             CAST(count(*) AS BIGINT) AS n_xy
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells),
    mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY x),
    my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY y)
    SELECT c.x, c.y, c.n_xy,
           round(ln((CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE))
                    / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi,
           round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln((CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE))
                      / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9) AS mi_nats
    FROM cells c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ORDER BY x, y
    """,
)
def pmi_type_value(spark, sf_dir):
    """Pointwise mutual information (evalmetrics.pmi_table): which event
    types concentrate in which value bands?  Per-cell PMI + MI
    contribution — emitting per-cell terms instead of one scalar avoids
    order-dependent float summation entirely.  One cell aggregate + two
    broadcast marginals; the corpus is scanned once."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    return evalmetrics.pmi_table(
        ev,
        F.col("event_type"),
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int"),
    )


@query(
    "er_golden_record",
    """
    WITH RECURSIVE n AS (SELECT DISTINCT lower(trim(p_name)) AS name FROM part),
    ids AS (SELECT name, CAST('0x' || substr(md5(name), 1, 15) AS BIGINT) AS nid FROM n),
    e AS (
      SELECT a.nid AS s, b.nid AS d
      FROM ids a JOIN ids b ON a.name < b.name
      WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9
    ),
    sym AS (SELECT s, d FROM e UNION SELECT d AS s, s AS d FROM e),
    reach(id, m) AS (
      SELECT nid, nid FROM ids
      UNION
      SELECT r.id, sym.d FROM reach r JOIN sym ON sym.s = r.m
    ),
    cc AS (SELECT id AS nid, min(m) AS cid FROM reach GROUP BY id),
    named AS (
      SELECT i.name, ci.name AS canonical
      FROM cc JOIN ids i ON i.nid = cc.nid JOIN ids ci ON ci.nid = cc.cid
    ),
    sz AS (SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
           FROM named GROUP BY canonical)
    SELECT named.name, named.canonical, sz.cluster_size
    FROM named JOIN sz USING (canonical)
    ORDER BY name
    """,
)
def er_golden_record(spark, sf_dir):
    """Entity-resolution golden record: fuzzy linkage -> transitive
    clustering -> survivorship, the full ER pipeline in three certified
    stages.  Jaro-Winkler >= 0.9 pairs via q-gram blocking
    (relational.jaro_winkler_join), connected components by min-label
    propagation (traindata.connected_components — numeric node ids from
    the corpus' 60-bit md5-prefix idiom, since min-label needs an
    orderable/summable id; the canonical name is the name whose id is the
    component label), cluster sizes from one groupBy.  The oracle is
    exact all-pairs JW + a recursive reachability CTE, so it certifies
    blocking recall AND the clustering fixpoint."""
    from kafka_connect_morphlines_spark.functions import relational, traindata

    names = (
        t(spark, sf_dir, "part")
        .select(F.lower(F.trim(F.col("p_name"))).alias("name"))
        .distinct()
    )
    nodes = names.withColumn(
        "nid", F.conv(F.substring(F.md5(F.col("name")), 1, 15), 16, 10).cast("long")
    )
    pairs = relational.jaro_winkler_join(
        nodes, nodes, "name", "name", "nid", "nid", threshold=0.9, q=2
    ).filter(F.col("l_id") < F.col("r_id"))
    cc = traindata.connected_components(
        pairs, nodes, src="l_id", dst="r_id", id_col="nid"
    )
    named = (
        cc.join(F.broadcast(nodes), "nid")
        .join(
            F.broadcast(nodes.select(F.col("nid").alias("component"),
                                     F.col("name").alias("canonical"))),
            "component",
        )
        .select("name", "canonical")
    )
    sizes = named.groupBy("canonical").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        named.join(F.broadcast(sizes), "canonical")
        .select("name", "canonical", "cluster_size")
        .orderBy("name")
    )


_MMR_TOPK_SQL = """
    WITH RECURSIVE qv AS (
      SELECT list_transform(range(0, 64), i -> CASE WHEN i % 8 = 0 THEN 1.0 ELSE 0.0 END) AS q
    ),
    short AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q), 6) AS rel,
             CAST(round(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q), 6) * 1000000) AS BIGINT) AS relm
      FROM embeddings, qv
      ORDER BY rel DESC, vec_id LIMIT 50
    ),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(round(round(list_cosine_similarity(a.v, b.v), 6) * 1000000) AS BIGINT) AS sm
      FROM short a, short b
    ),
    sel(rank, vec_id, relevance, scorem, picked) AS (
      (SELECT 1, vec_id, rel,
              (CASE WHEN 500 * relm >= 0 THEN 1 ELSE -1 END)
                * ((abs(500 * relm) * 2 + 1000) // 2000),
              [vec_id]
       FROM short
       ORDER BY 4 DESC, rel DESC, vec_id LIMIT 1)
      UNION ALL
      (SELECT sel.rank + 1, c.vec_id, c.rel, c.scorem, list_append(sel.picked, c.vec_id)
       FROM sel, LATERAL (
         SELECT sh.vec_id, sh.rel,
                (CASE WHEN 500 * sh.relm - 500 * red.r >= 0 THEN 1 ELSE -1 END)
                  * ((abs(500 * sh.relm - 500 * red.r) * 2 + 1000) // 2000) AS scorem
         FROM short sh, LATERAL (
           SELECT max(si.sm) AS r FROM sims si
           WHERE si.ia = sh.vec_id AND list_contains(sel.picked, si.ib)
         ) red
         WHERE NOT list_contains(sel.picked, sh.vec_id)
         ORDER BY scorem DESC, rel DESC, vec_id LIMIT 1
       ) c
       WHERE sel.rank < 10)
    )
    SELECT rank, vec_id, relevance, CAST(scorem AS DOUBLE) / 1000000.0 AS mmr_score
    FROM sel ORDER BY rank
"""


@query("mmr_diverse_topk", _MMR_TOPK_SQL)
def mmr_diverse_topk(spark, sf_dir):
    """MMR diverse retrieval (similarity.mmr_topk): top-10 by relevance to
    a fixed probe vector, re-ranked greedily for diversity (lambda=0.5)
    over a 50-row shortlist.  The corpus pays one map-only cosine scan +
    a TakeOrdered; the sequential greedy runs driver-side on the bounded
    shortlist — retrieve-then-rerank.  Certified: the greedy scores are
    exact integer nano-units (see mmr_topk), so the oracle replays the
    selection as a DuckDB recursive CTE carrying the picked set; pytest
    additionally pins parity with a pure-Python reference."""
    from kafka_connect_morphlines_spark.functions import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    probe = [1.0 if i % 8 == 0 else 0.0 for i in range(64)]
    return sim.mmr_topk(emb, probe, k=10, shortlist=50, lam=0.5)


@query(
    "robust_outliers_by_type",
    """
    WITH med AS (
      SELECT event_type AS g, quantile_cont(value, 0.5) AS _med
      FROM events GROUP BY 1
    ),
    j AS (SELECT e.event_type AS g, e.value AS v, m._med
          FROM events e JOIN med m ON m.g = e.event_type),
    mad AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, round(any_value(_med), 6) AS median,
             round(quantile_cont(abs(v - _med), 0.5), 6) AS mad
      FROM j GROUP BY g
    ),
    f AS (
      SELECT e.event_type AS g, mad.n, mad.median, mad.mad,
             CAST(sum(CASE WHEN mad.mad > 0
                            AND 0.6745 * abs(e.value - mad.median) > 3.5 * mad.mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM events e JOIN mad ON mad.g = e.event_type
      GROUP BY e.event_type, mad.n, mad.median, mad.mad
    )
    SELECT g AS event_type, n, median, mad, n_outliers,
           round(CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE), 6) AS outlier_rate
    FROM f ORDER BY event_type
    """,
)
def robust_outliers_by_type(spark, sf_dir):
    """Robust anomaly summary (validation.robust_outlier_stats): per-type
    median, MAD, and modified z-score (Iglewicz-Hoaglin 0.6745|x-med|/MAD
    > 3.5) outlier counts — the outlier test the outliers can't drag.
    Three same-key grouped passes (median -> MAD -> flag), AQE-coalesced;
    med/mad are 6dp-rounded before flagging so the count is
    engine-portable."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    return validation.robust_outlier_stats(ev, "event_type", "value", z=3.5).orderBy(
        "event_type"
    )


@query(
    "touch_attribution_channels",
    """
    WITH p AS (SELECT event_id AS pid, user_id, ts AS pts, value
               FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.pid, p.value, e.event_type AS ch,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY e.ts ASC, e.event_id ASC) AS rf,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY e.ts DESC, e.event_id DESC) AS rl
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.event_type != 'purchase'
       AND e.ts < p.pts AND e.ts >= p.pts - INTERVAL 7 DAY
    ),
    ft AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_first,
                  CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS first_touch_rev
           FROM cand WHERE rf = 1 GROUP BY ch),
    lt AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_last,
                  CAST(round(sum(CAST(value AS DECIMAL(23,6))), 2) AS DOUBLE) AS last_touch_rev
           FROM cand WHERE rl = 1 GROUP BY ch)
    SELECT coalesce(ft.channel, lt.channel) AS channel,
           coalesce(n_first, 0) AS n_first,
           coalesce(first_touch_rev, 0.0) AS first_touch_rev,
           coalesce(n_last, 0) AS n_last,
           coalesce(last_touch_rev, 0.0) AS last_touch_rev
    FROM ft FULL OUTER JOIN lt ON ft.channel = lt.channel
    ORDER BY channel
    """,
)
def touch_attribution_channels(spark, sf_dir):
    """Marketing attribution (funnel.touch_attribution): each purchase's
    value credited to the user's first and last non-purchase event in the
    7-day lookback.  NO purchases-x-events self-join: one user-keyed
    window computes min/max (ts,id,channel) structs over a
    microsecond-exact range frame, then two channel aggregates; the
    oracle IS the self-join formulation, certifying the window rewrite."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    return funnel.touch_attribution(ev, "purchase", lookback_days=7).orderBy("channel")


def _textrank_oracle_sql(iters: int = 3, k: int = 20) -> str:
    """Unrolled TextRank: the same per-iteration decimal/rounding contract
    as _pagerank_oracle_sql, over the adjacency graph of length>=4
    lowercased tokens (lead-within-doc, so filtered gaps create no fake
    edges)."""
    head = """
    WITH toks0 AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS token,
             generate_subscripts(list_filter(string_split(trim(text), ' '), x -> x != ''), 1) AS pos
      FROM documents
    ),
    kept AS (SELECT doc_id, lower(token) AS token, pos
             FROM toks0 WHERE len(lower(token)) >= 4),
    adj0 AS (
      SELECT token, lead(token) OVER w AS next_token,
             pos, lead(pos) OVER w AS next_pos
      FROM kept WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    adj AS (SELECT token AS a, next_token AS b FROM adj0
            WHERE next_pos = pos + 1 AND next_token != token),
    edges AS (SELECT DISTINCT src, dst FROM (
      SELECT a AS src, b AS dst FROM adj UNION ALL SELECT b AS src, a AS dst FROM adj)),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT id, round(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes)"""
    step = """,
    s{i} AS (
      SELECT e.dst AS id,
             CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS csum
      FROM edges e
      JOIN r{p} r ON e.src = r.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.id,
             round(0.15 / (SELECT n FROM nn) + 0.85 * coalesce(s.csum, 0.0), 12) AS rank
      FROM nodes n LEFT JOIN s{i} s ON n.id = s.id
    )"""
    body = head + "".join(step.format(i=i, p=i - 1) for i in range(1, iters + 1))
    return body + f"""
    SELECT id AS token, rank FROM r{iters} ORDER BY rank DESC, token ASC LIMIT {k}
    """


@query("textrank_keywords", _textrank_oracle_sql())
def textrank_keywords_docs(spark, sf_dir):
    """TextRank keyword extraction (web.textrank_keywords): PageRank over
    the adjacent-content-word graph — keyword importance from graph
    centrality, not just frequency.  Tokenize map-only, adjacency from one
    doc-keyed lead window (no self-join), then the deterministic-arithmetic
    pagerank; hash-certified against a fully unrolled 3-iteration SQL
    oracle."""
    from kafka_connect_morphlines_spark.functions import web

    docs = t(spark, sf_dir, "documents")
    return web.textrank_keywords(docs, "text", min_len=4, iters=3, k=20)


@query(
    "km_retention_curve",
    """
    WITH pu AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id
    ),
    e AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    lt AS (
      SELECT CAST(floor((last_us - first_us) / 86400000000.0) AS BIGINT) AS t_days,
             (last_us <= end_us - 7 * 86400000000) AS churned
      FROM pu CROSS JOIN e
    ),
    pt AS (
      SELECT t_days, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_churned
      FROM lt GROUP BY t_days
    ),
    rk AS (
      SELECT t_days, d_churned,
             CAST(sum(n_at) OVER (ORDER BY t_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM pt
    ),
    dd AS (SELECT t_days, n_risk, d_churned FROM rk WHERE d_churned > 0),
    sv AS (
      SELECT t_days, n_risk, d_churned,
             round(CAST(d_churned AS DOUBLE) / CAST(n_risk AS DOUBLE), 6) AS hazard,
             sum(CAST(round(ln(greatest(
                   1 - CAST(d_churned AS DOUBLE) / CAST(n_risk AS DOUBLE), 1e-12)), 12)
                 AS DECIMAL(38,12)))
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dd
    )
    SELECT t_days, n_risk, d_churned, hazard,
           round(exp(CAST(cum AS DOUBLE)), 6) AS survival
    FROM sv ORDER BY t_days
    """,
)
def km_retention_curve(spark, sf_dir):
    """Kaplan-Meier retention (funnel.km_retention): survival over user
    lifetimes with right-censoring (users still active at observation end
    are NOT counted as churned — the bias plain retention curves carry).
    One user aggregate, then bounded lifetime-histogram windows; hazards
    are exact integer ratios, survival accumulates 12dp ln-terms in
    DECIMAL."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    return funnel.km_retention(ev, horizon_days=7)


@query(
    "decayed_engagement_users",
    """
    WITH e AS (SELECT max(epoch_us(ts)) AS end_us FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(round(value * exp(
                 -(CAST(end_us - epoch_us(ts) AS DOUBLE) / 86400000000.0) / 30.0), 9)
               AS DECIMAL(38,12))), 4) AS DOUBLE) AS decayed_value
    FROM events CROSS JOIN e
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def decayed_engagement_users(spark, sf_dir):
    """Time-decayed engagement (funnel.decayed_engagement): per-user
    sum(value * exp(-age_days/30)) against observation end — recency
    weighting for freshness-aware features.  Map-only term + one
    user-keyed aggregate; 9dp-rounded terms accumulate in DECIMAL so the
    sum is partition-invariant."""
    from kafka_connect_morphlines_spark.functions import funnel

    ev = t(spark, sf_dir, "events")
    return funnel.decayed_engagement(ev, tau_days=30.0).orderBy("user_id")


@query(
    "rrf_hybrid_fusion",
    """
    WITH d AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x->x!='') AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    hits AS (SELECT doc_id, term FROM tok WHERE term IN ('spark','vector','window')),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    per AS (
      SELECT tf.doc_id,
             CAST(round( ln(1.0 + (s.n_docs - dfreq.df + 0.5)/(dfreq.df + 0.5))
                   * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6)
                  AS DECIMAL(18,6)) AS sc
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    bmtop AS (SELECT doc_id, CAST(round(sum(sc), 4) AS DOUBLE) AS score
              FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
    bm AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25 FROM bmtop),
    costop AS (SELECT b.vec_id AS doc_id,
                      list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
               FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
               WHERE b.vec_id != 0
               ORDER BY score DESC, b.vec_id LIMIT 20),
    cos AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_cos FROM costop),
    f AS (SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id, bm.rank_bm25, cos.rank_cos
          FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id)
    SELECT doc_id, rank_bm25, rank_cos,
           round(coalesce(1.0/(60 + rank_bm25), 0) + coalesce(1.0/(60 + rank_cos), 0), 6) AS rrf_score
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_fusion(spark, sf_dir):
    """Hybrid lexical+vector search via Reciprocal Rank Fusion
    (retrieval.rrf_fuse, Cormack et al. SIGIR'09): BM25 top-20 for a
    3-term query fused with embedding-cosine top-20 for a probe vector by
    sum of 1/(60+rank).  The corpus pays the two retrieval legs (filtered
    postings / TakeOrdered scan); the fusion itself joins two 20-row
    frames — the production hybrid-search shape at any scale."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, retrieval
    from kafka_connect_morphlines_spark.functions import similarity as sim

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    emb = t(spark, sf_dir, "embeddings")
    bm = retrieval.bm25_topk(docs, ["spark", "vector", "window"], k=20).select(
        "doc_id", "score"
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = list(qrow[0]["embedding"]) if qrow else []
    cos = sim.brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, k=20).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    out = retrieval.rrf_fuse({"bm25": bm, "cos": cos}, id_col="doc_id", k_const=60, k=10)
    return out.select(
        "doc_id",
        F.col("rank_bm25").cast("long").alias("rank_bm25"),
        F.col("rank_cos").cast("long").alias("rank_cos"),
        "rrf_score",
    )


@query(
    "ks_drift_value",
    """
    WITH per AS (
      SELECT value AS v,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_s,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b_s
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      GROUP BY value
    ),
    cum AS (SELECT sum(a_s) OVER (ORDER BY v) AS ca, sum(b_s) OVER (ORDER BY v) AS cb FROM per),
    tot AS (SELECT CAST(sum(a_s) AS BIGINT) AS n_a, CAST(sum(b_s) AS BIGINT) AS n_b FROM per)
    SELECT n_a, n_b,
           CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
           CAST(n_a * n_b AS BIGINT) AS d_den,
           round(CAST(max(abs(ca * n_b - cb * n_a)) AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6) AS ks_d
    FROM cum CROSS JOIN tot GROUP BY n_a, n_b
    """,
)
def ks_drift_value(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift (validation.ks_drift): max ECDF
    gap between click and purchase value distributions.  The corpus
    collapses to distinct values before the ordered cumulative pass (the
    rank-AUC shape), and D is maximized in cross-multiplied integer form —
    the only float is the final division."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    return validation.ks_drift(
        ev, F.col("value"), F.col("event_type"), "click", "purchase", decimals=None
    )


@query(
    "chi2_token_lang",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_filter(string_split(trim(text), ' '), x -> x != ''))) AS token
      FROM documents
    ),
    a AS (SELECT lang AS cls, token, CAST(count(*) AS BIGINT) AS a FROM tok GROUP BY lang, token),
    dft AS (SELECT token, CAST(sum(a) AS BIGINT) AS df_t FROM a GROUP BY token),
    ncls AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_c FROM documents GROUP BY lang),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
    j AS (SELECT a.cls, a.token, a.a, dft.df_t, ncls.n_c, n.n_total
          FROM a JOIN dft USING (token) JOIN ncls USING (cls) CROSS JOIN n
          WHERE dft.df_t >= 5 AND dft.df_t < n.n_total),
    s AS (SELECT cls, token, a, df_t, n_c,
            round(((CAST(n_total AS DOUBLE)
                    * (CAST(a AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_c AS DOUBLE) * CAST(df_t AS DOUBLE)))
                    * (CAST(a AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_c AS DOUBLE) * CAST(df_t AS DOUBLE)))
                  / (((CAST(n_c AS DOUBLE) * (CAST(n_total AS DOUBLE) - CAST(n_c AS DOUBLE)))
                      * CAST(df_t AS DOUBLE)) * (CAST(n_total AS DOUBLE) - CAST(df_t AS DOUBLE))), 6) AS chi2
          FROM j),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY cls ORDER BY chi2 DESC, token) AS INT) AS rank FROM s)
    SELECT cls, token, a, df_t, n_c, chi2, rank FROM r WHERE rank <= 3 ORDER BY cls, rank
    """,
)
def chi2_token_lang(spark, sf_dir):
    """Chi-square feature selection (evalmetrics.chi2_tokens): the 3 most
    language-discriminative tokens per language over presence/absence
    contingencies.  One distinct (doc, token) explode + two aggregates;
    min_df prunes before the per-class top-k window (partitioned by class,
    never global)."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    return evalmetrics.chi2_tokens(
        docs, F.col("text"), F.col("lang"), min_df=5, topk=3
    )


_ROUGE_L_SQL = """
    WITH RECURSIVE
    d AS (SELECT doc_id, source,
                 list_filter(string_split(trim(text), ' '), x -> x != '')[1:512] AS toks
          FROM documents WHERE doc_id < 40),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb,
                 len(a.toks) AS m, len(b.toks) AS n
          FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
    -- LCS as a row-state DP: dp(i, j) over rows, one recursion step per
    -- candidate-token position i.  The in-row dependency dp[i][j-1] is
    -- eliminated with the prefix-max identity
    --   dp[i][j] = max(dp[i-1][j], runmax_{j'<=j}(dp[i-1][j'-1]+1 if match))
    -- (dp[i-1] is monotone in j, so the dp[i][j-1] term is dominated),
    -- leaving one lag + one running-max window per step.
    dp AS (
      SELECT id_a, id_b, 0 AS i, unnest(range(0, n + 1)) AS j, 0 AS v FROM p
      UNION ALL
      SELECT id_a, id_b, i + 1 AS i, j,
             CAST(greatest(v, max(cand) OVER (PARTITION BY id_a, id_b
                  ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS INT) AS v
      FROM (
        SELECT dp.id_a, dp.id_b, dp.i, dp.j, dp.v,
               CASE WHEN dp.j >= 1 AND p.ta[dp.i + 1] = p.tb[dp.j]
                    THEN lag(dp.v, 1, 0) OVER (PARTITION BY dp.id_a, dp.id_b ORDER BY dp.j) + 1
                    ELSE 0 END AS cand
        FROM dp JOIN p USING (id_a, id_b)
        WHERE dp.i < p.m
      )
    ),
    lcs AS (
      SELECT dp.id_a, dp.id_b, dp.v AS lcs_len, p.m, p.n
      FROM dp JOIN p USING (id_a, id_b)
      WHERE dp.i = p.m AND dp.j = p.n
    ),
    pr AS (
      SELECT id_a, id_b, lcs_len,
             CASE WHEN m > 0 AND n > 0 THEN CAST(lcs_len AS DOUBLE) / m END AS p,
             CASE WHEN m > 0 AND n > 0 THEN CAST(lcs_len AS DOUBLE) / n END AS r
      FROM lcs
    )
    SELECT id_a, id_b, lcs_len,
           floor(p * 1000000 + 0.5) / 1000000 AS rouge_p,
           floor(r * 1000000 + 0.5) / 1000000 AS rouge_r,
           floor((CASE WHEN p IS NULL THEN NULL
                       WHEN p + r > 0 THEN 2 * p * r / (p + r)
                       ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS rouge_f
    FROM pr ORDER BY id_a, id_b
"""


@query("rouge_l_pairs", _ROUGE_L_SQL)
def rouge_l_pairs(spark, sf_dir):
    """ROUGE-L pair scoring (evalmetrics.rouge_l, Lin 2004): LCS-based
    P/R/F over bounded candidate pairs (same source, doc_id < 40, a < b) —
    the rewrite/summary overlap grader.  Promoted from rows-only in r07:
    the LCS dynamic program IS SQL-expressible as a recursive CTE — the
    intra-row dependency falls to a prefix-max identity, so each DP row
    is one lag + one running-max window — and the P/R/F rounding is the
    engine-portable half-up floor(x*1e6+0.5) on both sides.  The pair
    frame is blocked+bounded by construction, the same contract as
    jaro_winkler_linkage."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "source", "text"
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("source"), F.col("text").alias("text_a")
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("source"), F.col("text").alias("text_b")
    )
    pairs = a.join(b, "source").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "text_a", "text_b"
    )
    out = evalmetrics.rouge_l(pairs, "text_a", "text_b")
    return out.select(
        "id_a", "id_b", "lcs_len", "rouge_p", "rouge_r", "rouge_f"
    ).orderBy("id_a", "id_b")


@query(
    "collocations_pmi",
    """
    WITH tok AS (
      SELECT list_filter(string_split(trim(text), ' '), x -> x != '') AS toks FROM documents
    ),
    pairs AS (
      SELECT z[1] AS w1, z[2] AS w2
      FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
            FROM tok WHERE len(toks) >= 2)
    ),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pairs GROUP BY w1, w2),
    l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
    r AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM big GROUP BY w2),
    n AS (SELECT CAST(sum(c12) AS BIGINT) AS nn FROM big)
    SELECT w1, w2, c12, c1, c2,
           round(ln((CAST(c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
    FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def collocations_pmi(spark, sf_dir):
    """Collocation mining (textstats.collocations_pmi_df, Church & Hanks
    1990): top-20 adjacent-token bigrams by PMI over exact bigram-margin
    counts.  One bigram explode (checkpointed, feeds margins + total +
    score join), min_count pruning before the joins, global top-k as
    TakeOrdered."""
    from kafka_connect_morphlines_spark.functions import ensure_parallelism, textstats

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return textstats.collocations_pmi_df(docs, min_count=5, topk=20)


@query(
    "trimmed_mean_by_type",
    """
    WITH g AS (SELECT event_type AS et, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
    b AS (SELECT et, CAST(count(*) AS BIGINT) AS n_total,
                 quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
          FROM g GROUP BY et),
    k AS (SELECT g.et, g.v FROM g JOIN b USING (et) WHERE g.v >= b.lo AND g.v <= b.hi),
    a AS (SELECT et, CAST(count(*) AS BIGINT) AS n_kept,
                 sum(CAST(v AS DECIMAL(38,12))) AS vsum
          FROM k GROUP BY et)
    SELECT b.et AS event_type, b.n_total, a.n_kept,
           round(b.lo, 6) AS lo, round(b.hi, 6) AS hi,
           round(CAST(a.vsum AS DOUBLE) / CAST(a.n_kept AS DOUBLE), 6) AS trimmed_mean
    FROM b JOIN a USING (et) ORDER BY event_type
    """,
)
def trimmed_mean_by_type(spark, sf_dir):
    """Per-group trimmed mean (validation.trimmed_stats): mean of values
    inside the exact [p05, p95] band — robust central tendency next to the
    MAD outlier stats.  Exact interpolated percentiles (Spark percentile ==
    DuckDB quantile_cont), DECIMAL mean accumulation; two shuffles of
    (group, numeric) rows."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    return validation.trimmed_stats(ev, "event_type", "value")


import os as _os_icws

_ICWS_GOLDEN = _os_icws.path.join(
    _os_icws.path.dirname(_os_icws.path.dirname(_os_icws.path.dirname(_os_icws.path.abspath(__file__)))),
    "tests",
    "resources",
    "goldens",
    "icws_weighted_near_dupes_sf001.parquet",
)


@query(
    "icws_weighted_near_dupes",
    f"""
    SELECT id_a, id_b, agree
    FROM read_parquet('{_ICWS_GOLDEN}')
    ORDER BY id_a, id_b
    """,
)
def icws_weighted_near_dupes(spark, sf_dir):
    """Weighted-Jaccard near-dup pairs (dedup.icws_near_dupes, Ioffe ICDM
    2010 consistent weighted sampling): tf-weighted MinHash signatures,
    BANDED LSH blocking (4-slot band keys — per-band collision probability
    J_w^4, not J_w; the single-slot variant was measured quadratic on a
    skewed corpus and replaced, see SCALE.md #24) with the mega-bucket
    guard, exact agreement threshold.

    Oracle (r10 promotion out of no-oracle, VERDICT r09 #2): the
    ln-of-float ICWS draws block a *SQL* oracle, but the signatures are
    fully derandomized (xxhash64-pair-derived Gamma/Uniform draws,
    dedup.py icws_signatures) so the output — (id_a, id_b, agree),
    integers only — is deterministic for this engine, and the gate is a
    committed GOLDEN PARQUET generated at sf0.01 via
    tools/make_golden_oracle.py, same mechanism that promoted
    compression_ratio_quality in r09.  sf0.01-specific by construction
    (GOLDEN_SF001_ORACLES; check_correctness downgrades to rows-only at
    other SFs).  pytest pins the J_w-estimation property and rerun
    determinism.  NOTE: the r07 switch from md5 to xxhash64 draws changed
    the drawn hash functions, so the baseline pair count moved
    1089 -> 2758 at sf0.01 — an intentional re-randomization, not a
    semantics change (the J_w estimator property is unchanged)."""
    from kafka_connect_morphlines_spark.functions import dedup, ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return dedup.icws_near_dupes(docs, num_hashes=16, min_agree=12)


@query(
    "control_char_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g')) AS INT) AS n_control,
           CAST(length(text) - length(regexp_replace(text, '\\ufffd', '', 'g')) AS INT) AS n_replacement,
           CASE WHEN length(text) > 0
                THEN round(CAST(length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g')) AS DOUBLE)
                           / CAST(length(text) AS DOUBLE), 6)
                ELSE 0.0 END AS control_ratio
    FROM documents ORDER BY doc_id
    """,
)
def control_char_stats(spark, sf_dir):
    """Mojibake / binary-contamination audit (textstats.control_char_stats_df):
    C0/C1 control characters (minus tab/newline/CR) and U+FFFD replacement
    chars per document — pure codegen regexp counting, map-only."""
    from kafka_connect_morphlines_spark.functions import textstats

    docs = t(spark, sf_dir, "documents")
    return textstats.control_char_stats_df(docs).orderBy("doc_id")


import os as _os

_COMPRESSION_GOLDEN = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests",
    "resources",
    "goldens",
    "compression_ratio_quality_sf001.parquet",
)


@query(
    "compression_ratio_quality",
    f"""
    SELECT doc_id, n_bytes, n_compressed, ratio
    FROM read_parquet('{_COMPRESSION_GOLDEN}')
    ORDER BY doc_id
    """,
)
def compression_ratio_quality(spark, sf_dir):
    """zlib compression-ratio quality signal (textclean.compression_ratio):
    highly compressible text is repetitive boilerplate, incompressible is
    junk/gibberish — the cheap redundancy heuristic of Dolma/RedPajama-
    class pipelines.  Arrow-batched map-only projection.

    Oracle (r09 promotion out of no-oracle, VERDICT r08 #6): zlib has no
    SQL analogue, but its output at the pinned level is deterministic for
    a given zlib build, so the gate is a committed GOLDEN PARQUET
    generated at sf0.01 (the driver's correctness SF by contract) via
    ``tools/make_golden_oracle.py compression_ratio_quality``; the oracle
    reads it back with read_parquet().  This pins the full Spark-side
    pipeline — schema, Arrow batching, null handling, 6dp rounding — while
    zlib's own semantics stay pinned by the known-string exact values in
    pytest.
    Honest limits, documented: the pin is (a) sf0.01-specific and (b)
    zlib-build-specific (this container); a zlib upgrade that changes
    compressed sizes requires regenerating the golden, exactly like the
    md5-keyed sampler goldens."""
    from kafka_connect_morphlines_spark.functions import textclean

    docs = t(spark, sf_dir, "documents")
    return textclean.compression_ratio(docs).orderBy("doc_id")


def _confusion_oracle_sql() -> str:
    """Long-form confusion matrix over the shared lang-id CASE SQL."""
    pred = lang_id_oracle_sql()
    return f"""
    WITH pred AS ({pred})
    SELECT d.lang AS actual, p.lang_pred AS predicted,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(sum(count(*)) OVER (PARTITION BY d.lang) AS DOUBLE), 6) AS row_frac
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.lang_pred
    ORDER BY actual, predicted
    """


@query("lang_confusion_matrix", None)  # oracle attached below (shares lang_id SQL)
def lang_confusion_matrix(spark, sf_dir):
    """Long-form confusion matrix: ground-truth lang vs the lang-id
    heuristic with per-(actual, predicted) counts and the within-actual
    row fraction — the per-class companion to cohens_kappa_langid.  One
    groupBy over the pair table + a |classes|-partition window over the
    |classes|^2-row aggregate (bounded by construction)."""
    docs = t(spark, sf_dir, "documents")
    preds = textstats.lang_id_exploded(docs)  # explode-once codegen plan (r08)
    pairs = docs.select("doc_id", "lang").join(preds, "doc_id").select(
        F.col("lang").alias("actual"),
        F.col("lang_pred").alias("predicted"),
    )
    from pyspark.sql import Window

    counts = pairs.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("actual")
    return counts.select(
        "actual",
        "predicted",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("row_frac"),
    ).orderBy("actual", "predicted")


QUERIES["lang_confusion_matrix"] = QuerySpec(
    build=lang_confusion_matrix, oracle=_confusion_oracle_sql()
)


def _prf_oracle_sql() -> str:
    """Per-class P/R/F1 over the shared lang-id CASE SQL."""
    pred = lang_id_oracle_sql()
    return f"""
    WITH pred AS ({pred}),
    pairs AS (SELECT d.lang AS a, p.lang_pred AS pr
              FROM documents d JOIN pred p USING (doc_id)),
    counts AS (SELECT a, pr, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY a, pr),
    row_tot AS (SELECT a AS cls, CAST(sum(n) AS BIGINT) AS r FROM counts GROUP BY a),
    col_tot AS (SELECT pr AS cls, CAST(sum(n) AS BIGINT) AS c FROM counts GROUP BY pr),
    diag AS (SELECT a AS cls, n AS tp FROM counts WHERE a = pr),
    base AS (
      SELECT coalesce(rt.cls, ct.cls) AS cls,
             CAST(coalesce(d.tp, 0) AS BIGINT) AS tp,
             CAST(coalesce(ct.c, 0) - coalesce(d.tp, 0) AS BIGINT) AS fp,
             CAST(coalesce(rt.r, 0) - coalesce(d.tp, 0) AS BIGINT) AS fn
      FROM row_tot rt FULL OUTER JOIN col_tot ct ON rt.cls = ct.cls
      LEFT JOIN diag d ON coalesce(rt.cls, ct.cls) = d.cls
    )
    SELECT cls AS class, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
    FROM base ORDER BY class
    """


@query("lang_prf_report", None)  # oracle attached below (shares lang_id SQL)
def lang_prf_report(spark, sf_dir):
    """Per-class precision/recall/F1 report (evalmetrics.multiclass_prf)
    for the lang-id heuristic vs ground truth — the per-class report card
    completing the confusion-matrix / Cohen's-kappa classification-eval
    family.  One pair-table groupBy; every later frame is
    |classes|-bounded; exact-integer ratios (F1 in the 2TP integer
    form)."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    docs = t(spark, sf_dir, "documents")
    preds = textstats.lang_id_exploded(docs)  # explode-once codegen plan (r08)
    joined = docs.select("doc_id", "lang").join(preds, "doc_id")
    return evalmetrics.multiclass_prf(
        joined, F.col("lang"), F.col("lang_pred")
    )


QUERIES["lang_prf_report"] = QuerySpec(build=lang_prf_report, oracle=_prf_oracle_sql())


@query(
    "brier_score_purchase",
    """
    WITH s AS (
      SELECT least(greatest(value / 500.0, 0.0), 1.0) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(round((p - y) * (p - y), 9) AS DECIMAL(38,12))), 6) AS DOUBLE) AS brier_sum,
           round(CAST(round(sum(CAST(round((p - y) * (p - y), 9) AS DECIMAL(38,12))), 6) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS brier
    FROM s
    """,
)
def brier_score_purchase(spark, sf_dir):
    """Brier score of a [0,1]-clamped value-based purchase predictor:
    mean squared (p - y) — the strictly proper scoring rule next to the
    calibration bins.  Per-row squared errors are 9dp-rounded then summed
    as DECIMAL (partition-invariant, the decayed_engagement idiom); one
    codegen aggregate."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = F.least(F.greatest(F.col("value") / F.lit(500.0), F.lit(0.0)), F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", F.lit(1.0)).otherwise(F.lit(0.0))
    term = F.round((p - y) * (p - y), 9).cast("decimal(38,12)")
    return (
        ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(term), 6).cast("double").alias("brier_sum"),
        )
        .select(
            "n",
            "brier_sum",
            F.round(F.col("brier_sum") / F.col("n").cast("double"), 6).alias("brier"),
        )
    )


@query(
    "phrase_contamination_scan",
    """
    WITH p AS (
      SELECT * FROM (VALUES (1, 'the data'), (2, 'spark'), (3, 'machine learning'),
                            (4, 'window function'), (5, 'et al')) t(ord, phrase)
    ),
    occ AS (
      SELECT p.ord, p.phrase,
             CAST((length(d.text) - length(replace(d.text, p.phrase, ''))) / length(p.phrase) AS BIGINT) AS o
      FROM documents d CROSS JOIN p
    )
    SELECT phrase,
           CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(o) AS BIGINT) AS n_occurrences
    FROM occ GROUP BY ord, phrase ORDER BY ord
    """,
)
def phrase_contamination_scan(spark, sf_dir):
    """Exact-substring benchmark-canary scan (traindata.phrase_scan): per
    phrase, containing-doc count and total occurrences via codegen string
    arithmetic — ONE map-side-combined aggregate for the whole phrase
    list, the byte-level complement to n-gram decontamination."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.phrase_scan(
        docs,
        ["the data", "spark", "machine learning", "window function", "et al"],
    )


@query(
    "ndcg_user_rankings",
    """
    WITH b AS (
      SELECT user_id AS q, value AS s,
             CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1 ELSE 0 END AS rel,
             event_id AS tb
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY s DESC, tb) AS rk,
             row_number() OVER (PARTITION BY q ORDER BY rel DESC, s DESC, tb) AS irk
      FROM b
    ),
    a AS (
      SELECT q,
             sum(CASE WHEN rk <= 10
                      THEN CAST(round((pow(2.0, rel) - 1.0) / (ln(rk + 1.0) / ln(2.0)), 6) AS DECIMAL(38,12))
                      ELSE CAST(0 AS DECIMAL(38,12)) END) AS dcgd,
             sum(CASE WHEN irk <= 10
                      THEN CAST(round((pow(2.0, rel) - 1.0) / (ln(irk + 1.0) / ln(2.0)), 6) AS DECIMAL(38,12))
                      ELSE CAST(0 AS DECIMAL(38,12)) END) AS idcgd
      FROM r GROUP BY q
    )
    SELECT q AS user_id,
           round(CAST(dcgd AS DOUBLE), 6) AS dcg,
           round(CAST(idcgd AS DOUBLE), 6) AS idcg,
           CASE WHEN CAST(idcgd AS DOUBLE) = 0 THEN NULL
                ELSE round(CAST(dcgd AS DOUBLE) / CAST(idcgd AS DOUBLE), 6) END AS ndcg
    FROM a ORDER BY user_id
    """,
)
def ndcg_user_rankings(spark, sf_dir):
    """NDCG@10 per user (evalmetrics.ndcg_at_k): graded relevance
    (purchase=2, click=1) over value-ranked events with an event-id
    tie-break making both rankings total orders.  Two per-query windows
    (never global) over a 4-column projection; 6dp terms sum as DECIMAL."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rel = (
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
    )
    return evalmetrics.ndcg_at_k(
        ev, "user_id", F.col("value"), rel, k=10, tiebreak=F.col("event_id")
    )


@query(
    "gini_value_by_type",
    """
    WITH per AS (
      SELECT event_type AS g, value AS v, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY event_type, value
    ),
    cum AS (
      SELECT g, v, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
      FROM per
    ),
    agg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(round(v * c, 6) AS DECIMAL(38,12))) AS sx,
             sum(CAST(round(v * (c * p + (c * (c + 1)) / 2), 6) AS DECIMAL(38,12))) AS sixi
      FROM cum GROUP BY g
    )
    SELECT g AS event_type, n,
           round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
                ELSE round((2.0 * CAST(sixi AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS gini
    FROM agg ORDER BY event_type
    """,
)
def gini_value_by_type(spark, sf_dir):
    """Per-group Gini coefficient (validation.gini_by_group): value-mass
    inequality per event type — the dataset-balance audit.  Collapses to
    distinct values before the group-partitioned cumulative window
    (rank-AUC shape); index arithmetic exact, 6dp DECIMAL term sums."""
    from kafka_connect_morphlines_spark.functions import validation

    ev = t(spark, sf_dir, "events")
    return validation.gini_by_group(ev, "event_type", "value")


@query(
    "map_user_rankings",
    """
    WITH b AS (
      SELECT user_id AS q, value AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             event_id AS tb
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY s DESC, tb) AS rk
      FROM b
    ),
    c AS (SELECT q, rel, rk, sum(rel) OVER (PARTITION BY q ORDER BY rk) AS cum_rel FROM r),
    a AS (
      SELECT q, CAST(sum(rel) AS BIGINT) AS n_relevant,
             sum(CASE WHEN rel = 1 AND rk <= 10
                      THEN CAST(round(CAST(cum_rel AS DOUBLE) / CAST(rk AS DOUBLE), 6) AS DECIMAL(38,12))
                      ELSE CAST(0 AS DECIMAL(38,12)) END) AS aps
      FROM c GROUP BY q
    )
    SELECT q AS user_id, n_relevant,
           CASE WHEN least(10, n_relevant) = 0 THEN NULL
                ELSE round(CAST(aps AS DOUBLE) / CAST(least(10, n_relevant) AS DOUBLE), 6) END AS ap
    FROM a ORDER BY user_id
    """,
)
def map_user_rankings(spark, sf_dir):
    """Average Precision @10 per user (evalmetrics.map_at_k): binary
    relevance (purchase), value-ranked with an event-id tie-break; exact
    integer precision-at-r terms, DECIMAL sum, per-query windows only."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return evalmetrics.map_at_k(
        ev,
        "user_id",
        F.col("value"),
        (F.col("event_type") == "purchase").cast("int"),
        k=10,
        tiebreak=F.col("event_id"),
    )


def _boot_oracle_sql() -> str:
    from kafka_connect_morphlines_spark.functions.evalmetrics import _POIS1_CDF

    cases = " ".join(
        f"WHEN uu < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CDF)
    )
    return f"""
    WITH base AS (
      SELECT value AS x, event_id AS id FROM events
      WHERE value IS NOT NULL AND event_type = 'purchase'
    ),
    rep AS (SELECT x, id, r FROM base, unnest(range(0, 100)) t(r)),
    uw AS (
      SELECT x, r,
             CASE {cases} ELSE {len(_POIS1_CDF)} END AS w
      FROM (
        SELECT x, r,
               (CAST(('0x' || substr(md5('boot/' || CAST(r // 5 AS VARCHAR) || '/' || CAST(id AS VARCHAR)),
                                     (r % 5) * 6 + 1, 6)) AS BIGINT) + 0.5) / 16777216.0 AS uu
        FROM rep
      )
    ),
    means AS (
      SELECT CASE WHEN sum(w) = 0 THEN NULL
                  ELSE round(CAST(sum(CAST(round(w * x, 6) AS DECIMAL(38,12))) AS DOUBLE)
                             / CAST(sum(w) AS DOUBLE), 6) END AS m
      FROM uw GROUP BY r
    ),
    point AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(x, 6) AS DECIMAL(38,12))) AS sx
      FROM base
    ),
    ci AS (
      SELECT round(quantile_cont(m, 0.025), 6) AS boot_lo,
             round(quantile_cont(m, 0.975), 6) AS boot_hi
      FROM means
    )
    SELECT n, round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean, boot_lo, boot_hi
    FROM point CROSS JOIN ci
    """


@query(
    "mann_whitney_values",
    """
    WITH per_v AS (
      SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      GROUP BY value
    ),
    ranked AS (
      SELECT na_v, nb_v,
             coalesce(sum(na_v + nb_v) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM per_v
    ),
    r2 AS (SELECT na_v, nb_v, 2 * before + na_v + nb_v + 1 AS rank2 FROM ranked),
    agg AS (
      SELECT CAST(sum(na_v) AS BIGINT) AS n_a, CAST(sum(nb_v) AS BIGINT) AS n_b,
             sum(CAST(na_v AS DECIMAL(38,0)) * CAST(rank2 AS DECIMAL(38,0))) AS r2a,
             sum(CAST(na_v + nb_v AS DECIMAL(38,0)) * CAST(na_v + nb_v AS DECIMAL(38,0))
                   * CAST(na_v + nb_v AS DECIMAL(38,0))
                 - CAST(na_v + nb_v AS DECIMAL(38,0))) AS ties
      FROM r2
    ),
    u AS (
      SELECT n_a, n_b,
             CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT) AS u2,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
               * (CAST(n_a + n_b + 1 AS DOUBLE)
                  - CAST(ties AS DOUBLE)
                    / CAST(CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b - 1) AS DOUBLE)) AS var
      FROM agg
    )
    SELECT n_a, n_b, u2,
           CASE WHEN var > 0
                THEN round((CAST(u2 AS DOUBLE) / 2.0
                            - CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE) / 2.0)
                           / sqrt(var), 6) END AS z
    FROM u
    """,
)
def mann_whitney_values(spark, sf_dir):
    """Mann-Whitney U / Wilcoxon rank-sum test
    (evalmetrics.mann_whitney_u): do click events carry larger values than
    purchases?  The closed-form nonparametric companion to the permutation
    test — exact 2x-scaled DECIMAL rank sums and tie correction, one
    fixed-shape 6dp float z at the end.  One distinct-value aggregate + a
    value-cardinality window."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return evalmetrics.mann_whitney_u(
        ev, F.col("value"), F.col("event_type"), "click", "purchase"
    )


@query(
    "interleave_sources_order",
    """
    WITH idx AS (
      SELECT g, CAST(row_number() OVER (ORDER BY g) - 1 AS INT) AS src_index
      FROM (SELECT DISTINCT source AS g FROM documents)
    ),
    m AS (SELECT count(*) AS m FROM idx),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS grp_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, i.src_index, r.grp_rank,
           CAST(r.grp_rank * m.m + i.src_index AS INT) AS pos
    FROM r JOIN idx i ON i.g = r.source CROSS JOIN m
    ORDER BY pos
    """,
)
def interleave_sources_order(spark, sf_dir):
    """Round-robin source interleave (traindata.interleave_sources): a
    deterministic training order that cycles every source each m records,
    so an epoch never sees a long single-source run.  Per-source rank
    windows + a broadcast m-row index join — no global window."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    out = traindata.interleave_sources(docs, group_col="source", order_col="doc_id")
    return out.select("doc_id", "source", "src_index", "grp_rank", "pos").orderBy("pos")


@query(
    "mrr_user_rankings",
    """
    WITH b AS (
      SELECT user_id AS q, value AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             event_id AS tb
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY s DESC, tb) AS rk
      FROM b
    )
    SELECT q AS user_id,
           CAST(min(CASE WHEN rel = 1 AND rk <= 10 THEN rk END) AS INT) AS first_rel_rank,
           coalesce(round(1.0 / CAST(min(CASE WHEN rel = 1 AND rk <= 10 THEN rk END) AS DOUBLE), 6),
                    0.0) AS rr
    FROM r GROUP BY q ORDER BY user_id
    """,
)
def mrr_user_rankings(spark, sf_dir):
    """Reciprocal rank @10 per user (evalmetrics.mrr_at_k): 1/rank of the
    first purchase among value-ranked events — the known-item ranking
    metric completing the NDCG/MAP family.  Same tie-break-total rank
    window; the reciprocal is one fixed 6dp division over an exact rank."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return evalmetrics.mrr_at_k(
        ev, "user_id", F.col("value"),
        (F.col("event_type") == "purchase").cast("int"),
        k=10, tiebreak=F.col("event_id"),
    )


@query(
    "gumbel_stratified_sample",
    """
    WITH keyed AS (
      SELECT source, doc_id,
             CAST(n_chars
               + CAST(floor(-1000 * ln(-ln(
                   ((CAST(('0x' || substr(md5('gumbel/mix/' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                     % 1000000) + 0.5) / 1000000.0)) + 0.5) AS BIGINT) AS BIGINT) AS key_milli
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, key_milli,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY key_milli DESC, doc_id) AS INT) AS grp_rank
      FROM keyed
    )
    SELECT source, doc_id, key_milli, grp_rank
    FROM r WHERE grp_rank <= 5 ORDER BY source, doc_id
    """,
)
def gumbel_stratified_sample(spark, sf_dir):
    """Stratified weighted sampling without replacement
    (dsir.gumbel_topk_by_group): 5 documents per source, probability
    proportional to exp(n_chars-as-milli-log-weight) within the source —
    the quota sampler for mixture building, derandomized Gumbel-max keys
    so the draw is hash-certifiable.  One per-source rank window, no
    global TakeOrdered."""
    from kafka_connect_morphlines_spark.functions import dsir

    docs = t(spark, sf_dir, "documents")
    out = dsir.gumbel_topk_by_group(
        docs, k=5, group_col="source", id_col="doc_id",
        weight_col="n_chars", seed="mix",
    )
    return out.select("source", "doc_id", "key_milli", "grp_rank").orderBy("source", "doc_id")


@query(
    "temperature_quota_sample",
    """
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    weighted AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w
      FROM counts
    ),
    staged AS (
      SELECT source, n, w,
             row_number() OVER (ORDER BY n, source) AS idx,
             CAST(200 AS BIGINT)
               - COALESCE(sum(n) OVER (ORDER BY n, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a,
             sum(w) OVER (ORDER BY n, source
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b
      FROM weighted
    ),
    flagged AS (
      SELECT *, (CAST(a AS HUGEINT) * w <= CAST(n AS HUGEINT) * b) AS ok FROM staged
    ),
    level AS (SELECT min(CASE WHEN ok THEN idx END) AS istar FROM flagged),
    params AS (
      SELECT f.a AS a_s, f.b AS b_s FROM flagged f, level l WHERE f.idx = l.istar
    ),
    alloc AS (
      SELECT f.source,
             (l.istar IS NULL OR f.idx < l.istar) AS sat,
             CASE WHEN (l.istar IS NULL OR f.idx < l.istar) THEN f.n
                  ELSE CAST((CAST(p.a_s AS HUGEINT) * f.w) // p.b_s AS BIGINT) END AS base,
             CASE WHEN (l.istar IS NULL OR f.idx < l.istar) THEN CAST(-1 AS HUGEINT)
                  ELSE (CAST(p.a_s AS HUGEINT) * f.w) % p.b_s END AS rem
      FROM flagged f CROSS JOIN level l LEFT JOIN params p ON TRUE
    ),
    quotas AS (
      SELECT source,
             CAST(base + CASE WHEN NOT sat
                          AND row_number() OVER (ORDER BY sat ASC, rem DESC, source)
                          <= (SELECT COALESCE(max(a_s), 0) FROM params)
                             - (SELECT sum(CASE WHEN NOT sat THEN base ELSE 0 END) FROM alloc)
                          THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM alloc
    ),
    ranked AS (
      SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5('tqs:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS grp_rank
      FROM documents
    )
    SELECT r.source, r.doc_id, r.grp_rank, q.quota
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.grp_rank <= q.quota
    ORDER BY source, doc_id
    """,
)
def temperature_quota_sample(spark, sf_dir):
    """Exact-k temperature mixture at alpha=0.5
    (traindata.temperature_quota_sample): 200 slots apportioned across
    sources proportional to sqrt(n_s), CAPPED at each source's row count
    (r08 water-filling fix — an uncapped quota on a small source used to
    silently under-fill the sample), remaining slots shared by integer
    largest-remainder (IEEE sqrt is correctly rounded, everything after
    is integer — quotas can never flip on a float ulp), each quota filled
    by the source's md5-order sample.  Bit-identical to plain
    largest-remainder whenever no cap binds.  The
    multilingual-pretraining mixture sampler as a certifiable operator;
    new in r07."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    out = traindata.temperature_quota_sample(docs, k_total=200, seed="tqs")
    return out.select("source", "doc_id", "grp_rank", "quota").orderBy("source", "doc_id")


def _quantile_normalize_oracle_sql(grid: int = 1000) -> str:
    pct = ", ".join(str(i / grid) for i in range(grid + 1))
    return f"""
    WITH g AS (
      SELECT quantile_cont(n_chars, [{pct}]) AS grid FROM documents
    ),
    r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           round(g.grid[CASE WHEN n > 1
                             THEN CAST((CAST(rk - 1 AS BIGINT) * {2 * grid} + (n - 1))
                                       // ((n - 1) * 2) AS INT)
                             ELSE {grid // 2} END + 1], 6) AS qnorm
    FROM r, g ORDER BY doc_id
    """


@query("quantile_normalize_chars", None)  # oracle attached below (generated)
def quantile_normalize_chars(spark, sf_dir):
    """Cross-source quantile normalization (traindata.quantile_normalize,
    Bolstad et al. 2003 applied to corpus scores): a document at the p-th
    percentile of its source gets the POOLED p-th percentile value, making
    values — not just ranks — comparable across sources.  Exact integer
    rank->grid index (id tiebreak), 1001-point exact-percentile pooled
    grid broadcast back; per-source windows only."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    out = traindata.quantile_normalize(
        docs, "n_chars", group_col="source", id_col="doc_id", out_col="qnorm"
    )
    return out.select("doc_id", "source", "n_chars", "qnorm").orderBy("doc_id")


QUERIES["quantile_normalize_chars"] = QuerySpec(
    build=quantile_normalize_chars, oracle=_quantile_normalize_oracle_sql()
)


@query("bootstrap_purchase_mean_ci", None)  # oracle attached below
def bootstrap_purchase_mean_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the mean purchase value
    (evalmetrics.bootstrap_mean_ci, the distributed online bootstrap):
    100 derandomized Poisson(1)-reweighted replicates in ONE
    explode+groupBy pass, exact interpolated percentile bounds over the
    100 replicate means.  Fully hash-certifiable because every 'draw' is
    an md5 inverse-CDF lookup."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return evalmetrics.bootstrap_mean_ci(
        ev, F.col("value"), F.col("event_id"), b=100
    )


QUERIES["bootstrap_purchase_mean_ci"] = QuerySpec(
    build=bootstrap_purchase_mean_ci, oracle=_boot_oracle_sql()
)


@query(
    "permutation_test_values",
    """
    WITH base AS (
      SELECT CAST(round(value * 1000000.0) AS BIGINT) AS xm, event_type AS g, event_id AS id
      FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    obs AS (
      SELECT CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             round((CAST(sum(CASE WHEN g = 'click' THEN xm ELSE 0 END) AS DOUBLE) / 1000000.0)
                     / CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
                   - (CAST(sum(CASE WHEN g = 'purchase' THEN xm ELSE 0 END) AS DOUBLE) / 1000000.0)
                     / CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE), 6) AS diff
      FROM base
    ),
    rep AS (SELECT xm, id, r FROM base, unnest(range(0, 200)) t(r)),
    coined AS (
      SELECT xm, r,
             CASE WHEN CAST(('0x' || substr(
                      md5('perm/' || CAST(r // 8 AS VARCHAR) || '/' || CAST(id AS VARCHAR)),
                      (r % 8) * 4 + 1, 4)) AS BIGINT)
                    * (obs.n_a + obs.n_b) < obs.n_a * 65536
                  THEN 0 ELSE 1 END AS c
      FROM rep CROSS JOIN obs
    ),
    diffs AS (
      SELECT CASE WHEN sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) = 0
                    OR sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
                  ELSE round((CAST(sum(CASE WHEN c = 0 THEN xm ELSE 0 END) AS DOUBLE) / 1000000.0)
                               / CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                             - (CAST(sum(CASE WHEN c = 1 THEN xm ELSE 0 END) AS DOUBLE) / 1000000.0)
                               / CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS d
      FROM coined GROUP BY r
    ),
    ex AS (
      SELECT CAST(sum(CASE WHEN abs(d) >= abs(obs.diff) THEN 1 ELSE 0 END) AS BIGINT) AS ge
      FROM diffs CROSS JOIN obs
    )
    SELECT obs.n_a, obs.n_b, obs.diff,
           round((CAST(ex.ge AS DOUBLE) + 1.0) / 201.0, 6) AS p_value
    FROM obs CROSS JOIN ex
    """,
)
def permutation_test_values(spark, sf_dir):
    """Permutation test (evalmetrics.permutation_test_diff): click vs
    purchase mean-value difference, 200 derandomized md5 relabelings
    CONDITIONED on the observed arm split (16-bit uniform vs
    n_a/(n_a+n_b), exact integer compare — a 50/50 coin would shrink null
    replicate variance for these unbalanced arms), add-one Monte-Carlo p.
    One explode+groupBy pass for all replicates; a resampling test made
    hash-certifiable by derandomization."""
    from kafka_connect_morphlines_spark.functions import evalmetrics

    ev = t(spark, sf_dir, "events")
    return evalmetrics.permutation_test_diff(
        ev, F.col("value"), F.col("event_type"), "click", "purchase",
        id_col=F.col("event_id"), b=200,
    )


@query(
    "cdc_chunk_stats",
    """
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    tr AS (
      SELECT doc_id, source, i - 1 AS pos, toks[i] AS t
      FROM tok, UNNEST(generate_series(1, len(toks))) AS r(i)
    ),
    lagged AS (
      SELECT doc_id, source, pos, t,
             lag(t, 2) OVER w AS t2, lag(t, 1) OVER w AS t1
      FROM tr WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    flagged AS (
      SELECT doc_id, source, pos, t,
             CASE WHEN pos = 0 THEN 1
                  WHEN pos >= 2 AND CAST('0x' || substr(md5(
                         coalesce(t2, '') || '|' || coalesce(t1, '') || '|' || t
                       ), 1, 15) AS BIGINT) % 16 = 0 THEN 1
                  ELSE 0 END AS b
      FROM lagged
    ),
    chunked AS (
      SELECT doc_id, source, pos, t,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, source, chunk_id,
             md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_hash
      FROM chunked GROUP BY doc_id, source, chunk_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
           round(1 - CAST(count(DISTINCT chunk_hash) AS DOUBLE) / count(*), 6)
             AS dup_chunk_ratio
    FROM chunks GROUP BY source ORDER BY source
    """,
)
def cdc_chunk_stats(spark, sf_dir):
    """Content-defined-chunking dedup audit (dedup.cdc_dedup_stats, the
    rsync/LBFS rolling-boundary idea over tokens): chunk boundaries fall
    where the md5 of the trailing 3-token window is 0 mod 16, so shared
    SHIFTED content chunks identically in every document containing it;
    per-source chunk counts, distinct chunk hashes, and the dup ratio
    chunk-level dedup would reclaim.  New in r08."""
    from kafka_connect_morphlines_spark.functions import dedup as dd

    docs = t(spark, sf_dir, "documents")
    return dd.cdc_dedup_stats(docs).orderBy("source")


@query(
    "source_overlap_matrix",
    """
    WITH tok AS (
      SELECT source, list_filter(string_split(trim(text), ' '), x -> x != '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source,
             CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15) AS BIGINT) AS g
      FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS r(i)
      WHERE len(toks) >= 8
    ),
    totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT ta.source AS src_a, tb.source AS src_b,
           ta.n_grams AS grams_a, tb.n_grams AS grams_b,
           coalesce(s.shared, 0) AS shared,
           round(CAST(coalesce(s.shared, 0) AS DOUBLE)
                 / (ta.n_grams + tb.n_grams - coalesce(s.shared, 0)), 6) AS jaccard
    FROM totals ta JOIN totals tb ON ta.source < tb.source
    LEFT JOIN shared s ON s.src_a = ta.source AND s.src_b = tb.source
    ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """Cross-source 8-gram overlap matrix (traindata.source_overlap_matrix):
    distinct portable-hashed grams per source, hash-keyed self-join for the
    shared counts, full upper triangle including zero-overlap pairs — the
    pairwise dataset-card leakage audit.  New in r08."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = t(spark, sf_dir, "documents")
    return traindata.source_overlap_matrix(docs, n=8).orderBy("src_a", "src_b")


@query(
    "chunk_sliding_windows",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x != '') AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, i AS chunk_id, CAST(i * 32 AS BIGINT) AS start_pos,
             w[i * 32 + 1 : least(i * 32 + 64, len(w))] AS ch
      FROM tok, UNNEST(generate_series(0, CAST(ceil(len(w) / 32.0) AS BIGINT) - 1)) AS t(i)
      WHERE len(w) > 0
    )
    SELECT doc_id, chunk_id, start_pos, CAST(len(ch) AS BIGINT) AS n_tokens,
           md5(array_to_string(ch, ' ')) AS chunk_digest
    FROM c
    """,
)
def chunk_sliding_windows(spark, sf_dir):
    """Overlapping 64-token windows at stride 32
    (traindata.sliding_window_chunks) — the RAG retrieval-chunking recipe
    with half-window overlap; digests keep the compare payload small.
    New in r08."""
    from kafka_connect_morphlines_spark.functions import traindata

    out = traindata.sliding_window_chunks(
        t(spark, sf_dir, "documents"), window=64, stride=32
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_digest"),
    )


@query(
    "detect_mime_type",
    r"""
    WITH payloads AS (
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN '\xFF\xD8\xFF'::BLOB || encode(text)
               WHEN 1 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB || encode(text)
               WHEN 2 THEN 'RIFF\x00\x00\x00\x00WAVEfmt '::BLOB || encode(text)
               WHEN 3 THEN '%PDF-1.7 '::BLOB || encode(text)
               WHEN 4 THEN '\x1F\x8B\x08'::BLOB || encode(text)
               ELSE encode(text) END AS payload
      FROM documents
    ),
    sniffed AS (
      SELECT doc_id, substring(hex(payload), 1, 24) AS h,
             substring(hex(payload), 17, 8) AS riff_tag
      FROM payloads
    )
    SELECT doc_id,
           CASE
             WHEN h LIKE 'FFD8FF%' THEN 'image/jpeg'
             WHEN h LIKE '89504E47%' THEN 'image/png'
             WHEN h LIKE '474946%' THEN 'image/gif'
             WHEN h LIKE '424D%' THEN 'image/bmp'
             WHEN h LIKE '25504446%' THEN 'application/pdf'
             WHEN h LIKE '504B0304%' THEN 'application/zip'
             WHEN h LIKE '1F8B%' THEN 'application/gzip'
             WHEN h LIKE 'FD377A585A00%' THEN 'application/x-xz'
             WHEN h LIKE '28B52FFD%' THEN 'application/zstd'
             WHEN h LIKE '4F626A01%' THEN 'avro/binary'
             WHEN h LIKE '3C3F786D6C%' THEN 'application/xml'
             WHEN h LIKE '494433%' THEN 'audio/mpeg'
             WHEN h LIKE '52494646%' AND riff_tag = '57415645' THEN 'audio/x-wav'
             WHEN h LIKE '52494646%' AND riff_tag = '57454250' THEN 'image/webp'
             WHEN h LIKE '52494646%' AND riff_tag = '41564920' THEN 'video/x-msvideo'
             ELSE 'application/octet-stream'
           END AS mime
    FROM sniffed ORDER BY doc_id
    """,
)
def detect_mime_type(spark, sf_dir):
    """detectMimeType command (kite stdlib gap-fill, r08): pure-codegen
    magic-byte sniff — hex the payload prefix, compare against the
    signature table, RIFF containers disambiguate on the format tag at
    offset 8.  Payloads are synthesized per doc_id residue so every
    signature class (and the fallback) is exercised on real data; the
    oracle sniffs the same bytes via substring(hex(payload))."""
    docs = t(spark, sf_dir, "documents")
    prefixes = {
        0: bytes.fromhex("FFD8FF"),
        1: bytes.fromhex("89504E470D0A1A0A"),
        2: b"RIFF\x00\x00\x00\x00WAVEfmt ",
        3: b"%PDF-1.7 ",
        4: bytes.fromhex("1F8B08"),
    }
    payload = F.encode(F.col("text"), "UTF-8")
    expr = payload
    for residue, pre in prefixes.items():
        expr = F.when(
            (F.col("doc_id") % 6).cast("int") == residue, F.concat(F.lit(pre), payload)
        ).otherwise(expr)
    staged = docs.select("doc_id", expr.alias("payload"))
    p = compile_pipeline(
        [{"detectMimeType": {"inputField": "payload", "outputField": "mime"}}]
    )
    return p(staged).select("doc_id", "mime").orderBy("doc_id")


@query(
    "read_xml_roundtrip",
    """
    SELECT doc_id, doc_id AS xid, source AS xsrc,
           CAST(length(text) AS INT) AS xn
    FROM documents ORDER BY doc_id
    """,
)
def read_xml_roundtrip(spark, sf_dir):
    """readXml + extractXmlPaths (saxon-module analog on Spark 4's native
    from_xml, r08): construct an XML body from each document's columns,
    parse it with a bound schema, project slash paths back out — the
    oracle recomputes the expected fields straight from the source
    columns, certifying the whole construct -> parse -> extract loop."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<doc><id>"), F.col("doc_id").cast("string"),
            F.lit("</id><src>"), F.col("source"),
            F.lit("</src><n>"), F.length("text").cast("string"),
            F.lit("</n></doc>"),
        ).alias("_value"),
    )
    p = compile_pipeline(
        [
            {"readXml": {"schemaDdl": "id BIGINT, src STRING, n INT"}},
            {"extractXmlPaths": {"paths": {"xid": "/id", "xsrc": "/src", "xn": "/n"}}},
        ]
    )
    return p(docs).select("doc_id", "xid", "xsrc", "xn").orderBy("doc_id")


_UA_TEMPLATES = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36", "Chrome", "120", "Windows"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) "
     "Version/17.1 Safari/605.1.15", "Safari", "17", "Mac OS X"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0", "Firefox", "115", "Linux"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91", "Edge", "120", "Windows"),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.6099.43 Mobile Safari/537.36 OPR/76.2.4027.73374", "Opera", "76", "Android"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1", "Safari", "17", "iOS"),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", "Bot", None, "Other"),
]


def _ua_oracle_sql() -> str:
    fam = " ".join(
        f"WHEN {i} THEN '{f}'" for i, (_, f, _v, _o) in enumerate(_UA_TEMPLATES)
    )
    ver = " ".join(
        f"WHEN {i} THEN {repr(v) if v else 'NULL'}" for i, (_, _f, v, _o) in enumerate(_UA_TEMPLATES)
    )
    osf = " ".join(
        f"WHEN {i} THEN '{o}'" for i, (_, _f, _v, o) in enumerate(_UA_TEMPLATES)
    )
    return f"""
    SELECT event_id,
           CASE CAST(event_id % 7 AS INT) {fam} END AS ua_family,
           CASE CAST(event_id % 7 AS INT) {ver} END AS ua_major,
           CASE CAST(event_id % 7 AS INT) {osf} END AS ua_os
    FROM events WHERE event_id % 97 = 0 ORDER BY event_id
    """


@query("user_agent_parse", _ua_oracle_sql())
def user_agent_parse(spark, sf_dir):
    """userAgent command (kite useragent-module core subset, r08):
    precedence-ordered family/major/OS extraction as codegen
    regexp/contains expressions.  UA strings are synthesized per event_id
    residue from seven real-world templates (Chromium token pile-ups, the
    Edge/Opera-before-Chrome precedence, a bot); the oracle recomputes the
    expected labels from the residues — certifying the parse is exactly
    right on every template class."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    ua = F.element_at(
        F.array(*[F.lit(t_[0]) for t_ in _UA_TEMPLATES]),
        (F.col("event_id") % 7).cast("int") + 1,
    )
    staged = ev.select("event_id", ua.alias("agent"))
    p = compile_pipeline([{"userAgent": {"inputField": "agent"}}])
    return p(staged).select("event_id", "ua_family", "ua_major", "ua_os").orderBy("event_id")


# Queries whose DuckDB oracle is a committed GOLDEN PARQUET generated at
# sf0.01 (the driver's correctness SF by contract) rather than live SQL
# over the input tables (ADVICE r09): running their oracle at any other
# scale factor mismatches by construction, so tools/check_correctness.py
# downgrades them to rows-only checks unless sf_dir is sf0.01.  Regenerate
# with tools/make_golden_oracle.py QUERY_NAME.
GOLDEN_SF001_ORACLES = frozenset(
    {"compression_ratio_quality", "icws_weighted_near_dupes"}
)
