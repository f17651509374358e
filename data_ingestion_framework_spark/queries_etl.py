"""ETL-lifecycle queries: full SCD merges, late-arriving dims, reshape
operators (pivot/rollup/unpivot), JSON and scalar-function surfaces,
multimodal metadata.

These run the actual merge operators (operators/scd.py) end-to-end with
literal timestamps so the whole new-table-state is oracle-checkable in
portable SQL — the strongest correctness artifact for the merge engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_framework_spark.operators import scd
from data_ingestion_framework_spark.operators.multimodal import pack_media
from data_ingestion_framework_spark.registry import bench_query, load
from data_ingestion_framework_spark.session import local_frame

T0 = "2024-01-01 00:00:00"
T1 = "2024-01-02 00:00:00"


def _v(df, cols):
    return df.select(*cols)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp whose removal is deferred to interpreter exit — the
    lifecycle queries return LAZY frames over the scratch tables, so
    the files must outlive the harness's collect; atexit cleanup keeps
    repeated bench/correctness runs from accumulating copies in /tmp."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


# ---------------------------------------------------------------------------
# SCD1 merge lifecycle (writers/batch_writers.py:99-127 semantics):
# target = even orderkeys @t0, source = %3 keys @t1 with bumped price.
# ---------------------------------------------------------------------------
@bench_query(
    "scd1_merge_state",
    oracle=f"""
    WITH target AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price,
             TIMESTAMP '{T0}' AS mtime
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    source AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice + 500.0 AS price,
             TIMESTAMP '{T1}' AS mtime
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT pk, status, price, mtime FROM target
    WHERE pk NOT IN (SELECT pk FROM source)
    UNION ALL
    SELECT pk, status, price, mtime FROM source
    """,
)
def scd1_merge_state(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    target = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
    )
    source = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") + 500.0).alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    )
    return scd.scd1_apply(target, source, ["pk"], "mtime")


# ---------------------------------------------------------------------------
# SCD2 full-lifecycle merge (writers/writer.py:177-281 semantics incl.
# WHEN NOT MATCHED BY SOURCE soft delete): the entire new table state is
# oracle-checked — close-outs, new versions, untouched rows, deletes.
# ---------------------------------------------------------------------------
@bench_query(
    "scd2_merge_state",
    oracle=f"""
    WITH v0 AS (SELECT p_partkey AS pk, p_retailprice AS price FROM part),
    v1 AS (
      SELECT p_partkey AS pk,
             CASE WHEN p_partkey % 4 = 0 THEN p_retailprice + 50.0
                  ELSE p_retailprice END AS price
      FROM part WHERE p_partkey % 2 = 0
    )
    SELECT pk, price, TIMESTAMP '{T0}' AS start_time, TIMESTAMP '{T1}' AS end_time,
           0 AS is_current, CAST(NULL AS TIMESTAMP) AS delete_time
    FROM v0 WHERE pk % 4 = 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T1}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v1 WHERE pk % 4 = 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T0}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v0 WHERE pk % 2 = 0 AND pk % 4 <> 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T0}', TIMESTAMP '{T1}', 0, TIMESTAMP '{T1}'
    FROM v0 WHERE pk % 2 <> 0
    """,
)
def scd2_merge_state(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    v0 = part.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_retailprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
    )
    state = scd.scd2_apply(None, v0, ["pk"], "mtime")
    v1 = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("pk"),
        F.when(
            F.col("p_partkey") % 4 == 0, F.col("p_retailprice") + 50.0
        ).otherwise(F.col("p_retailprice")).alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    )
    state = scd.scd2_apply(
        state, v1, ["pk"], "mtime", full_extract=True, deleted_at=T1
    )
    return state.select(
        "pk", "price", "start_time", "end_time", "is_current", "delete_time"
    )


# ---------------------------------------------------------------------------
# SCD1 current view of the SCD2 state (the IE dual-target 'current'
# table, writers/writer.py:284-420).
# ---------------------------------------------------------------------------
@bench_query(
    "scd2_current_view",
    oracle=f"""
    WITH v1 AS (
      SELECT p_partkey AS pk,
             CASE WHEN p_partkey % 4 = 0 THEN p_retailprice + 50.0
                  ELSE p_retailprice END AS price
      FROM part WHERE p_partkey % 2 = 0
    )
    SELECT pk, price FROM v1
    """,
)
def scd2_current_view(spark, sf_dir):
    return scd.current_view(scd2_merge_state(spark, sf_dir)).select("pk", "price")


# ---------------------------------------------------------------------------
# Lakehouse MERGE SQL path under the oracle gate (sinks/merge_sql.py):
# the same lifecycles as scd{1,2}_merge_state, but computed by EXECUTING
# the emitted state-equivalent SQL — proving the rendered MERGE
# semantics match the DataFrame engine, checked against DuckDB.
# ---------------------------------------------------------------------------
@bench_query(
    "merge_sql_scd1_state",
    oracle=f"""
    WITH target AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price,
             TIMESTAMP '{T0}' AS mtime, CAST(NULL AS TIMESTAMP) AS delete_time
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    source AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice + 500.0 AS price,
             TIMESTAMP '{T1}' AS mtime
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT pk, status, price, mtime, TIMESTAMP '{T1}' AS delete_time
    FROM target WHERE pk NOT IN (SELECT pk FROM source)
    UNION ALL
    SELECT pk, status, price, mtime, CAST(NULL AS TIMESTAMP) FROM source
    """,
)
def merge_sql_scd1_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.merge_sql import scd1_state_sql

    orders = load(spark, sf_dir, "orders")
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
        F.lit(None).cast("timestamp").alias("delete_time"),
    ).createOrReplaceTempView("__msql1_target")
    orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") + 500.0).alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    ).createOrReplaceTempView("__msql1_source")
    return spark.sql(
        scd1_state_sql(
            "__msql1_target",
            "__msql1_source",
            ["pk"],
            "mtime",
            ["pk", "status", "price", "mtime"],
            full_extract=True,
            now_expr=f"TIMESTAMP '{T1}'",
        )
    )


@bench_query(
    "merge_sql_scd2_state",
    oracle=f"""
    WITH v0 AS (SELECT p_partkey AS pk, p_retailprice AS price FROM part),
    v1 AS (
      SELECT p_partkey AS pk,
             CASE WHEN p_partkey % 4 = 0 THEN p_retailprice + 50.0
                  ELSE p_retailprice END AS price
      FROM part WHERE p_partkey % 2 = 0
    )
    SELECT pk, price, TIMESTAMP '{T0}' AS start_time, TIMESTAMP '{T1}' AS end_time,
           0 AS is_current, CAST(NULL AS TIMESTAMP) AS delete_time
    FROM v0 WHERE pk % 4 = 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T1}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v1 WHERE pk % 4 = 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T0}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v0 WHERE pk % 2 = 0 AND pk % 4 <> 0
    UNION ALL
    SELECT pk, price, TIMESTAMP '{T0}', TIMESTAMP '{T1}', 0, TIMESTAMP '{T1}'
    FROM v0 WHERE pk % 2 <> 0
    """,
)
def merge_sql_scd2_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.merge_sql import scd2_state_sql

    part = load(spark, sf_dir, "part")
    cols = ["pk", "price", "mtime"]
    part.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_retailprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
    ).createOrReplaceTempView("__msql2_v0")
    spark.sql(
        scd2_state_sql(None, "__msql2_v0", ["pk"], "mtime", cols)
    ).createOrReplaceTempView("__msql2_s0")
    part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("pk"),
        F.when(F.col("p_partkey") % 4 == 0, F.col("p_retailprice") + 50.0)
        .otherwise(F.col("p_retailprice"))
        .alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    ).createOrReplaceTempView("__msql2_v1")
    state = spark.sql(
        scd2_state_sql(
            "__msql2_s0",
            "__msql2_v1",
            ["pk"],
            "mtime",
            cols,
            full_extract=True,
            deleted_at=T1,
        )
    )
    return state.select(
        "pk", "price", "start_time", "end_time", "is_current", "delete_time"
    )


# ---------------------------------------------------------------------------
# Late-arriving dimension defaults (material_external_dim.py:1294+):
# fact keys missing from the dim produce inferred default rows.
# ---------------------------------------------------------------------------
@bench_query(
    "late_arriving_dim",
    oracle="""
    SELECT DISTINCT l_partkey AS p_partkey,
           'UNKNOWN' AS p_name, CAST(0.0 AS DOUBLE) AS p_retailprice,
           1 AS is_inferred
    FROM lineitem
    WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 3 <> 0)
    """,
)
def late_arriving_dim(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    dim = load(spark, sf_dir, "part").where(F.col("p_partkey") % 3 != 0)
    return scd.late_arriving_dim_defaults(
        li, dim, "l_partkey", "p_partkey",
        {"p_name": "UNKNOWN", "p_retailprice": 0.0},
    )


# ---------------------------------------------------------------------------
# Pivot (SURVEY §2.5 'free in Spark'): order counts+revenue by priority,
# pivoted on status.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS F,
           CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_pivot_status(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")))
    )
    return piv.select(
        "o_orderpriority",
        F.col("F").cast("double").alias("F"),
        F.col("O").cast("double").alias("O"),
        F.col("P").cast("double").alias("P"),
    )


# ---------------------------------------------------------------------------
# Rollup (grouping sets): revenue by (status, priority) with subtotals.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Unpivot wide→long (DataFrame.unpivot, Spark ≥3.4 — the DQ result
# reshape, di_landing_to_raw_generic_v2.py:617).
# ---------------------------------------------------------------------------
@bench_query(
    "part_unpivot_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def part_unpivot_metrics(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


# ---------------------------------------------------------------------------
# JSON extraction (audit payloads, §2.9): events.props is a JSON string.
# ---------------------------------------------------------------------------
@bench_query(
    "events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_val,
           event_type
    FROM events
    """,
)
def events_json_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        "event_type",
    )


# ---------------------------------------------------------------------------
# Scalar string-function surface (§2.9): portable subset, exercised as
# one projection.
# ---------------------------------------------------------------------------
@bench_query(
    "customer_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           replace(c_name, '#', '-') AS name_dashed,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           split_part(c_name, '#', 1) AS name_head
    FROM customer
    """,
)
def customer_string_funcs(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
    )


# ---------------------------------------------------------------------------
# Date/time function surface (§2.9): extraction + interval arithmetic.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           o_orderdate + INTERVAL 30 DAY AS due_ts
    FROM orders
    """,
)
def orders_date_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_ts"),
    )


# ---------------------------------------------------------------------------
# Multimodal metadata (binary-column contract): byte length + payload
# hash + media type, all JVM-side (operators/multimodal.py).
# ---------------------------------------------------------------------------
@bench_query(
    "multimodal_media_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           'document' AS media_type
    FROM documents
    """,
)
def multimodal_media_meta(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    packed = pack_media(docs, "text", media_type="document")
    return packed.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.payload_md5").alias("payload_md5"),
        F.col("media_meta.media_type").alias("media_type"),
    )


# ---------------------------------------------------------------------------
# Multimodal decode path, oracle-backed: each document gets a
# spec-valid PNG or GIF header synthesized JVM-side with dimensions
# derived from doc_id (operators/multimodal.py synthesize_*), and the
# stdlib header decoder recovers (width, height, channels) through the
# Arrow mapInPandas decode hop. The oracle recomputes the dims straight
# from the synthesis spec — a broken synthesis, parse, or decode
# plumbing all surface as value mismatches. The header decoder is
# pinned (not best_image_decoder) so results don't depend on whether
# Pillow is installed.
# ---------------------------------------------------------------------------
@bench_query(
    "multimodal_decode_dims",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 480 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 480 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 3
                     ELSE CASE ((doc_id // 2) % 3)
                          WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                END AS INT) AS channels
    FROM documents
    """,
)
def multimodal_decode_dims(spark, sf_dir):
    from data_ingestion_framework_spark.operators.multimodal import (
        decode_images,
        header_image_decoder,
        synthesize_gif_header,
        synthesize_png_header,
    )

    docs = load(spark, sf_dir, "documents")
    w = (F.lit(16) + F.col("doc_id") % 480).cast("bigint")
    h = (F.lit(16) + (F.col("doc_id") * 7) % 480).cast("bigint")
    color_type = F.expr(
        "CASE ((doc_id div 2) % 3) WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END"
    )
    payload = F.when(F.col("doc_id") % 2 == 0, synthesize_png_header(w, h, color_type)).otherwise(
        synthesize_gif_header(w, h)
    )
    packed = pack_media(
        docs.select("doc_id").withColumn("payload", payload), "payload", "image"
    )
    return decode_images(packed, decoder=header_image_decoder).select(
        "doc_id", "width", "height", "channels"
    )


# ---------------------------------------------------------------------------
# Curated-layer attribute array: to_json(collect_list(struct(...)))
# (material_external_dim.py:304-539's 150-field pattern, miniaturized).
# Elements are sorted inside the aggregation so the JSON text is
# deterministic; both engines emit compact JSON.
# ---------------------------------------------------------------------------
@bench_query(
    "part_attr_json",
    oracle="""
    SELECT p_brand,
           CAST(to_json(list(struct_pack(t := p_type, s := p_size)
                             ORDER BY p_type, p_partkey)) AS VARCHAR) AS attrs
    FROM part GROUP BY p_brand
    """,
)
def part_attr_json(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.to_json(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("p_type", "p_partkey", "p_size"))
                ),
                lambda x: F.struct(x.p_type.alias("t"), x.p_size.alias("s")),
            )
        ).alias("attrs")
    )


# ---------------------------------------------------------------------------
# IE dual-target merge, oracle-backed end-to-end: two incremental merges
# + a delete feed through real ParquetTable commits (staging-swap), then
# the HISTORY table state is checked against the closed-form oracle.
# Covers writers/writer.py:284-420 (_upsert_to_delta_batch_ie).
# ---------------------------------------------------------------------------
T2 = "2024-01-03 00:00:00"


@bench_query(
    "ie_history_state",
    oracle=f"""
    WITH v0 AS (SELECT o_orderkey AS pk, o_totalprice AS price FROM orders),
    v1 AS (SELECT o_orderkey AS pk, o_totalprice + 500.0 AS price
           FROM orders WHERE o_orderkey % 3 = 0)
    -- updated keys: closed-out v0 row
    SELECT pk, price, TIMESTAMP '{T0}' AS start_time, TIMESTAMP '{T1}' AS end_time,
           0 AS is_current, CAST(NULL AS TIMESTAMP) AS delete_time
    FROM v0 WHERE pk % 3 = 0
    UNION ALL
    -- updated keys, not deleted: new current version
    SELECT pk, price, TIMESTAMP '{T1}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v1 WHERE pk % 5 <> 0
    UNION ALL
    -- updated keys later deleted: new version soft-closed at T2
    SELECT pk, price, TIMESTAMP '{T1}', TIMESTAMP '{T2}', 0, TIMESTAMP '{T2}'
    FROM v1 WHERE pk % 5 = 0
    UNION ALL
    -- untouched keys, not deleted: still current from T0
    SELECT pk, price, TIMESTAMP '{T0}', CAST(NULL AS TIMESTAMP), 1, CAST(NULL AS TIMESTAMP)
    FROM v0 WHERE pk % 3 <> 0 AND pk % 5 <> 0
    UNION ALL
    -- untouched keys deleted by the feed: soft-deleted v0 row
    SELECT pk, price, TIMESTAMP '{T0}', TIMESTAMP '{T2}', 0, TIMESTAMP '{T2}'
    FROM v0 WHERE pk % 3 <> 0 AND pk % 5 = 0
    """,
)
def ie_history_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.writers import ie_dual_target_merge
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    tmp = _scratch_dir("difs_ie_")
    cur = ParquetTable(spark, f"{tmp}/current")
    hist = ParquetTable(spark, f"{tmp}/history")
    orders = load(spark, sf_dir, "orders")
    v0 = orders.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
    )
    ie_dual_target_merge(cur, hist, v0, ["pk"], "mtime")
    v1 = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_totalprice") + 500.0).alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    )
    deletes = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("pk")
    )
    ie_dual_target_merge(
        cur, hist, v1, ["pk"], "mtime", delete_feed=deletes, deleted_at=T2
    )
    return hist.read().select(
        "pk", "price", "start_time", "end_time", "is_current", "delete_time"
    )


# ---------------------------------------------------------------------------
# Z-order layout (OPTIMIZE ... ZORDER BY parity — the reference
# maintains its Delta tables with OPTIMIZE, writers/writer.py:276-281;
# Databricks' ZORDER BY extends that to multi-column data skipping).
# The oracle re-derives the exact same Morton codes: integer-exact
# bucketing ((x-min)*2^bits div span — no float edge disagreements)
# and the same bit-interleave, so the codes the layout sorts by are
# value-checked end-to-end. bits=16 over (custkey, order-day).
# ---------------------------------------------------------------------------
_Z_BITS = 16


def _zorder_interleave_sql(xcol: str, ycol: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xcol} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ycol} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


@bench_query(
    "orders_zorder_keys",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS x,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS y
      FROM orders
    ),
    r AS (
      SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
      FROM d
    ),
    b AS (
      SELECT o_orderkey,
             GREATEST(CAST(0 AS BIGINT), LEAST(CAST({(1 << _Z_BITS) - 1} AS BIGINT),
               ((x - xmin) * {1 << _Z_BITS}) // (xmax - xmin + 1))) AS bx,
             GREATEST(CAST(0 AS BIGINT), LEAST(CAST({(1 << _Z_BITS) - 1} AS BIGINT),
               ((y - ymin) * {1 << _Z_BITS}) // (ymax - ymin + 1))) AS by
      FROM d, r
    )
    SELECT o_orderkey, CAST({_zorder_interleave_sql('bx', 'by', _Z_BITS)} AS BIGINT) AS zval
    FROM b
    """,
)
def orders_zorder_keys(spark, sf_dir):
    """Morton codes the z-order layout clusters by: (o_custkey,
    days-since-epoch-of-o_orderdate) quantized to 16-bit buckets and
    bit-interleaved. ``zorder_layout`` range-partitions + sorts on this
    value; here the code itself is surfaced per order so the oracle can
    hash-check the curve the files would be laid out along."""
    from data_ingestion_framework_spark.operators.zorder import zorder_code

    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("y"),
    )
    code, _ = zorder_code(d, ["x", "y"], bits=_Z_BITS)
    return d.select("o_orderkey", code.alias("zval"))


# ---------------------------------------------------------------------------
# Change Data Feed emission: the per-row change stream a MERGE of
# source into target produces (Delta readChangeFeed parity —
# insert / update_preimage / update_postimage / delete). Same
# target/source fixture as scd1_merge_state so the two artifacts
# cross-check: the CDF applied to the target must yield the merge's
# new state. Matched-but-unchanged rows emit nothing.
# ---------------------------------------------------------------------------
@bench_query(
    "cdf_merge_changes",
    oracle=f"""
    WITH target AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price,
             TIMESTAMP '{T0}' AS mtime
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    source AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice + 500.0 AS price,
             TIMESTAMP '{T1}' AS mtime
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    ins AS (
      SELECT s.pk, s.status, s.price, s.mtime, 'insert' AS _change_type
      FROM source s LEFT JOIN target t ON s.pk = t.pk WHERE t.pk IS NULL
    ),
    del AS (
      SELECT t.pk, t.status, t.price, t.mtime, 'delete' AS _change_type
      FROM target t LEFT JOIN source s ON s.pk = t.pk WHERE s.pk IS NULL
    ),
    pre AS (
      SELECT t.pk, t.status, t.price, t.mtime, 'update_preimage' AS _change_type
      FROM target t JOIN source s ON s.pk = t.pk
      WHERE s.status IS DISTINCT FROM t.status
         OR s.price IS DISTINCT FROM t.price
         OR s.mtime IS DISTINCT FROM t.mtime
    ),
    post AS (
      SELECT s.pk, s.status, s.price, s.mtime, 'update_postimage' AS _change_type
      FROM target t JOIN source s ON s.pk = t.pk
      WHERE s.status IS DISTINCT FROM t.status
         OR s.price IS DISTINCT FROM t.price
         OR s.mtime IS DISTINCT FROM t.mtime
    )
    SELECT * FROM ins UNION ALL SELECT * FROM del
    UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post
    """,
)
def cdf_merge_changes(spark, sf_dir):
    from data_ingestion_framework_spark.operators import cdc

    orders = load(spark, sf_dir, "orders")
    target = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(T0).cast("timestamp").alias("mtime"),
    )
    source = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") + 500.0).alias("price"),
        F.lit(T1).cast("timestamp").alias("mtime"),
    )
    return cdc.change_data_feed(
        target, source, ["pk"], full_extract=True
    )


# ---------------------------------------------------------------------------
# Multimodal audio decode path, oracle-backed the same way as
# multimodal_decode_dims: each document gets a spec-valid RIFF/WAVE
# header synthesized JVM-side with audio properties derived from
# doc_id, and the stdlib WAV parser recovers (sample_rate, channels,
# bits, frames, duration) through the Arrow mapInPandas hop. The
# oracle recomputes the properties straight from the synthesis spec —
# broken synthesis, chunk walk, or decode plumbing all surface as
# value mismatches. duration = n_frames / rate as IEEE double in both
# engines (one division, same operands — bit-identical).
# ---------------------------------------------------------------------------
@bench_query(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id,
           CAST(CASE (doc_id % 3) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS INT)
             AS bits_per_sample,
           CAST(1000 + doc_id % 9000 AS BIGINT) AS n_frames,
           CAST(1000 + doc_id % 9000 AS DOUBLE)
             / CAST(CASE (doc_id % 3) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS DOUBLE) AS duration_sec
    FROM documents
    """,
)
def multimodal_audio_meta(spark, sf_dir):
    from data_ingestion_framework_spark.operators.multimodal import (
        decode_audio,
        synthesize_wav_header,
    )

    docs = load(spark, sf_dir, "documents")
    rate = F.expr(
        "CASE (doc_id % 3) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END"
    ).cast("bigint")
    channels = (F.lit(1) + F.col("doc_id") % 2).cast("bigint")
    bits = F.when(F.col("doc_id") % 4 == 0, F.lit(8)).otherwise(F.lit(16)).cast("bigint")
    n_frames = (F.lit(1000) + F.col("doc_id") % 9000).cast("bigint")
    payload = synthesize_wav_header(rate, channels, bits, n_frames)
    packed = pack_media(
        docs.select("doc_id").withColumn("payload", payload), "payload", "audio"
    )
    return decode_audio(packed).select(
        "doc_id",
        "sample_rate",
        "channels",
        "bits_per_sample",
        "n_frames",
        "duration_sec",
    )


# ---------------------------------------------------------------------------
# Incremental-aggregate lifecycle under the oracle gate (the pattern
# ie_history_state set): the events stream lands in two append commits
# with a refresh folded after each; the final aggregate STATE must
# equal a single full aggregation of everything — the semigroup
# merge law, value-checked end-to-end through real table commits.
# ---------------------------------------------------------------------------
@bench_query(
    "events_incremental_rollup",
    oracle="""
    SELECT user_id,
           CAST(COUNT(value) AS BIGINT) AS n_events,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM events
    GROUP BY user_id
    """,
)
def events_incremental_rollup(spark, sf_dir):
    from data_ingestion_framework_spark.operators.incremental import (
        refresh_aggregate,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tmp = _scratch_dir("difs_incr_")
    base = ParquetTable(spark, f"{tmp}/base")
    agg = ParquetTable(spark, f"{tmp}/agg")
    base.overwrite(ev.where(F.col("event_id") % 2 == 0))
    refresh_aggregate(
        base, agg, ["user_id"],
        {"n_events": ("count", "value"), "lo": ("min", "value"), "hi": ("max", "value")},
    )
    base.append(ev.where(F.col("event_id") % 2 != 0))
    refresh_aggregate(
        base, agg, ["user_id"],
        {"n_events": ("count", "value"), "lo": ("min", "value"), "hi": ("max", "value")},
    )
    return agg.read().select("user_id", "n_events", "lo", "hi")


# ---------------------------------------------------------------------------
# Partition-scoped incremental refresh: the base is PARTITIONED by the
# group key, so after a non-file-additive partition merge (which
# read_since refuses) the refresh recomputes only the touched
# partitions — including exact min/max retraction of the replaced
# rows, which a pure semigroup fold cannot express. The oracle is the
# final full recompute: %3 users get their rows replaced by a halved
# value set, everyone else keeps the original commit's rows.
# ---------------------------------------------------------------------------
@bench_query(
    "events_incremental_partition_rollup",
    oracle="""
    WITH final AS (
      SELECT user_id, value FROM events WHERE user_id % 3 <> 0
      UNION ALL
      SELECT user_id, value / 2.0 AS value FROM events
      WHERE user_id % 3 = 0 AND event_id % 2 = 0
    )
    SELECT user_id,
           CAST(COUNT(value) AS BIGINT) AS n_events,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM final
    GROUP BY user_id
    """,
)
def events_incremental_partition_rollup(spark, sf_dir):
    from data_ingestion_framework_spark.operators.incremental import (
        refresh_aggregate,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    measures = {
        "n_events": ("count", "value"),
        "lo": ("min", "value"),
        "hi": ("max", "value"),
    }
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tmp = _scratch_dir("difs_pincr_")
    base = ParquetTable(spark, f"{tmp}/base", partition_by=["user_id"])
    agg = ParquetTable(spark, f"{tmp}/agg")
    base.overwrite(ev)
    refresh_aggregate(base, agg, ["user_id"], measures)
    # partition-scoped merge: %3 users' rows replaced with half of the
    # events at half value — read_since refuses this commit, the
    # partition-scoped path folds it
    merge_df = ev.where(
        (F.col("user_id") % 3 == 0) & (F.col("event_id") % 2 == 0)
    ).withColumn("value", F.col("value") / 2.0)
    # flag every %3 partition as touched even if its merge frame is
    # empty (a user with no even events must lose ALL rows, matching
    # the oracle) — control-plane sized: one distinct over user ids
    touched = [
        f"user_id={r['user_id']}"
        for r in ev.select("user_id")
        .where(F.col("user_id") % 3 == 0)
        .distinct()
        .collect()
    ]
    base.overwrite_partitions(merge_df, extra_touched=touched)
    refresh_aggregate(base, agg, ["user_id"], measures)
    return agg.read().select(
        "user_id",
        "n_events",
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# RESTORE lifecycle under the oracle gate: load orders, destructively
# overwrite with a filtered state, then RESTORE TO VERSION — the final
# state must be bit-identical to the original load, proving the
# snapshot-retention + rollback-as-new-commit path end-to-end.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_restore_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    """,
)
def orders_restore_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_restore_") + "/t")
    t.overwrite(orders)
    good_seq = t.history()[-1]["seq"]
    t.overwrite(orders.where(F.col("o_orderkey") % 7 == 0))  # bad deploy
    t.restore(good_seq)
    return t.read()


# ---------------------------------------------------------------------------
# Row-erasure lifecycle under the oracle gate: load orders, DELETE the
# %5 keys, return the surviving state — the whole staged-swap rewrite
# + commit path is what's being value-checked, not just a filter.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_delete_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
    """,
)
def orders_delete_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_del_") + "/t")
    t.overwrite(orders)
    t.delete_where(F.col("o_orderkey") % 5 == 0)
    return t.read()


# ---------------------------------------------------------------------------
# UPDATE statement lifecycle under the oracle gate (Delta UPDATE ...
# SET ... WHERE parity): load orders, apply a conditional multi-column
# update whose expressions read the PRE-update values, return the full
# table state — the staged-swap rewrite + update commit path is what's
# value-checked, including untouched rows passing through unchanged.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_update_state",
    oracle="""
    SELECT o_orderkey AS pk,
           CASE WHEN o_orderkey % 4 = 0 AND o_orderstatus = 'O'
                THEN o_totalprice * 1.1 ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 4 = 0 AND o_orderstatus = 'O'
                THEN 'U' ELSE o_orderstatus END AS status
    FROM orders
    """,
)
def orders_update_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    t = ParquetTable(spark, _scratch_dir("difs_upd_") + "/t")
    t.overwrite(orders)
    t.update_where(
        {"price": F.col("price") * 1.1, "status": F.lit("U")},
        predicate=(F.col("pk") % 4 == 0) & (F.col("status") == "O"),
    )
    return t.read()


# ---------------------------------------------------------------------------
# Log-stats data skipping under the oracle gate: write orders
# range-clustered on o_totalprice (tight per-file min/max), DELETE the
# %5 keys through the file-scoped COW path (whose replacement files'
# stats are recorded by THAT commit), then answer a range predicate via
# range_scan — file pruning planned ENTIRELY from the commit log's
# per-file stats (Delta's stats-in-add-action model: zero footer I/O at
# query time; test_range_scan_plans_from_log_stats pins the no-footer
# property, this row pins the values). The oracle applies the same
# lifecycle as plain SQL.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_stats_skipping_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 5 <> 0
      AND o_totalprice >= 60000.0 AND o_totalprice <= 160000.0
    """,
)
def orders_stats_skipping_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_stats_") + "/t")
    t.overwrite(orders.repartitionByRange(8, "o_totalprice"))
    t.delete_where(F.col("o_orderkey") % 5 == 0)
    return t.range_scan("o_totalprice", 60000.0, 160000.0)


# ---------------------------------------------------------------------------
# Identity-column lifecycle under the oracle gate (Delta GENERATED
# ALWAYS AS IDENTITY parity): declare (start=1000, step=2), load the
# %3 keys, then append the rest — the second batch must continue past
# the persisted high-water mark, which the store reads from the FIRST
# commit's per-file log stats (zero extra jobs). Deterministic
# order_by mode makes the allocation oracle-expressible: the global
# ROW_NUMBER ordered (batch, key) reproduces both allocations because
# hwm-after-batch-1 = base + step * n1 exactly. The one-pass gap-mode
# allocator (monotonically_increasing_id arithmetic) is pinned by
# test_identity_columns instead — per-partition ranks are not
# SQL-reproducible by design.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_identity_state",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           998 + 2 * ROW_NUMBER() OVER (
             ORDER BY CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE 1 END,
                      o_orderkey) AS row_id
    FROM orders
    """,
)
def orders_identity_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = ParquetTable(spark, _scratch_dir("difs_ident_") + "/t")
    t.add_identity_column("row_id", start=1000, step=2)
    t.overwrite(
        orders.where(F.col("o_orderkey") % 3 == 0),
        identity_order_by=["o_orderkey"],
    )
    t.append(
        orders.where(F.col("o_orderkey") % 3 != 0),
        identity_order_by=["o_orderkey"],
    )
    return t.read()


# ---------------------------------------------------------------------------
# Metadata-only aggregate answers under the oracle gate: COUNT(*),
# MIN and MAX straight from the commit log's per-file stats — zero
# data bytes AND zero footer reads at query time (Delta's
# log-statistics answers). The lifecycle spans two appends and a COW
# delete so the folded stats cross three commits; the oracle computes
# the same aggregates the slow way. A one-row result frame is built
# from the driver-side answers (the values ARE control-plane).
# ---------------------------------------------------------------------------
@bench_query(
    "orders_minmax_metadata",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def orders_minmax_metadata(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_minmax_") + "/t")
    t.overwrite(orders.where(F.col("o_orderkey") % 2 == 0))
    t.append(orders.where(F.col("o_orderkey") % 2 != 0))
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    n = t.count_rows()
    kmin, kmax = t.column_min_max("o_orderkey")
    pmin, pmax = t.column_min_max("o_totalprice")
    return local_frame(
        spark,
        [(n, kmin, kmax, float(pmin), float(pmax))],
        "n_rows bigint, min_key bigint, max_key bigint, "
        "min_price double, max_price double",
    )


# ---------------------------------------------------------------------------
# Surrogate-key dimension load under the oracle gate: a BY DEFAULT
# identity column + scd1_surrogate_apply across three merges. The
# contract being value-checked: a key's surrogate is minted ONCE
# (first-seen batch, in deterministic key order past the high-water
# mark) and survives every later attribute update — batch 2 updates
# every row (even keys keep batch-1 ids, odd keys draw fresh ones),
# batch 3 updates only the %3 keys (ids still unchanged). The oracle
# reproduces the mint order with batch-scoped ROW_NUMBERs.
# ---------------------------------------------------------------------------
@bench_query(
    "customer_surrogate_scd1_state",
    oracle="""
    WITH n1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c FROM customer WHERE c_custkey % 2 = 0
    ), ids AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0
                  THEN ROW_NUMBER() OVER (
                         PARTITION BY c_custkey % 2 ORDER BY c_custkey)
                  ELSE (SELECT c FROM n1) + ROW_NUMBER() OVER (
                         PARTITION BY c_custkey % 2 ORDER BY c_custkey)
             END AS row_id
      FROM customer
    )
    SELECT c.c_custkey, c.c_name,
           c.c_acctbal + CASE WHEN c.c_custkey % 3 = 0 THEN 200 ELSE 100 END
             AS bal,
           CAST(i.row_id AS BIGINT) AS row_id
    FROM customer c JOIN ids i ON c.c_custkey = i.c_custkey
    """,
)
def customer_surrogate_scd1_state(spark, sf_dir):
    from data_ingestion_framework_spark.operators.scd import (
        scd1_surrogate_apply,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("bal")
    ).withColumn("v", F.lit(1))
    t = ParquetTable(spark, _scratch_dir("difs_surr_") + "/t")
    t.add_identity_column("row_id", start=1, step=1, always=False)

    b1 = cust.where(F.col("c_custkey") % 2 == 0)
    t.overwrite(
        scd1_surrogate_apply(None, b1, ["c_custkey"], "v"),
        identity_order_by=["c_custkey"],
    )
    b2 = cust.withColumn("bal", F.col("bal") + 100)
    t.overwrite(
        scd1_surrogate_apply(t.read(), b2, ["c_custkey"], "v"),
        identity_order_by=["c_custkey"],
    )
    b3 = cust.where(F.col("c_custkey") % 3 == 0).withColumn(
        "bal", F.col("bal") + 200
    )
    t.overwrite(
        scd1_surrogate_apply(t.read(), b3, ["c_custkey"], "v"),
        identity_order_by=["c_custkey"],
    )
    return t.read().select("c_custkey", "c_name", "bal", "row_id")


# ---------------------------------------------------------------------------
# Strict log reads + checkpoint fold under the oracle gate: twelve
# append commits (a checkpoint lands at commit 10) into a
# ``strict_files`` table, then a range_scan whose file pruning is
# planned ENTIRELY from checkpoint + log tail and whose scan reads
# exactly the latest record's file list. The oracle replays the same
# range over the union of the twelve slices (= the filtered base
# table). Values prove: no slice lost, no file double-read, checkpoint
# fold == full-log fold.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_strict_log_state",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey <= 50000
    """,
)
def orders_strict_log_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_strict_") + "/t")
    t.set_properties({"strict_files": True})
    for i in range(12):
        t.append(orders.where(F.col("o_orderkey") % 12 == i))
    return t.range_scan("o_orderkey", 1000, 50000)


# ---------------------------------------------------------------------------
# Multimodal video path, same contract as multimodal_audio_meta: a
# spec-valid ISO BMFF skeleton synthesized JVM-side with properties
# derived from doc_id, the stdlib box-walk parser recovers them
# through the Arrow mapInPandas hop, the oracle recomputes from the
# synthesis spec. duration_sec = duration_units / timescale as IEEE
# double in both engines.
# ---------------------------------------------------------------------------
@bench_query(
    "multimodal_video_meta",
    oracle="""
    SELECT doc_id,
           CAST(CASE (doc_id % 2) WHEN 0 THEN 600 ELSE 90000 END AS INT)
             AS timescale,
           CAST(600 + doc_id % 120000 AS BIGINT) AS duration_units,
           CAST(600 + doc_id % 120000 AS DOUBLE)
             / CAST(CASE (doc_id % 2) WHEN 0 THEN 600 ELSE 90000 END AS DOUBLE)
             AS duration_sec,
           CAST(CASE (doc_id % 3) WHEN 0 THEN 640 WHEN 1 THEN 1280
                ELSE 1920 END AS INT) AS width,
           CAST(CASE (doc_id % 3) WHEN 0 THEN 360 WHEN 1 THEN 720
                ELSE 1080 END AS INT) AS height
    FROM documents
    """,
)
def multimodal_video_meta(spark, sf_dir):
    from data_ingestion_framework_spark.operators.multimodal import (
        decode_video,
        synthesize_mp4_header,
    )

    docs = load(spark, sf_dir, "documents")
    timescale = F.expr(
        "CASE (doc_id % 2) WHEN 0 THEN 600 ELSE 90000 END"
    ).cast("bigint")
    duration = (F.lit(600) + F.col("doc_id") % 120000).cast("bigint")
    width = F.expr(
        "CASE (doc_id % 3) WHEN 0 THEN 640 WHEN 1 THEN 1280 ELSE 1920 END"
    ).cast("bigint")
    height = F.expr(
        "CASE (doc_id % 3) WHEN 0 THEN 360 WHEN 1 THEN 720 ELSE 1080 END"
    ).cast("bigint")
    payload = synthesize_mp4_header(timescale, duration, width, height)
    packed = pack_media(
        docs.select("doc_id").withColumn("payload", payload), "payload", "video"
    )
    return decode_video(packed).select(
        "doc_id", "timescale", "duration_units", "duration_sec", "width", "height"
    )


# ---------------------------------------------------------------------------
# Hilbert-curve clustering keys (the higher-locality alternative to
# the Morton layout of orders_zorder_keys): same integer-exact
# bucketing, then the classic xy→d walk unrolled into one CTE per
# level — the oracle replays every reflect/swap step exactly.
# ---------------------------------------------------------------------------
_H_BITS = 8


def _hilbert_level_sql(prev: str, k: int, level: int) -> str:
    s = 1 << k
    return f"""
    h{level} AS (
      SELECT o_orderkey,
             d + {s * s}::BIGINT * xor(3 * rx, ry) AS d,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)
                  ELSE x END AS x,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)
                  ELSE y END AS y
      FROM (
        SELECT o_orderkey, d, x, y,
               CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM {prev})
    )"""


_HILBERT_LEVELS = ",".join(
    _hilbert_level_sql(f"h{i}" if i else "h0", _H_BITS - 1 - i, i + 1)
    for i in range(_H_BITS)
)


@bench_query(
    "orders_hilbert_keys",
    oracle=f"""
    WITH d0 AS (
      SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS vx,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS vy
      FROM orders
    ),
    r AS (
      SELECT MIN(vx) AS xmin, MAX(vx) AS xmax, MIN(vy) AS ymin, MAX(vy) AS ymax
      FROM d0
    ),
    h0 AS (
      SELECT o_orderkey,
             0::BIGINT AS d,
             GREATEST(0::BIGINT, LEAST({(1 << _H_BITS) - 1}::BIGINT,
               ((vx - xmin) * {1 << _H_BITS}) // (xmax - xmin + 1))) AS x,
             GREATEST(0::BIGINT, LEAST({(1 << _H_BITS) - 1}::BIGINT,
               ((vy - ymin) * {1 << _H_BITS}) // (ymax - ymin + 1))) AS y
      FROM d0 CROSS JOIN r
    ),
    {_HILBERT_LEVELS}
    SELECT o_orderkey, CAST(d AS BIGINT) AS hval FROM h{_H_BITS}
    """,
)
def orders_hilbert_keys(spark, sf_dir):
    """Hilbert clustering keys for (o_custkey, order-date-days): the
    curve ``compact(zorder_by=...)`` would range-partition on when the
    caller picks the 2-D high-locality layout."""
    from data_ingestion_framework_spark.operators.zorder import (
        hilbert_zorder_code,
    )

    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("y"),
    )
    code, _ = hilbert_zorder_code(d, ["x", "y"], bits=_H_BITS)
    return d.select("o_orderkey", code.alias("hval"))


# ---------------------------------------------------------------------------
# Generic MERGE INTO lifecycle under the oracle gate: one merge with
# all three clause kinds live — conditional UPDATE with source refs,
# conditional DELETE (checked first, Delta clause order), INSERT of
# unmatched keys — the final table state value-checked.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_merge_into_state",
    oracle="""
    SELECT pk, price, status FROM (
      -- matched, delete condition (status X: %9 keys) -> gone;
      -- matched otherwise -> updated price (+100, source > target)
      SELECT o_orderkey AS pk, o_totalprice + 100.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
      UNION ALL
      -- target rows without a source match pass through
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0
      UNION ALL
      -- unmatched source keys insert
      SELECT o_orderkey + 10000000, o_totalprice, 'N'
      FROM orders WHERE o_orderkey % 5 = 0
    )
    """,
)
def orders_merge_into_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_totalprice") + 100.0).alias("price"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    inserts = orders.where(F.col("o_orderkey") % 5 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.lit("N").alias("status"),
    )
    t = ParquetTable(spark, _scratch_dir("difs_minto_") + "/t")
    t.overwrite(target)
    merge_into(
        t,
        updates.unionByName(inserts),
        ["pk"],
        when_matched_update={
            "price": merge_source("price"),
            "status": merge_source("status"),
        },
        when_matched_update_condition=merge_source("price") > F.col("price"),
        when_matched_delete_condition=merge_source("status") == "X",
    )
    return t.read()


# ---------------------------------------------------------------------------
# Deletion-vector DELETE lifecycle under the oracle gate: two stacked
# vector deletes (no data file rewritten — positions land in the _dv
# sidecar) followed by a read that anti-joins them out. The whole
# sidecar path — position capture, stacking via the existing-vector
# anti-join, read-time subtraction — is what is value-checked.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_delete_dv_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
    """,
)
def orders_delete_dv_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_dv_") + "/t")
    t.overwrite(orders)
    t.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    t.delete_where_dv(F.col("o_orderkey") % 11 == 0)
    return t.read()


# ---------------------------------------------------------------------------
# ANALYZE-statistics parity under the oracle gate: per-column row/null/
# distinct counts and min/max over orders, exact, long form. Column
# types chosen so min/max stringification is engine-identical (bigint,
# date, string; money staged through DECIMAL(12,2)).
# ---------------------------------------------------------------------------
@bench_query(
    "orders_column_stats",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             CAST(o_totalprice AS DECIMAL(12,2)) AS o_price_dec
      FROM orders
    )
    SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM src
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM src
    UNION ALL
    SELECT 'o_orderdate', COUNT(*),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_price_dec', COUNT(*),
           CAST(SUM(CASE WHEN o_price_dec IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_price_dec),
           CAST(MIN(o_price_dec) AS VARCHAR), CAST(MAX(o_price_dec) AS VARCHAR)
    FROM src
    """,
)
def orders_column_stats(spark, sf_dir):
    from data_ingestion_framework_spark.operators.dq import column_stats

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_price_dec"),
    )
    return column_stats(orders, exact=True)


# ---------------------------------------------------------------------------
# WHEN NOT MATCHED BY SOURCE lifecycle under the oracle gate — the
# reference's most distinctive MERGE feature (writers/writer.py:251-252,
# 394-396,405-406: full-extract soft/hard deletes of target rows absent
# from the source): one merge where target rows with no source match
# are hard-deleted (status F), soft-flagged (status O -> S; delete
# checked first, Delta clause order), or pass through (status P), while
# matched rows take a conditional update.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_merge_not_matched_state",
    oracle="""
    SELECT pk, price, status FROM (
      -- matched (every third key) -> updated price
      SELECT o_orderkey AS pk, o_totalprice + 100.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      -- not matched by source + update condition (open) -> soft flag
      SELECT o_orderkey, o_totalprice, 'S'
      FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderstatus = 'O'
      UNION ALL
      -- not matched by source, neither clause fires -> pass through
      -- (status F rows were hard-deleted by the delete clause)
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderkey % 3 <> 0 AND o_orderstatus NOT IN ('F', 'O')
    )
    """,
)
def orders_merge_not_matched_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    source = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_totalprice") + 100.0).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    t = ParquetTable(spark, _scratch_dir("difs_mnmbs_") + "/t")
    t.overwrite(target)
    merge_into(
        t,
        source,
        ["pk"],
        when_matched_update={"price": merge_source("price")},
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"status": F.lit("S")},
        when_not_matched_by_source_update_condition=F.col("status") == "O",
        when_not_matched_by_source_delete_condition=F.col("status") == "F",
    )
    return t.read()


# ---------------------------------------------------------------------------
# The EMITTED generic-merge SQL under the oracle gate (same pattern as
# merge_sql_scd{1,2}_state): the state-equivalent SELECT rendered by
# sinks/merge_sql.generic_merge_sql's executable counterpart is run via
# spark.sql over temp views — proving the rendered MERGE INTO clause
# semantics (matched update + both NOT-MATCHED-BY-SOURCE clauses,
# insert disabled) against DuckDB, independent of the DataFrame
# executor that orders_merge_not_matched_state grades.
# ---------------------------------------------------------------------------
@bench_query(
    "merge_sql_generic_state",
    oracle="""
    SELECT pk, price, status FROM (
      SELECT o_orderkey AS pk, o_totalprice + 100.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'S'
      FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders
      WHERE o_orderkey % 3 <> 0 AND o_orderstatus NOT IN ('F', 'O')
    )
    """,
)
def merge_sql_generic_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.merge_sql import (
        generic_merge_state_sql,
    )

    orders = load(spark, sf_dir, "orders")
    orders.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    ).createOrReplaceTempView("__gmsql_target")
    orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_totalprice") + 100.0).alias("price"),
        F.col("o_orderstatus").alias("status"),
    ).createOrReplaceTempView("__gmsql_source")
    sql = generic_merge_state_sql(
        "__gmsql_target",
        "__gmsql_source",
        ["pk"],
        ["pk", "price", "status"],
        update_set={"price": "source.price"},
        insert=False,
        nmbs_update_set={"status": "'S'"},
        nmbs_update_condition="target.status = 'O'",
        nmbs_delete_condition="target.status = 'F'",
    )
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# SHALLOW CLONE lifecycle under the oracle gate: source takes a
# deletion-vector delete, is cloned (hardlinked, zero-copy), the CLONE
# then diverges (COW delete + append) while the SOURCE diverges the
# other way — the returned clone state must reflect the source AS OF
# the clone plus only the clone's own edits, proving the hardlinked
# files are copy-on-write in both directions.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_clone_state",
    oracle="""
    WITH at_clone AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    after_delete AS (
      SELECT * FROM at_clone
      WHERE NOT (o_orderkey % 5 = 0 AND o_totalprice < 150000)
    )
    SELECT * FROM after_delete
    UNION ALL
    SELECT -o_orderkey, o_custkey, o_totalprice
    FROM at_clone WHERE o_orderkey <= 10
    """,
)
def orders_clone_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = _scratch_dir("difs_clone_")
    src = ParquetTable(spark, root + "/src")
    src.overwrite(orders)
    src.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    dst = src.clone(root + "/dst")
    # clone-side divergence
    dst.delete_where(
        (F.col("o_orderkey") % 5 == 0) & (F.col("o_totalprice") < 150000)
    )
    dst.append(
        src.as_of(src.history()[-1]["seq"])
        .where(F.col("o_orderkey") <= 10)
        .select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
    )
    # source-side divergence AFTER the clone must not leak into it
    src.delete_where(F.col("o_orderkey") % 3 == 0)
    return dst.read()


# ---------------------------------------------------------------------------
# Column-mapping lifecycle under the oracle gate: three metadata-only
# RENAMEs (zero files rewritten), a COW delete against the renamed
# predicate, an append under the logical names, and a metadata-only
# DROP — the returned state must read entirely through the mapping.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_rename_state",
    oracle="""
    SELECT o_orderkey AS pk, o_totalprice AS price
    FROM orders WHERE o_totalprice < 250000
    UNION ALL
    SELECT 900000001, 42.5
    """,
)
def orders_rename_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_ren_") + "/t")
    t.overwrite(orders)
    t.rename_column("o_totalprice", "price")
    t.rename_column("o_custkey", "customer")
    t.rename_column("o_orderkey", "pk")
    t.delete_where("price >= 250000")
    t.append(
        local_frame(
            spark,
            [(900000001, 1, 42.5)],
            "pk bigint, customer bigint, price double",
        )
    )
    t.drop_column("customer")
    return t.read()


# ---------------------------------------------------------------------------
# Table-as-a-streaming-source lifecycle under the oracle gate: three
# append commits land in a bronze table, then stream_table_scd_merge
# drains the commit log one micro-batch per commit into a silver SCD1
# target (the reference's Delta-source streaming merge,
# writers/writer.py:695-758, re-expressed over the engine's own log).
# The oracle replays the final latest-per-key state; values prove the
# cursor advanced exactly once per commit, every commit's new files
# were emitted exactly once, and the per-batch merges composed to the
# same state a single global merge would produce.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_stream_table_state",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3
                     WHEN o_orderkey % 3 = 0 THEN 2
                     ELSE 1 END AS BIGINT) AS ver,
           o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 125
                               WHEN o_orderkey % 3 = 0 THEN 50
                               ELSE 0 END AS price
    FROM orders
    """,
)
def orders_stream_table_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable
    from data_ingestion_framework_spark.streaming.table_stream import (
        stream_table_scd_merge,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    root = _scratch_dir("difs_tstream_")
    bronze = ParquetTable(spark, root + "/bronze")
    silver = ParquetTable(spark, root + "/silver")
    bronze.append(orders.withColumn("ver", F.lit(1).cast("long")))
    bronze.append(
        orders.where(F.col("o_orderkey") % 3 == 0)
        .withColumn("price", F.col("price") + 50)
        .withColumn("ver", F.lit(2).cast("long"))
    )
    bronze.append(
        orders.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("price", F.col("price") + 125)
        .withColumn("ver", F.lit(3).cast("long"))
    )
    stream_table_scd_merge(
        bronze,
        silver,
        ["o_orderkey"],
        "ver",
        root + "/ck",
        max_commits_per_batch=1,
    )
    return silver.read().select("o_orderkey", "ver", "price")


# ---------------------------------------------------------------------------
# COPY INTO lifecycle under the oracle gate (Delta ``COPY INTO``
# idempotent file ingestion; the reference's landing→raw loads re-list
# the landing dir per run and depend on file-name tracking for
# exactly-once — readers/streaming_readers.py cloudFiles tracking).
# Three landing drops
# arrive; the loader runs FOUR times with overlapping scopes (drop0
# alone, whole dir twice, whole dir once more after nothing changed).
# The final state must equal orders exactly once — any break in the
# file ledger (a re-loaded file, a missed file) duplicates or drops
# rows and fails the value hash.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_copy_into_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    """,
)
def orders_copy_into_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = _scratch_dir("difs_copyinto_")
    land = base + "/landing"
    # three landing drops, each a real multi-file parquet directory as
    # an upstream extractor would write it
    for i in range(3):
        orders.where(F.col("o_orderkey") % 3 == i).write.parquet(
            f"{land}/drop{i}"
        )
    t = ParquetTable(spark, base + "/t")
    t.copy_into(f"{land}/drop0", pattern="*.parquet")  # first partial load
    t.copy_into(land, pattern="*.parquet")  # full-dir run: drop1+2 only
    t.copy_into(land, pattern="*.parquet")  # scheduler double-fire: no-op
    return t.read()


# ---------------------------------------------------------------------------
# Partition-spec evolution lifecycle under the oracle gate (Iceberg
# ALTER TABLE ... PARTITION FIELD parity — metadata-only, a capability
# Delta lacks): half of orders lands partitioned by o_orderstatus, the
# spec evolves to o_orderpriority without rewriting a byte, the other
# half lands under the new layout, and one scan must union the eras —
# recovering each era's partition column from its own directory names
# and the other era's from file bodies. Any era mix-up drops or
# corrupts a partition column and fails the value hash.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_partition_evolution_state",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    """,
)
def orders_partition_evolution_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    t = ParquetTable(
        spark,
        _scratch_dir("difs_pevo_") + "/t",
        partition_by=["o_orderstatus"],
    )
    t.overwrite(orders.where(F.col("o_orderkey") % 2 == 0))
    t.evolve_partition_spec(["o_orderpriority"])
    t.append(orders.where(F.col("o_orderkey") % 2 == 1))
    return t.read().select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# replaceWhere lifecycle under the oracle gate (Delta overwrite with
# replaceWhere): orders lands partitioned by o_orderstatus, then the
# 'O' partition is atomically replaced by a transformed subset through
# the partition fast path (untouched partitions' files never move —
# pinned in test_partition_evolution.py). Scope validation, partition
# matching, and the swap are all value-checked: a leaked old 'O' row,
# a dropped non-'O' partition, or a scope violation fails the hash.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_replace_where_state",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus <> 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0
    """,
)
def orders_replace_where_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = ParquetTable(
        spark,
        _scratch_dir("difs_rw_") + "/t",
        partition_by=["o_orderstatus"],
    )
    t.overwrite(orders)
    repl = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    t.replace_where(repl, F.col("o_orderstatus") == "O")
    return t.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


# ---------------------------------------------------------------------------
# Type-widening lifecycle under the oracle gate (Delta type widening):
# half of orders lands with NARROW physical types (int key, float
# price), the schema widens on the second append (bigint/double), and
# one scan must read the narrow files up-cast through the pinned
# logical schema — without it, the mixed footers fail the read
# outright. The oracle replays the narrow-then-widen cast chain.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_widen_state",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey AS k, o_totalprice AS price
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def orders_widen_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    t = ParquetTable(spark, _scratch_dir("difs_widen_") + "/t")
    t.overwrite(
        orders.where(F.col("k") % 2 == 0).select(
            F.col("k").cast("int").alias("k"),
            F.col("price").cast("float").alias("price"),
        )
    )
    t.append(orders.where(F.col("k") % 2 == 1), merge_schema=True)
    return t.read()


# ---------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4's VARIANT type — the
# open-variant columnar encoding Delta/Iceberg adopted for JSON at
# scale): a nested document (struct + array + the props payload)
# serializes to JSON, parses to VARIANT once, and typed paths extract
# via variant_get — the shred-on-read pattern that replaces per-path
# get_json_object re-parsing (N paths = N full JSON parses; VARIANT
# parses once and navigates a binary encoding). The oracle computes
# the same values straight from the base columns: what's verified is
# the typed round-trip identity.
# ---------------------------------------------------------------------------
@bench_query(
    "events_variant_extract",
    oracle="""
    SELECT event_id,
           user_id AS u,
           ROUND(value, 4) AS v,
           event_type AS tag0,
           CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    """,
)
def events_variant_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.struct(
                F.col("user_id").alias("u"), F.col("value").alias("v")
            ).alias("meta"),
            F.array(F.col("event_type"), F.lit("x")).alias("tags"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
    )
    v = ev.select("event_id", F.parse_json(doc).alias("__v"))
    return v.select(
        "event_id",
        F.expr("variant_get(__v, '$.meta.u', 'bigint')").alias("u"),
        F.round(F.expr("variant_get(__v, '$.meta.v', 'double')"), 4).alias("v"),
        F.expr("variant_get(__v, '$.tags[0]', 'string')").alias("tag0"),
        F.expr("variant_get(__v, '$.k', 'bigint')").alias("k"),
    )


# ---------------------------------------------------------------------------
# Hidden-partitioning lifecycle under the oracle gate (Iceberg
# partition transforms): orders lands partitioned by months(o_orderdate)
# — the partition value is a derived directory name (pt__months_*), the
# raw timestamp stays in-file, and queries never mention the
# transform. A partition-scoped overwrite then replaces exactly ONE
# derived month (rows re-priced), proving touched_partitions computes
# the transform identically to the writer. The oracle replays the
# day-scoped replacement with plain date logic.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_hidden_partition_state",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE date_trunc('month', o_orderdate) <> DATE '1995-03-01'
    UNION ALL
    SELECT o_orderkey, o_orderdate, o_totalprice + 1000.0 AS o_totalprice
    FROM orders
    WHERE date_trunc('month', o_orderdate) = DATE '1995-03-01'
    """,
)
def orders_hidden_partition_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    t = ParquetTable(
        spark,
        _scratch_dir("difs_hidden_") + "/t",
        partition_by=["months(o_orderdate)"],
    )
    t.overwrite(orders)
    repl = orders.where(
        F.date_trunc("month", "o_orderdate") == F.lit("1995-03-01").cast("timestamp")
    ).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    t.overwrite_partitions(repl)
    return t.read()


# ---------------------------------------------------------------------------
# Delta-log export lifecycle under the oracle gate: orders lands in
# the table store, a COW delete rewrites the touched files, the
# exported _delta_log advances one remove/add diff version, and the
# final read goes through the package's public-protocol Delta READER —
# so what's value-checked is the full writer→protocol→reader loop, not
# the store's own scan.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_delta_export_state",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
    """,
)
def orders_delta_export_state(spark, sf_dir):
    from data_ingestion_framework_spark.sinks.delta_export import (
        export_delta_log,
    )
    from data_ingestion_framework_spark.sources import delta_log
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ParquetTable(spark, _scratch_dir("difs_dexp_") + "/t")
    t.overwrite(orders)
    export_delta_log(t)
    t.delete_where(F.col("o_orderkey") % 5 == 0)
    export_delta_log(t)
    return delta_log.read_delta_log(spark, t.path)


# ---------------------------------------------------------------------------
# Incremental materialized-JOIN maintenance under the oracle gate
# (classic IVM: join delta = dL JOIN R_new UNION L_old JOIN dR, the
# terms disjoint by left-row provenance): both base tables grow by an
# append AFTER the initial full materialization, each refresh joins
# ONLY the delta, and the final target must equal the full join — any
# missed or duplicated delta term fails the value hash. Cursors
# persist in the target's properties (restart-safe).
# ---------------------------------------------------------------------------
@bench_query(
    "orders_incremental_join_state",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey AS custkey, o.o_totalprice,
           c.c_mktsegment
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def orders_incremental_join_state(spark, sf_dir):
    from data_ingestion_framework_spark.operators.incremental import (
        refresh_join,
    )
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    base = _scratch_dir("difs_ivmj_")
    lt = ParquetTable(spark, base + "/l")
    rt = ParquetTable(spark, base + "/r")
    tgt = ParquetTable(spark, base + "/t")
    lt.overwrite(orders.where(F.col("o_orderkey") % 2 == 0))
    rt.overwrite(cust.where(F.col("custkey") % 2 == 0))
    refresh_join(lt, rt, tgt, ["custkey"])  # full materialization
    lt.append(orders.where(F.col("o_orderkey") % 2 == 1))
    refresh_join(lt, rt, tgt, ["custkey"])  # dL x R
    rt.append(cust.where(F.col("custkey") % 2 == 1))
    refresh_join(lt, rt, tgt, ["custkey"])  # L x dR
    return tgt.read()


# ---------------------------------------------------------------------------
# ADD COLUMN ... DEFAULT lifecycle (tablestore.add_column — Delta
# allowColumnDefaults semantics): the add is METADATA-ONLY (zero files
# rewritten), pre-existing rows read the new column as NULL, an append
# that OMITS the column gets the default stamped at write time, and an
# append that supplies it wins. The oracle rebuilds the same three-era
# state from the orders slice.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_add_column_default_state",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS tier
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'standard' AS tier
    FROM orders WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'premium' AS tier
    FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def orders_add_column_default_state(spark, sf_dir):
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = ParquetTable(spark, _scratch_dir("difs_addcol_") + "/t")
    t.overwrite(orders.where("o_orderkey % 3 = 0"))
    t.add_column("tier", "string", default="standard")
    # era 2: batch omits the column → default stamps at write time
    t.append(orders.where("o_orderkey % 3 = 1"))
    # era 3: batch supplies the column → explicit value wins
    t.append(
        orders.where("o_orderkey % 3 = 2").withColumn("tier", F.lit("premium"))
    )
    return t.read()


# ---------------------------------------------------------------------------
# Version diff — time travel composed with hash-CDC: DESCRIBE what
# changed between two commits of the same table (the "what did the
# backfill touch?" audit). as_of(v1) vs the live state feed find_delta;
# output is the change rows with their change_type. The oracle
# reconstructs both states from the orders slice and replays the same
# full-outer comparison.
# ---------------------------------------------------------------------------
@bench_query(
    "orders_version_diff_state",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS pk, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    v2 AS (
      -- update: +10 on pk % 3 = 0; delete: price >= 300000; insert: %4=1
      SELECT pk, CASE WHEN pk % 3 = 0 THEN price + 10 ELSE price END AS price
      FROM v1
      WHERE NOT (CASE WHEN pk % 3 = 0 THEN price + 10 ELSE price END >= 300000)
      UNION ALL
      SELECT o_orderkey AS pk, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 1
    )
    SELECT COALESCE(v2.pk, v1.pk) AS pk,
           v2.price AS new_price, v1.price AS old_price,
           CASE WHEN v1.pk IS NULL THEN 'insert'
                WHEN v2.pk IS NULL THEN 'delete'
                WHEN v1.price <> v2.price THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM v2 FULL OUTER JOIN v1 ON v1.pk = v2.pk
    WHERE CASE WHEN v1.pk IS NULL THEN 'insert'
               WHEN v2.pk IS NULL THEN 'delete'
               WHEN v1.price <> v2.price THEN 'update'
               ELSE 'unchanged' END <> 'unchanged'
    """,
)
def orders_version_diff_state(spark, sf_dir):
    from data_ingestion_framework_spark.operators.cdc import find_delta
    from data_ingestion_framework_spark.sources.tablestore import ParquetTable

    orders = load(spark, sf_dir, "orders")
    t = ParquetTable(spark, _scratch_dir("difs_vdiff_") + "/t")
    t.overwrite(
        orders.where("o_orderkey % 4 = 0").selectExpr(
            "o_orderkey AS pk", "o_totalprice AS price"
        )
    )
    v1 = t.history()[-1]["seq"]
    t.update_where({"price": F.col("price") + 10}, "pk % 3 = 0")
    t.delete_where("price >= 300000")
    t.append(
        orders.where("o_orderkey % 4 = 1").selectExpr(
            "o_orderkey AS pk", "o_totalprice AS price"
        )
    )
    old, new = t.as_of(v1), t.read()
    delta = find_delta(old, new, ["pk"], ["price"])
    old_price = old.select("pk", F.col("price").alias("old_price"))
    return (
        delta.where(F.col("change_type") != "unchanged")
        .select("pk", F.col("price").alias("new_price"), "change_type")
        .join(old_price, "pk", "left")
        .select("pk", "new_price", "old_price", "change_type")
    )
