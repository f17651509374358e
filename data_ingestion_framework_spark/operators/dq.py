"""Data-quality rule engine.

Reference parity: the SQL-generated rule engine's 9 rule types
(reference/dq_rule_builder_common.py:228-339), the flag/result-array
contract ``data_quality_valid_flag`` / ``data_quality_result_array``
(reference/di_landing_to_raw_generic_v2.py:301-314,585-611), per-rule
violation counts via conditional sum + unpivot
(di_landing_to_raw_generic_v2.py:604-653), and the simple-form
``custom_sql`` rules that pass iff the query returns 0 rows
(dq/dq.py:52-59).

Design difference vs the reference: rules compile to Catalyst ``Column``
expressions — never ``eval`` (the reference evals rule strings,
dq/dq.py:45-49). Row-local rules are pure projections (zero extra
shuffles, evaluated inside whole-stage codegen alongside the ingest
write); ``orphan_check`` broadcasts the distinct FK keyset;
``unique_check`` is a window count over the grouping key (one shuffle,
shared with the merge partitioning when keys match).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.session import local_frame

VALID_FLAG = "data_quality_valid_flag"
RESULT_ARRAY = "data_quality_result_array"

ROW_LOCAL_TYPES = {
    "null_check",
    "range_check",
    "datatype_check",
    "special_char_check",
    "date_format_check",
    "string_fixed_length",
    "valid_values_check",
}


@dataclass
class DQRule:
    """One rule row of the rule-dimension model
    (reference/dq_rule_builder_common.py:132-161, FIXTURES.md F6)."""

    rule_id: str
    rule_type: str  # one of the 9 types, or 'custom_sql'
    column: str | None = None
    operator: str | None = None  # range_check: < > between 'not between' <> =
    threshold_low: float | str | None = None
    threshold_high: float | str | None = None
    expected_datatype: str | None = None  # datatype_check: castable target type
    expected_date_format: str | None = None  # date_format_check
    allowed_regex: str | None = None  # special_char_check: chars to strip
    max_length: int | None = None  # string_fixed_length
    valid_values: list[str] = field(default_factory=list)  # valid_values_check
    related_table: str | None = None  # orphan_check FK target (key in `related`)
    related_column: str | None = None
    grouping_columns: list[str] = field(default_factory=list)  # unique_check
    sql: str | None = None  # custom_sql
    enabled: bool = True


def violation_expr(rule: DQRule) -> Column:
    """Compile a row-local rule to a boolean violation expression
    (True = row violates). Mirrors dq_rule_builder_common.py:228-339
    CASE-projection semantics."""
    c = F.col(rule.column) if rule.column else None
    t = rule.rule_type
    if t == "null_check":  # :228
        return c.isNull()
    if t == "range_check":  # :237-272
        lo, hi = F.lit(rule.threshold_low), F.lit(rule.threshold_high)
        op = (rule.operator or "between").lower()
        sat = {
            "<": c < lo,
            ">": c > lo,
            "=": c == lo,
            "<>": c != lo,
            "between": (c >= lo) & (c <= hi),
            "not between": (c < lo) | (c > hi),
        }[op]
        return c.isNotNull() & ~sat
    if t == "datatype_check":  # :296-300 (typeof) → portable try_cast probe
        return c.isNotNull() & c.cast("string").try_cast(rule.expected_datatype).isNull()
    if t == "special_char_check":  # :305-311 regexp_replace idempotence
        return c.isNotNull() & (F.regexp_replace(c, rule.allowed_regex, "") != F.lit(""))
    if t == "date_format_check":  # :316-319 (try_to_date: ANSI-safe null on parse failure)
        return c.isNotNull() & F.try_to_date(c, rule.expected_date_format).isNull()
    if t == "string_fixed_length":  # :323-329 (len > k)
        return c.isNotNull() & (F.length(c) > F.lit(rule.max_length))
    if t == "valid_values_check":  # :335-339 NOT IN list
        return c.isNotNull() & ~c.isin(rule.valid_values)
    raise ValueError(f"not a row-local rule: {t}")


def apply_rules(
    df: DataFrame,
    rules: list[DQRule],
    related: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate rules, appending one ``__dq_<rule_id>`` violation flag per
    rule plus the reference's ``data_quality_valid_flag`` /
    ``data_quality_result_array`` columns
    (di_landing_to_raw_generic_v2.py:585-611).

    Flags are added by one ``withColumns`` (one JVM analysis) per run
    of rules up to the next ``orphan_check``, not one ``withColumn``
    per column; the last one also adds both result columns, which
    restate the flag expressions it adds (Spark's
    common-subexpression elimination evaluates them once per row). An
    ``orphan_check`` joins its FK keyset in as a ``__fk<i>`` column,
    dropped at the end; a ``unique_check`` flag is a window count.
    Joins and windows keep their rule order in the plan: a window
    before a join shuffles while the FK keys are broadcast, not after."""
    related = related or {}
    flags: dict[str, Column] = {}  # each flag's column once added, else its expression
    pending: dict[str, Column] = {}  # flags not added yet
    fks: list[str] = []
    for rule in rules:
        if not rule.enabled:
            continue
        if rule.rule_type in ROW_LOCAL_TYPES:
            flag = violation_expr(rule)
        elif rule.rule_type == "orphan_check":  # :276-280 FK left join
            if pending:
                df = df.withColumns(pending)
                flags.update({name: F.col(name) for name in pending})
                pending = {}
            fk = f"__fk{len(fks)}"
            keys = related[rule.related_table].select(
                F.col(rule.related_column).alias(fk)
            ).distinct()
            df = df.join(F.broadcast(keys), df[rule.column] == F.col(fk), "left")
            flag = F.col(rule.column).isNotNull() & F.col(fk).isNull()
            fks.append(fk)
        elif rule.rule_type == "unique_check":  # :287-292 group-by-count>1
            grp = rule.grouping_columns or [rule.column]
            flag = F.count(F.lit(1)).over(W.partitionBy(*grp)) > 1
        else:
            raise ValueError(f"unknown rule type: {rule.rule_type}")
        flags[f"__dq_{rule.rule_id}"] = pending[f"__dq_{rule.rule_id}"] = flag

    result_arr = F.array_compact(
        F.array(
            *[
                F.when(flags[f"__dq_{r.rule_id}"], F.lit(r.rule_id))
                for r in rules
                if r.enabled
            ]
        )
    ) if flags else F.array().cast("array<string>")
    df = df.withColumns(
        {**pending, RESULT_ARRAY: result_arr, VALID_FLAG: F.size(result_arr) == 0}
    )
    return df.drop(*fks) if fks else df


def violation_counts(df_with_flags: DataFrame, rules: list[DQRule]) -> DataFrame:
    """Per-rule violation counts in long format ``(rule_id, n_violations)``
    — the reference's conditional-sum + unpivot pipeline
    (di_landing_to_raw_generic_v2.py:604-653) as one aggregation +
    ``DataFrame.unpivot`` (Spark >= 3.4)."""
    active = [r for r in rules if r.enabled]
    agg = df_with_flags.agg(
        *[
            F.sum(F.when(F.col(f"__dq_{r.rule_id}"), 1).otherwise(0)).alias(r.rule_id)
            for r in active
        ]
    )
    return agg.unpivot([], [r.rule_id for r in active], "rule_id", "n_violations")


def run_custom_sql_rule(spark, rule: DQRule) -> bool:
    """``custom_sql`` rule: passes iff the query returns 0 rows
    (dq/dq.py:52-59)."""
    return len(spark.sql(rule.sql).limit(1).take(1)) == 0


def quarantine_split(df_with_flags: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, quarantined) on the flag column — downstream of
    the reference's flag stamping; both frames share the parent plan."""
    return df_with_flags.where(F.col(VALID_FLAG)), df_with_flags.where(~F.col(VALID_FLAG))


# -- dataset-level checks ----------------------------------------------------

def freshness_check(
    df: DataFrame,
    ts_col: str,
    max_age_seconds: int,
    now=None,
) -> dict:
    """Table-level freshness gate: is the newest ``ts_col`` within
    ``max_age_seconds`` of ``now``? One MAX aggregation (pushes to
    column statistics where the format carries them). Returns
    ``{ok, max_ts, lag_seconds}`` — dataset checks report, they don't
    stamp per-row flags."""
    ref = (
        F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    )
    row = df.select(
        F.max(F.col(ts_col)).alias("max_ts"),
        (F.unix_timestamp(ref) - F.unix_timestamp(F.max(F.col(ts_col)))).alias(
            "lag"
        ),
    ).collect()[0]
    lag = row["lag"]
    return {
        "ok": lag is not None and lag <= max_age_seconds,
        "max_ts": row["max_ts"],
        "lag_seconds": lag,
    }


def row_count_drift(table, tolerance: float = 0.5) -> dict:
    """Volume-anomaly gate over the commit log: compares the latest
    commit's ``rows_written`` to the median of the prior commits of the
    same op type and flags a relative drift beyond ``tolerance``
    (|latest - median| / max(median, 1) > tolerance). Control-plane
    only — reads commit records, never data files. A brand-new table
    (fewer than 2 comparable commits) reports ``ok=True`` with
    ``median=None``."""
    hist = table.history()
    if not hist:
        return {"ok": True, "latest": None, "median": None, "drift": None}
    latest = hist[-1]
    prior = [
        r["rows_written"] for r in hist[:-1] if r["op"] == latest["op"]
    ]
    if not prior:
        return {"ok": True, "latest": latest["rows_written"], "median": None,
                "drift": None}
    prior.sort()
    n = len(prior)
    median = (
        prior[n // 2] if n % 2 == 1 else (prior[n // 2 - 1] + prior[n // 2]) / 2
    )
    drift = abs(latest["rows_written"] - median) / max(median, 1)
    return {
        "ok": drift <= tolerance,
        "latest": latest["rows_written"],
        "median": median,
        "drift": round(drift, 4),
    }


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 2.0,
) -> DataFrame:
    """Per-group z-score outlier report for an INTEGER metric column
    (lengths, token counts, event counts): rows whose value sits more
    than ``threshold`` population standard deviations from their
    group's mean. Output: group cols + the row's id-bearing columns
    pass through untouched, plus ``z`` (4 dp).

    Determinism: z is computed as (x·n − Σx) / √(n·Σx² − (Σx)²) — all
    integer arithmetic (DECIMAL-staged, order-independent) until one
    final sqrt/division in DOUBLE. Mean/stddev of doubles would sum in
    engine- and partition-dependent order and break value parity; this
    form never sums a float.

    One shuffle: the group stats aggregate; the join back is on the
    same key (co-partitioned). Degenerate groups (n < 2 or zero
    variance) emit no outliers.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum(x * x).alias("__s2"),
    )
    num = (x * F.col("__n") - F.col("__s1")).cast("double")
    var_n2 = (F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")).cast(
        "double"
    )
    z = F.round(num / F.sqrt(var_n2), 4)
    return (
        df.join(stats, group_cols)
        .where((F.col("__n") >= 2) & (var_n2 > 0))
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > threshold)
        .drop("__n", "__s1", "__s2")
    )


def column_stats(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` parity as a
    DataFrame operator: per-column row count, null count, distinct
    count, min and max — the statistics a cost-based optimizer (or a
    profiler page) feeds on. Returns the long form
    ``(column, n_rows, n_nulls, n_distinct, min_value, max_value)``
    with min/max canonicalized to strings so one schema carries every
    column type.

    ONE aggregate pass over the frame computes every column's stats
    (partial map-side combine; the result is one wide row, exploded to
    long form driver-free). ``exact=True`` uses COUNT(DISTINCT) —
    Spark expands multiple distincts into one multi-phase aggregate;
    at 100 TB prefer ``exact=False`` (HLL ``approx_count_distinct``,
    one pass, mergeable sketches) — the published tradeoff, chosen by
    the caller because the ORACLE needs exact values."""
    cols = columns or df.columns
    ndv = (
        (lambda c: F.count_distinct(F.col(c)))
        if exact
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            ndv(c).alias(f"__ndv_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").cast("bigint").alias("n_rows"),
                F.col(f"__nn_{c}").cast("bigint").alias("n_nulls"),
                F.col(f"__ndv_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("s")).select("s.*")


def equi_depth_histogram(
    df: DataFrame, value_col: str, buckets: int = 10
) -> DataFrame:
    """``ANALYZE TABLE ... COMPUTE STATISTICS`` histogram parity: EXACT
    equi-depth (equi-height) buckets over a column — the CBO's
    selectivity structure and the profiler's distribution view.

    Every distinct value lands in ONE bucket, decided by its
    cumulative end-rank with integer arithmetic
    (``bucket = (hi_rank - 1) · B div n``), so ties never split across
    buckets and a DuckDB oracle replays membership bit-for-bit. Ranks
    come from ``rank.exact_cumulative_counts`` over the DISTINCT-VALUE
    count table — the range-partitioned two-pass prefix sum, so no
    stage runs on a single partition even when the column is
    high-cardinality (the naive global-order window would plan
    ``Exchange SinglePartition`` over |distinct values| rows). The
    grand total comes free from the same pass, replacing the old
    crossJoined total row. NULLs are excluded, as ANALYZE does.

    Eager/frozen-snapshot semantics: the rank primitive runs jobs at
    CALL time (localCheckpoint + subtotal collect) — the returned
    frame is a point-in-time profile of ``df`` as of this call, not a
    live view, exactly what a statistics snapshot should be.

    Returns ``(bucket, lo, hi, n_rows, n_distinct)`` with lo/hi typed
    as the source column."""
    from data_ingestion_framework_spark.operators.rank import (
        exact_cumulative_counts,
    )

    vals = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ranked_base, total = exact_cumulative_counts(vals, "v", "__c", "__hi_rank")
    ranked = ranked_base.withColumn(
        "bucket",
        F.expr(f"(__hi_rank - 1) * {int(buckets)} div {max(int(total), 1)}")
        .cast("int"),
    )
    return ranked.groupBy("bucket").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    fractions: list[tuple[int, int]] = ((1, 4), (1, 2), (3, 4), (99, 100)),
) -> DataFrame:
    """EXACT nearest-rank percentiles of a column, computed
    distributedly — the scale path for the profiler/CBO numbers that
    ``F.percentile`` (which buffers every group value in one
    aggregation state) and ``approx_percentile`` (bounded error, not
    exact) each trade away.

    Percentile ``num/den`` is the smallest value whose cumulative
    count reaches ``rank = max(1, ceil(num·n / den))`` — the classic
    nearest-rank definition, all-integer arithmetic
    (``ceil(a/b) = (a + b − 1) div b``), so a SQL oracle replays rank
    selection bit-for-bit and no float ulp can move a boundary.
    Fractions are (numerator, denominator) INTEGER pairs for exactly
    that reason: ``ceil(0.25·n)`` in doubles can misround at large n;
    ``(n + 3) div 4`` cannot.

    Scale shape: distinct-value counts (one map-side-combined agg) →
    ``rank.exact_cumulative_counts`` (the range-partitioned two-pass
    prefix sum — zero single-partition stages) → a broadcast
    crossJoin of the |fractions|-row rank frame (a k-row control
    frame, the corpus-total pattern) → one min-per-fraction agg over
    the rows at-or-past each rank. NULLs are excluded, as ANALYZE
    does.

    Eager/frozen-snapshot semantics: the rank primitive runs jobs at
    CALL time (localCheckpoint + subtotal collect) — the returned
    frame is a point-in-time profile of ``df`` as of this call, not a
    live view, exactly what a statistics snapshot should be.

    Returns ``(p_num, p_den, rank, value, n_rows)`` with ``value``
    typed as the source column; empty when the input (after the NULL
    filter) is empty."""
    from data_ingestion_framework_spark.operators.rank import (
        exact_cumulative_counts,
    )

    for num, den in fractions:
        if not (0 < num <= den):
            raise ValueError(
                f"exact_percentiles: fraction {num}/{den} outside (0, 1]"
            )
    vals = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ranked, total = exact_cumulative_counts(vals, "v", "__c", "__hi")
    spark = df.sparkSession
    targets = local_frame(
        spark,
        [
            (num, den, max(1, (num * total + den - 1) // den))
            for num, den in fractions
        ],
        "p_num int, p_den int, __r bigint",
    )
    return (
        ranked.crossJoin(F.broadcast(targets))
        .where(F.col("__hi") >= F.col("__r"))
        .groupBy("p_num", "p_den", "__r")
        .agg(F.min("v").alias("value"))
        .select(
            "p_num",
            "p_den",
            F.col("__r").alias("rank"),
            "value",
            F.lit(total).cast("bigint").alias("n_rows"),
        )
    )
