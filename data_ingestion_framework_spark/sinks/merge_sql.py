"""Lakehouse MERGE SQL emission.

The engine computes merge results as DataFrames (operators/scd.py) and
commits via ``ParquetTable`` in this sandbox. On an actual lakehouse
(Delta/Iceberg) the write path is a ``MERGE INTO`` statement executed
against a catalog table — this module renders those statements from the
same ``(keys, order_col, compare_cols)`` inputs the DataFrame engine
uses, matching the reference's generated SQL:

- SCD1 window-dedup MERGE ``UPDATE SET * / INSERT *``
  (writers/batch_writers.py:127-140)
- FE SCD2 MERGE: ``IS DISTINCT FROM`` close-out, stamped INSERT,
  ``WHEN NOT MATCHED BY SOURCE`` soft delete, plus the companion
  statement re-inserting the new version for keys whose current row
  was just closed (writers/writer.py:177-281)
- the streaming 3-branch CTE MERGE — UpdatedRows / DeletedRows /
  rn-stamped source union (writers/writer.py:454-524)

No MERGE-capable catalog exists in this sandbox, so every render
function has a *state-equivalent* SELECT counterpart
(``scd1_state_sql`` / ``scd2_state_sql``) built from the same
fragments: it computes the post-merge table state as a pure query over
``target``/``source`` views on any Spark. The tests execute those and
assert equality with ``scd1_apply`` / ``scd2_apply`` — the emitted
MERGE text is verified semantics, not a string template on faith — and
the ``merge_sql_scd{1,2}_state`` registry queries put the same SQL
under the driver's DuckDB oracle gate.

Scale note: every statement here is key-equi-join shaped (MERGE ON the
business key; the state SELECTs are one window + one key join sharing
the business-key partitioning), so a lakehouse engine executes them as
shuffle-on-key plans with file pruning — never a full-table nested
loop.
"""

from __future__ import annotations

SCD_COLS = ["start_time", "end_time", "is_current", "delete_time"]


def _csv(cols: list[str]) -> str:
    return ", ".join(cols)


def _on(keys: list[str], target: str = "target", source: str = "source") -> str:
    """``target.k1 = source.k1 AND ...`` (batch_writers.py:88)."""
    return " AND ".join(f"{target}.{k} = {source}.{k}" for k in keys)


def _img(compare_cols: list[str], qual: str = "") -> str:
    """A struct image of the compare columns — null-safe change
    detection compares these with ``<=>`` (semantically the engine's
    ``hash_diff`` without the digest)."""
    p = f"{qual}." if qual else ""
    return f"struct({', '.join(p + c for c in compare_cols)})"


# ---------------------------------------------------------------------------
# SCD1
# ---------------------------------------------------------------------------

def scd1_merge_sql(
    target_table: str,
    keys: list[str],
    order_col: str | None = None,
    source_view: str = "updates",
    full_extract: bool = False,
    now_expr: str = "current_timestamp()",
) -> str:
    """The SCD1 lakehouse MERGE (writers/batch_writers.py:127-140):
    window-dedup the batch to the latest version per key, then
    ``UPDATE SET * / INSERT *``. ``full_extract`` adds the
    ``WHEN NOT MATCHED BY SOURCE`` soft delete (writers/writer.py:251).
    """
    cte = ""
    src = source_view
    if order_col:
        cte = (
            f"WITH PreprocessedSource AS (\n"
            f"  SELECT *,\n"
            f"         ROW_NUMBER() OVER (PARTITION BY {_csv(keys)}"
            f" ORDER BY {order_col} DESC) AS rn\n"
            f"  FROM {source_view}\n"
            f")\n"
        )
        src = "(SELECT * EXCEPT(rn) FROM PreprocessedSource WHERE rn = 1)"
    nmbs = ""
    if full_extract:
        nmbs = (
            f"\nWHEN NOT MATCHED BY SOURCE AND target.delete_time IS NULL THEN\n"
            f"  UPDATE SET target.delete_time = {now_expr}"
        )
    return (
        f"{cte}MERGE INTO {target_table} AS target\n"
        f"USING {src} AS source\n"
        f"ON {_on(keys)}\n"
        f"WHEN MATCHED THEN\n"
        f"  UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN\n"
        f"  INSERT *{nmbs}"
    )


def scd1_state_sql(
    target_view: str,
    source_view: str,
    keys: list[str],
    order_col: str,
    columns: list[str],
    full_extract: bool = False,
    now_expr: str = "current_timestamp()",
) -> str:
    """Post-merge table state of :func:`scd1_merge_sql` as a pure
    SELECT over ``target_view``/``source_view`` — executable on any
    Spark (or DuckDB: ANSI only). ``columns`` is the full business
    column list (keys included, ``delete_time`` excluded)."""
    cols = _csv(columns)
    if full_extract:
        untouched_delete = f"COALESCE(t.delete_time, {now_expr})"
    else:
        untouched_delete = "t.delete_time"
    return (
        f"WITH latest AS (\n"
        f"  SELECT * FROM (\n"
        f"    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY {_csv(keys)}"
        f" ORDER BY {order_col} DESC) AS rn\n"
        f"    FROM {source_view} s\n"
        f"  ) r WHERE rn = 1\n"
        f")\n"
        f"SELECT {_csv(['t.' + c for c in columns])},"
        f" {untouched_delete} AS delete_time\n"
        f"FROM {target_view} t\n"
        f"LEFT JOIN latest s ON {_on(keys, 't', 's')}\n"
        f"WHERE s.{keys[0]} IS NULL\n"
        f"UNION ALL\n"
        f"SELECT {cols}, CAST(NULL AS TIMESTAMP) AS delete_time FROM latest"
    )


# ---------------------------------------------------------------------------
# SCD2 (full-extract batch shape)
# ---------------------------------------------------------------------------

def scd2_merge_sql(
    target_table: str,
    keys: list[str],
    data_cols: list[str],
    source_view: str = "updates",
    now_expr: str = "current_timestamp()",
    full_extract: bool = False,
) -> tuple[str, str]:
    """The FE SCD2 lakehouse statement pair (writers/writer.py:177-281):

    1. MERGE — close out the current row when any data column changed
       (``IS DISTINCT FROM`` brute-force predicate, writer.py:205),
       insert brand-new keys with fresh validity stamps, and (FE mode)
       soft-delete current rows absent from the source
       (``WHEN NOT MATCHED BY SOURCE``, writer.py:251).
    2. INSERT — re-insert the new version for keys whose current row
       was *just* closed by (1): those matched, so the MERGE's
       NOT-MATCHED branch never saw them (writer.py:261-273).
    """
    changed = " OR ".join(f"target.{c} IS DISTINCT FROM source.{c}" for c in data_cols)
    business = keys + data_cols
    insert_cols = _csv(business + SCD_COLS)
    insert_vals = _csv(
        [f"source.{c}" for c in business]
        + [now_expr, "NULL", "1", "NULL"]
    )
    close_out = ""
    if data_cols:
        close_out = (
            f"WHEN MATCHED AND target.is_current = 1 AND ({changed}) THEN\n"
            f"  UPDATE SET target.is_current = 0, target.end_time = {now_expr}\n"
        )
    nmbs = ""
    if full_extract:
        nmbs = (
            f"\nWHEN NOT MATCHED BY SOURCE AND target.is_current = 1 THEN\n"
            f"  UPDATE SET target.is_current = 0,"
            f" target.end_time = {now_expr},"
            f" target.delete_time = {now_expr}"
        )
    merge = (
        f"MERGE INTO {target_table} AS target\n"
        f"USING {source_view} AS source\n"
        f"ON {_on(keys)} AND target.is_current = 1\n"
        f"{close_out}"
        f"WHEN NOT MATCHED THEN\n"
        f"  INSERT ({insert_cols})\n"
        f"  VALUES ({insert_vals}){nmbs}"
    )
    nc_join = _on(keys, "NC", "C")
    insert_updates = (
        f"INSERT INTO {target_table} ({insert_cols})\n"
        f"SELECT {insert_vals}\n"
        f"FROM {source_view} AS source\n"
        f"JOIN (\n"
        f"  SELECT {_csv(['NC.' + k for k in keys])}\n"
        f"  FROM (SELECT {_csv(keys)} FROM {target_table}\n"
        f"        WHERE is_current = 0 AND end_time = {now_expr}) NC\n"
        f"  LEFT ANTI JOIN (SELECT {_csv(keys)} FROM {target_table}\n"
        f"                  WHERE is_current = 1) C ON {nc_join}\n"
        f") target ON {_on(keys)}"
    )
    return merge, insert_updates


def scd2_state_sql(
    target_view: str | None,
    source_view: str,
    keys: list[str],
    order_col: str,
    columns: list[str],
    compare_cols: list[str] | None = None,
    full_extract: bool = False,
    deleted_at: str | None = None,
) -> str:
    """Post-merge SCD2 table state as a pure SELECT — the executable
    equivalent of the :func:`scd2_merge_sql` pair under the engine's
    stamping convention (validity from ``order_col``, operators/scd.py
    ``scd2_apply``, whose docstring numbers the steps): replay
    protection (0), consecutive-unchanged collapse (1), chained validity
    stamps and current-row close-out (2), pass-through and FE soft
    deletes (3). The SQL keeps the join-based shape of the ``MERGE``
    pair it mirrors; ``scd2_apply`` computes the same state with one
    shuffle of the touched rows.

    ``columns`` = business columns (keys included, SCD columns
    excluded); ``compare_cols`` defaults to the non-key business
    columns. Change detection compares null-safe struct images, the
    digest-free equivalent of ``hash_diff``. ``target_view=None``
    renders the initial-load stamping only."""
    if compare_cols is None:
        compare_cols = [c for c in columns if c not in keys and c != order_col]
    keq = _csv(keys)
    img = _img(compare_cols)
    out_cols = _csv(columns + SCD_COLS)
    ts = f"CAST({order_col} AS TIMESTAMP)"
    lead = (
        f"LEAD(CAST({order_col} AS TIMESTAMP))"
        f" OVER (PARTITION BY {keq} ORDER BY {order_col} ASC, {keq})"
    )
    stamp_select = (
        f"SELECT {_csv(columns)},\n"
        f"       {ts} AS start_time,\n"
        f"       {lead} AS end_time,\n"
        f"       CASE WHEN {lead} IS NULL THEN 1 ELSE 0 END AS is_current,\n"
        f"       CAST(NULL AS TIMESTAMP) AS delete_time\n"
    )
    if target_view is None:
        # initial load: collapse consecutive unchanged versions, stamp.
        return (
            f"WITH src_lag AS (\n"
            f"  SELECT *, LAG({img}) OVER (PARTITION BY {keq}"
            f" ORDER BY {order_col} ASC, {keq}) AS prev_img\n"
            f"  FROM {source_view}\n"
            f"),\n"
            f"new_versions AS (\n"
            f"  SELECT * FROM src_lag\n"
            f"  WHERE prev_img IS NULL OR NOT ({img} <=> prev_img)\n"
            f")\n"
            f"{stamp_select}FROM new_versions"
        )

    del_ts = f"TIMESTAMP '{deleted_at}'" if deleted_at else "current_timestamp()"
    # untouched live rows pass through, soft-deleted on a full extract
    # when their key is absent from the source (step 3)
    fe_untouched = (
        (
            f"kept AS (\n"
            f"  SELECT u.* FROM untouched u LEFT SEMI JOIN src_keys s ON {_on(keys, 'u', 's')}\n"
            f"),\n"
            f"gone AS (\n"
            f"  SELECT {_csv(['u.' + c for c in columns])},\n"
            f"         u.start_time, {del_ts} AS end_time,"
            f" 0 AS is_current, {del_ts} AS delete_time\n"
            f"  FROM untouched u LEFT ANTI JOIN src_keys s ON {_on(keys, 'u', 's')}\n"
            f"),\n"
        )
        if full_extract
        else ""
    )
    fe_tail = (
        f"SELECT {out_cols} FROM kept\nUNION ALL\nSELECT {out_cols} FROM gone"
        if full_extract
        else f"SELECT {out_cols} FROM untouched"
    )
    return (
        f"WITH live AS (\n"
        f"  SELECT * FROM {target_view}"
        f" WHERE is_current = 1 AND delete_time IS NULL\n"
        f"),\n"
        f"closed AS (\n"
        f"  SELECT * FROM {target_view}"
        f" WHERE NOT (is_current = 1 AND delete_time IS NULL)\n"
        f"),\n"
        f"cur_info AS (\n"
        f"  SELECT {keq}, start_time AS cur_start, {img} AS cur_img FROM live\n"
        f"),\n"
        # replay protection (scd2_apply step 0): only versions strictly
        # newer than the key's current start_time apply.
        f"src_guard AS (\n"
        f"  SELECT s.*, c.cur_start, c.cur_img\n"
        f"  FROM {source_view} s LEFT JOIN cur_info c ON {_on(keys, 's', 'c')}\n"
        f"  WHERE c.cur_start IS NULL OR CAST(s.{order_col} AS TIMESTAMP) > c.cur_start\n"
        f"),\n"
        f"src_lag AS (\n"
        f"  SELECT *, LAG({img}) OVER (PARTITION BY {keq}"
        f" ORDER BY {order_col} ASC, {keq}) AS prev_img\n"
        f"  FROM src_guard\n"
        f"),\n"
        # collapse within-batch no-ops and a leading version equal to
        # the target's current image (scd2_apply step 1).
        f"new_versions AS (\n"
        f"  SELECT * FROM src_lag\n"
        f"  WHERE (prev_img IS NULL AND (cur_img IS NULL OR NOT ({img} <=> cur_img)))\n"
        f"     OR (prev_img IS NOT NULL AND NOT ({img} <=> prev_img))\n"
        f"),\n"
        # chained stamps and the live row's close-out (step 2)
        f"stamped AS (\n"
        f"  {stamp_select}  FROM new_versions\n"
        f"),\n"
        f"first_new AS (\n"
        f"  SELECT {keq}, MIN(start_time) AS new_start FROM stamped GROUP BY {keq}\n"
        f"),\n"
        f"live_j AS (\n"
        f"  SELECT l.*, f.new_start FROM live l LEFT JOIN first_new f ON {_on(keys, 'l', 'f')}\n"
        f"),\n"
        f"closed_out AS (\n"
        f"  SELECT {_csv(columns)}, start_time, new_start AS end_time,\n"
        f"         0 AS is_current, delete_time\n"
        f"  FROM live_j WHERE new_start IS NOT NULL\n"
        f"),\n"
        f"untouched AS (\n"
        f"  SELECT {out_cols} FROM live_j WHERE new_start IS NULL\n"
        f"),\n"
        f"src_keys AS (SELECT DISTINCT {keq} FROM {source_view}),\n"
        f"{fe_untouched}"
        f"final AS (\n"
        f"SELECT {out_cols} FROM closed\n"
        f"UNION ALL\nSELECT {out_cols} FROM closed_out\n"
        f"UNION ALL\n{fe_tail}\n"
        f"UNION ALL\nSELECT {out_cols} FROM stamped\n"
        f")\n"
        f"SELECT {out_cols} FROM final"
    )


# ---------------------------------------------------------------------------
# Generic conditional MERGE (the full Delta clause surface)
# ---------------------------------------------------------------------------

def generic_merge_sql(
    target_table: str,
    keys: list[str],
    update_set: dict[str, str] | None = None,
    update_condition: str | None = None,
    delete_condition: str | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
    nmbs_update_set: dict[str, str] | None = None,
    nmbs_update_condition: str | None = None,
    nmbs_delete: bool = False,
    nmbs_delete_condition: str | None = None,
    source_view: str = "source",
    schema_evolution: bool = False,
) -> str:
    """Render the generic ``merge_into`` executor's clause surface as
    the lakehouse ``MERGE INTO`` statement it commits as on a real
    Delta/Iceberg catalog: conditional WHEN MATCHED DELETE (first, the
    executor's clause order) then UPDATE, conditional WHEN NOT MATCHED
    INSERT, and the WHEN NOT MATCHED BY SOURCE DELETE/UPDATE family
    (writers/writer.py:251-252,394-396,405-406). Expressions and
    conditions are SQL strings referencing ``target.<c>`` /
    ``source.<c>``. Semantics equivalence with the DataFrame executor
    is proven by :func:`generic_merge_state_sql` (executed in tests),
    not asserted on faith."""
    on = " AND ".join(f"target.{k} <=> source.{k}" for k in keys)
    parts = [
        # Delta's MERGE WITH SCHEMA EVOLUTION modifier — mirrors the
        # executor's schema_evolution flag (new source columns join
        # the target schema)
        f"MERGE WITH SCHEMA EVOLUTION INTO {target_table} AS target"
        if schema_evolution
        else f"MERGE INTO {target_table} AS target",
        f"USING {source_view} AS source",
        f"ON {on}",
    ]
    if delete_condition is not None:
        parts += [f"WHEN MATCHED AND ({delete_condition}) THEN", "  DELETE"]
    if update_set is not None:
        cond = f" AND ({update_condition})" if update_condition else ""
        sets = ", ".join(f"target.{c} = {e}" for c, e in update_set.items())
        parts += [f"WHEN MATCHED{cond} THEN", f"  UPDATE SET {sets}"]
    if insert:
        cond = f" AND ({insert_condition})" if insert_condition else ""
        parts += [f"WHEN NOT MATCHED{cond} THEN", "  INSERT *"]
    if nmbs_delete or nmbs_delete_condition is not None:
        cond = (
            f" AND ({nmbs_delete_condition})" if nmbs_delete_condition else ""
        )
        parts += [f"WHEN NOT MATCHED BY SOURCE{cond} THEN", "  DELETE"]
    if nmbs_update_set is not None:
        cond = (
            f" AND ({nmbs_update_condition})" if nmbs_update_condition else ""
        )
        sets = ", ".join(
            f"target.{c} = {e}" for c, e in nmbs_update_set.items()
        )
        parts += [f"WHEN NOT MATCHED BY SOURCE{cond} THEN", f"  UPDATE SET {sets}"]
    return "\n".join(parts)


def generic_merge_state_sql(
    target_view: str,
    source_view: str,
    keys: list[str],
    columns: list[str],
    update_set: dict[str, str] | None = None,
    update_condition: str | None = None,
    delete_condition: str | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
    nmbs_update_set: dict[str, str] | None = None,
    nmbs_update_condition: str | None = None,
    nmbs_delete: bool = False,
    nmbs_delete_condition: str | None = None,
) -> str:
    """Post-merge table state of :func:`generic_merge_sql` as a pure
    SELECT over ``target_view``/``source_view`` — the executable
    counterpart (same pattern as ``scd1_state_sql``). Mirrors the
    executor exactly: one null-safe key left-join, delete checked
    before update in both clause families, every condition coalesced
    to FALSE when NULL (Delta three-valued logic), unmatched source
    rows insert when allowed. ``columns`` is the target column list;
    the source must provide the same names for INSERT."""
    on = " AND ".join(f"target.{k} <=> source.{k}" for k in keys)
    matched = "COALESCE(source.__m, FALSE)"

    def _sat(cond: str | None, enabled: bool = True) -> str:
        if not enabled:
            return "FALSE"
        if cond is None:
            return "TRUE"
        return f"COALESCE(({cond}), FALSE)"

    del_now = f"({matched} AND {_sat(delete_condition, delete_condition is not None)})"
    upd_now = (
        f"({matched} AND NOT {del_now}"
        f" AND {_sat(update_condition, update_set is not None)})"
    )
    nmbs = f"(NOT {matched})"
    nmbs_del_on = nmbs_delete or nmbs_delete_condition is not None
    nmbs_del_now = f"({nmbs} AND {_sat(nmbs_delete_condition, nmbs_del_on)})"
    nmbs_upd_now = (
        f"({nmbs} AND NOT {nmbs_del_now}"
        f" AND {_sat(nmbs_update_condition, nmbs_update_set is not None)})"
    )

    out = []
    for c in columns:
        e = f"target.{c}"
        if update_set and c in update_set:
            e = f"CASE WHEN {upd_now} THEN {update_set[c]} ELSE {e} END"
        if nmbs_update_set and c in nmbs_update_set:
            e = f"CASE WHEN {nmbs_upd_now} THEN {nmbs_update_set[c]} ELSE {e} END"
        out.append(f"{e} AS {c}")

    kept = (
        f"SELECT {', '.join(out)}\n"
        f"FROM {target_view} AS target\n"
        f"LEFT JOIN (SELECT *, TRUE AS __m FROM {source_view}) AS source\n"
        f"ON {on}\n"
        f"WHERE NOT {del_now} AND NOT {nmbs_del_now}"
    )
    if not insert:
        return kept
    # the insert condition references SOURCE columns by their plain
    # names (the executor's contract — there is no target row)
    anti = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    inserts = (
        f"SELECT {_csv(columns)} FROM {source_view} AS s\n"
        f"WHERE NOT EXISTS (SELECT 1 FROM {target_view} t WHERE {anti})"
        + (f" AND {_sat(insert_condition)}" if insert_condition else "")
    )
    return f"{kept}\nUNION ALL\n{inserts}"


# ---------------------------------------------------------------------------
# SCD2 streaming 3-branch CTE
# ---------------------------------------------------------------------------

def scd2_streaming_merge_sql(
    target_table: str,
    keys: list[str],
    data_cols: list[str],
    order_col: str,
    source_view: str = "SourceData",
) -> str:
    """The streaming foreachBatch MERGE (writers/writer.py:454-524):
    three branches — UpdatedRows (close-outs of matched current rows),
    DeletedRows (current rows absent from the batch), and the
    rn-stamped source — union into one MERGE whose match predicate is
    full data-column equality, so a single statement performs close-out
    *and* insert (the "merge_key trick")."""
    keq = _csv(keys)
    business = keys + data_cols
    all_eq = " AND ".join(f"target.{c} <=> source.{c}" for c in business)
    rn = (
        f"ROW_NUMBER() OVER (PARTITION BY {keq}"
        f" ORDER BY {order_col} DESC) AS rn"
    )
    return (
        f"WITH UpdatedRows AS (\n"
        f"  SELECT {_csv(['target.' + c for c in business])}, target.start_time,\n"
        f"         current_timestamp() AS end_time, 0 AS is_current,\n"
        f"         CAST(NULL AS TIMESTAMP) AS delete_time\n"
        f"  FROM {source_view} AS source\n"
        f"  JOIN {target_table} AS target\n"
        f"    ON {_on(keys)} AND target.is_current = 1\n"
        f"),\n"
        f"DeletedRows AS (\n"
        f"  SELECT {_csv(['target.' + c for c in business])}, target.start_time,\n"
        f"         current_timestamp() AS end_time, 0 AS is_current,\n"
        f"         current_timestamp() AS delete_time\n"
        f"  FROM {target_table} AS target\n"
        f"  LEFT JOIN {source_view} AS source ON {_on(keys)}\n"
        f"  WHERE {' AND '.join(f'source.{k} IS NULL' for k in keys)}\n"
        f"    AND target.is_current = 1\n"
        f"),\n"
        f"SourceDataUpdated AS (\n"
        f"  SELECT {_csv(business)}, start_time,\n"
        f"         CASE WHEN rn != 1 THEN current_timestamp() END AS end_time,\n"
        f"         CASE WHEN rn != 1 THEN 0 ELSE 1 END AS is_current,\n"
        f"         CAST(NULL AS TIMESTAMP) AS delete_time\n"
        f"  FROM (SELECT *, {rn} FROM {source_view})\n"
        f")\n"
        f"MERGE INTO {target_table} AS target\n"
        f"USING (\n"
        f"  SELECT * FROM SourceDataUpdated\n"
        f"  UNION ALL SELECT * FROM UpdatedRows\n"
        f"  UNION ALL SELECT * FROM DeletedRows\n"
        f") AS source\n"
        f"ON {all_eq}\n"
        f"   AND target.end_time IS NULL AND target.is_current = 1\n"
        f"WHEN MATCHED THEN\n"
        f"  UPDATE SET target.is_current = source.is_current,\n"
        f"             target.end_time = source.end_time,\n"
        f"             target.delete_time = source.delete_time\n"
        f"WHEN NOT MATCHED THEN\n"
        f"  INSERT *"
    )
