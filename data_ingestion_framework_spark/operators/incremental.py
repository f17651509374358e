"""Incremental aggregate maintenance — continuous-aggregate /
materialized-view refresh over the commit log.

The hypertable-rollup story at 100 TB: a dashboard aggregate over an
append-only fact table should cost O(new data) per refresh, not a full
recompute. ``refresh_aggregate`` reads ONLY the commits after its
cursor (``ParquetTable.read_since`` — file-level increments, never the
table), partially aggregates the delta, and folds it into the stored
aggregate state by re-aggregating ``state ∪ partial`` on the group
keys. Restricted to MERGEABLE measures (count/sum/min/max — the
classic semigroup aggregates; express avg as sum+count and divide at
read time), which is exactly the restriction real continuous
aggregates (TimescaleDB, Materialize's append-only mode) impose.

``read_since`` raises if any commit after the cursor is not
file-additive (overwrite/compact/delete). For a PARTITIONED base whose
partition columns are a subset of the group keys, the refresh then
falls back to the partition-scoped path instead of refusing:
``changed_partitions_since`` names the partitions any later commit
touched (partition-scoped merges record their touched set in commit
metrics), only THOSE partition directories are re-read and fully
recomputed, and the recomputed group rows replace their old aggregate
rows. Each group lives in exactly one partition (the subset
condition), so the per-partition recompute is exact for every measure
— including min/max after deletes, which a pure semigroup fold cannot
retract. An unpartitioned rewritten base still raises — reset the
aggregate (drop + refresh from scratch) there.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_ingestion_framework_spark.session import local_frame
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

#: measure fn -> (partial aggregation, merge aggregation). Partial count
#: merges by SUM — the semigroup law; everything else merges by itself.
_MERGEABLE = {
    "count": (lambda c: F.count(c).cast("bigint"), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}

CURSOR_PROP = "agg_cursor_seq"


def refresh_aggregate(
    base: ParquetTable,
    agg_table: ParquetTable,
    group_cols: list[str],
    measures: dict[str, tuple[str, str]],
    cursor_prop: str = CURSOR_PROP,
) -> int:
    """Fold new base commits into ``agg_table``. ``measures`` maps
    output column -> (fn, input column) with fn in count/sum/min/max.
    Returns the number of commits folded (0 = already current).

    First call (no cursor) aggregates the whole base; later calls read
    only the delta. The cursor (last folded commit seq) lives in the
    aggregate table's properties AND in each refresh commit's metrics:
    a crash between the state overwrite and the properties write is
    repaired from the commit record on the next call (never refolded).
    The remaining unprotected window is a crash between the staged
    swap and its commit record — detectable (state newer than the
    log) but not self-healing; re-create the aggregate from scratch
    after such a crash, the base table is untouched either way.
    """
    for out, (fn, _col) in measures.items():
        if fn not in _MERGEABLE:
            raise ValueError(
                f"measure {out!r}: {fn!r} is not mergeable "
                f"(supported: {sorted(_MERGEABLE)})"
            )
    hist = base.history()
    if not hist:
        return 0
    current_seq = hist[-1]["seq"]
    props = agg_table.properties() if agg_table.exists() else {}
    last = props.get(cursor_prop)

    # crash repair: the last refresh commit's metrics carry the seq it
    # folded through; if the properties write didn't land, advance the
    # cursor from the record instead of double-folding the delta
    agg_hist = agg_table.history() if agg_table.exists() else []
    if agg_hist:
        recorded = (agg_hist[-1].get("metrics") or {}).get(cursor_prop)
        if recorded is not None and (last is None or int(recorded) > int(last)):
            last = int(recorded)
            props = {**props, cursor_prop: str(last)}
            agg_table.set_properties(props)

    if last is not None and int(last) == current_seq:
        return 0
    if last is None:
        delta = base.read()
    else:
        try:
            delta = base.read_since(int(last))
        except ValueError:
            # non-file-additive commits after the cursor: partition-
            # scoped fallback if the layout supports it, else re-raise
            # (reset-from-scratch is the only sound move)
            if not (
                base.partition_by
                and set(base.partition_by) <= set(group_cols)
            ):
                raise
            return _refresh_partition_scoped(
                base, agg_table, group_cols, measures,
                int(last), current_seq, props, cursor_prop, hist,
            )

    partial = delta.groupBy(*group_cols).agg(
        *[
            _MERGEABLE[fn][0](F.col(col)).alias(out)
            for out, (fn, col) in measures.items()
        ]
    )
    if last is not None and agg_table.exists():
        merged = (
            agg_table.read()
            .unionByName(partial)
            .groupBy(*group_cols)
            .agg(
                *[
                    _MERGEABLE[fn][1](F.col(out)).alias(out)
                    for out, (fn, _col) in measures.items()
                ]
            )
        )
    else:
        merged = partial
    n_folded = len([r for r in hist if last is None or r["seq"] > int(last)])
    agg_table.overwrite(
        merged, metrics={cursor_prop: current_seq}, op="agg_refresh"
    )
    agg_table.set_properties({**props, cursor_prop: str(current_seq)})
    return n_folded


def _refresh_partition_scoped(
    base: ParquetTable,
    agg_table: ParquetTable,
    group_cols: list[str],
    measures: dict[str, tuple[str, str]],
    last: int,
    current_seq: int,
    props: dict,
    cursor_prop: str,
    hist: list[dict],
) -> int:
    """Recompute only the base partitions touched after commit ``last``
    and splice the result into the aggregate state. Sound because the
    caller verified ``base.partition_by ⊆ group_cols``: every group's
    rows live in exactly one partition, so a touched partition's groups
    are recomputed from THAT partition alone and untouched groups keep
    their stored rows verbatim. Cost: O(touched partitions) base read +
    the (small) aggregate state rewrite — never a full-table scan."""
    changed = base.changed_partitions_since(last)
    spark = base.spark
    live = [p for p in changed if os.path.isdir(os.path.join(base.path, p))]
    if live:
        delta = spark.read.option("basePath", base.path).parquet(
            *[os.path.join(base.path, p) for p in live]
        )
        recomputed = delta.groupBy(*group_cols).agg(
            *[
                _MERGEABLE[fn][0](F.col(col)).alias(out)
                for out, (fn, col) in measures.items()
            ]
        )
    else:
        recomputed = None

    old = agg_table.read() if agg_table.exists() else None
    if old is not None and changed:
        # drop the aggregate rows owned by any changed partition —
        # including partitions a delete emptied (no recomputed rows).
        # Keys come from the partition DIR NAMES (the only record an
        # emptied partition leaves), cast back to the stored types.
        schema = {f.name: f.dataType for f in old.schema.fields}
        key_rows = []
        for d in changed:
            parts = dict(seg.split("=", 1) for seg in d.split(os.sep))
            key_rows.append([parts[c] for c in base.partition_by])
        keys = local_frame(
            spark,
            key_rows, ", ".join(f"{c} string" for c in base.partition_by)
        ).select(
            *[
                F.when(F.col(c) == "__HIVE_DEFAULT_PARTITION__", F.lit(None))
                .otherwise(F.col(c))
                .cast(schema[c])
                .alias(c)
                for c in base.partition_by
            ]
        )
        # eqNullSafe per column, NOT ``on=[cols]``: a NULL partition key
        # (__HIVE_DEFAULT_PARTITION__ mapped back to NULL above) never
        # satisfies a plain equality join, which would leave the stale
        # aggregate row for a touched NULL-key partition alongside the
        # recomputed one.
        keys_d = F.broadcast(keys.distinct())
        anti_cond = None
        for c in base.partition_by:
            e = old[c].eqNullSafe(keys_d[c])
            anti_cond = e if anti_cond is None else anti_cond & e
        old = old.join(keys_d, anti_cond, "left_anti")
    merged = old.unionByName(recomputed) if old is not None and recomputed is not None else (
        recomputed if recomputed is not None else old
    )
    if merged is None:
        return 0
    n_folded = len([r for r in hist if r["seq"] > last])
    agg_table.overwrite(
        merged, metrics={cursor_prop: current_seq}, op="agg_refresh"
    )
    agg_table.set_properties({**props, cursor_prop: str(current_seq)})
    return n_folded


JOIN_CURSOR_PROP = "join_cursor_seqs"


def refresh_join(
    left,
    right,
    target,
    on: list[str],
    how: str = "inner",
) -> dict:
    """Incremental materialized-JOIN maintenance — the join analogue of
    :func:`refresh_aggregate` (classic incremental view maintenance:
    with additive bases ``L_new = L_old ∪ ΔL`` and ``R_new = R_old ∪ ΔR``,
    the join delta is EXACTLY ``ΔL ⋈ R_new  ∪  L_old ⋈ ΔR`` — the two
    terms are disjoint by left-row provenance and the first already
    covers ``ΔL ⋈ ΔR``). Only the delta joins ship: per refresh the
    work is O(|ΔL|·|R| + |L|·|ΔR|) join probes instead of re-running
    the full join, and with broadcast-able deltas both terms are
    map-side.

    ``L_old`` resolves via the table store's own time travel
    (``as_of`` at the cursor commit), ``ΔL``/``ΔR`` via ``read_since``
    — which RAISES when any commit since the cursor is not
    file-additive (overwrite/compact/delete), the same soundness rule
    every incremental consumer here follows: fall back to a full
    rebuild there.

    Inner joins only (an outer join's delta must retract previously
    emitted null-padded rows — retraction needs a keyed MERGE, not an
    append). Cursors persist in the TARGET's properties, so a restart
    resumes exactly where the last refresh committed."""
    if how != "inner":
        raise ValueError("refresh_join maintains INNER joins only")
    cursors = target.properties().get(JOIN_CURSOR_PROP)
    l_seq = left.history()[-1]["seq"]
    r_seq = right.history()[-1]["seq"]
    if cursors is None:
        full = left.read().join(right.read(), on, "inner")
        target.overwrite(full, op="refresh_join_full")
        target.set_properties({JOIN_CURSOR_PROP: [l_seq, r_seq]})
        return {"mode": "full", "cursor": [l_seq, r_seq]}
    l0, r0 = cursors
    if l_seq == l0 and r_seq == r0:
        return {"mode": "noop", "cursor": [l0, r0]}
    dl = left.read_since(l0)
    dr = right.read_since(r0)
    l_old = left.as_of(l0)
    delta = dl.join(right.read(), on, "inner").unionByName(
        l_old.join(dr, on, "inner")
    )
    target.append(delta, metrics={"refresh_join_from": [l0, r0]})
    target.set_properties({JOIN_CURSOR_PROP: [l_seq, r_seq]})
    return {"mode": "incremental", "cursor": [l_seq, r_seq]}


def refresh_left_join(
    left,
    right,
    target,
    on: list[str],
) -> dict:
    """Incremental LEFT-join maintenance against a DIMENSION right side
    (right unique per key — the enrichment-join shape). The wrinkle an
    inner join doesn't have: a left row whose match hasn't arrived sits
    in the target NULL-PADDED, and when its dimension row lands later
    the padded row must be RETRACTED-and-replaced, not appended beside.

    Delta handling per refresh:
    - ``ΔL LEFT JOIN R_new`` appends (new left rows pad or match —
      either way they're new target rows);
    - ``ΔR`` UPDATES in place through the generic merge executor:
      target rows matching a new dimension key get their right columns
      filled (they were necessarily padded — the key was absent), a
      keyed merge commit instead of an append. The executor's
      source-uniqueness guard enforces the dimension contract.

    Same additivity rule as :func:`refresh_join` (``read_since``
    raises on non-additive base commits); cursors persist in the
    target's properties."""
    from data_ingestion_framework_spark.sinks.writers import (
        merge_into,
        merge_source,
    )

    cursors = target.properties().get(JOIN_CURSOR_PROP)
    l_seq = left.history()[-1]["seq"]
    r_seq = right.history()[-1]["seq"]
    if cursors is None:
        target.overwrite(
            left.read().join(right.read(), on, "left"),
            op="refresh_left_join_full",
        )
        target.set_properties({JOIN_CURSOR_PROP: [l_seq, r_seq]})
        return {"mode": "full", "cursor": [l_seq, r_seq]}
    l0, r0 = cursors
    if l_seq == l0 and r_seq == r0:
        return {"mode": "noop", "cursor": [l0, r0]}
    stats = {}
    dl = left.read_since(l0)
    if l_seq != l0:
        target.append(
            dl.join(right.read(), on, "left"),
            metrics={"refresh_left_join_dl": [l0, l_seq]},
        )
    if r_seq != r0:
        dr = right.read_since(r0)
        right_cols = [c for c in dr.columns if c not in on]
        stats = merge_into(
            target,
            dr,
            on,
            when_matched_update={c: merge_source(c) for c in right_cols},
            when_not_matched_insert=False,
        )
    target.set_properties({JOIN_CURSOR_PROP: [l_seq, r_seq]})
    return {"mode": "incremental", "cursor": [l_seq, r_seq], **stats}
