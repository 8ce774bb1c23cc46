"""Aggregation merge engine — per-column running aggregates over a
keyed change feed (Paimon's `merge-engine = aggregation` analog; also
ClickHouse AggregatingMergeTree, Flink upsert-sinks with agg state).

Instead of the new row replacing the old (row LWW) or overlaying it
column-by-column (partial-update), each payload column carries a SPEC
that says how an incoming value FOLDS into the stored one:

  * "sum"   — stored + incoming (null contributes nothing; result null
              until the first contribution)
  * "count" — running count of non-null contributions
  * "max" / "min"
  * "last"  — last non-null wins (exactly the partial-update semantic)
  * "first" — first non-null wins; later contributions are ignored

Delete semantics match the partial engine: op = delete kills the row
AND resets every accumulator; a later event resurrects the key folding
from scratch. Values from before a delete never leak through it.

Scale shape: the batch fold is TWO aggregates — a small one over the
batch's delete events (per-key delete barrier, typically a sliver of
the batch) joined back to the events (AQE broadcasts it when small;
when it shuffles instead, the downstream per-key fold reuses the join's
hash partitioning, so the events still cross at most one exchange) —
then the shared columnar core: one bucket-pruned key-restricted read of
old rows, one key equi-join, one O(batch) delta write. Everything is
associative fold state, so the committed row IS the accumulator — no
event history is retained, which is what makes 10^10-event feeds
tractable: table size stays O(#keys), not O(#events).

Type note: "sum"/"count" fold in long (integral inputs) or double and
cast back to the stored column type at commit; feeds that can overflow
an int32 column should widen it first (the engine's type-widening
schema evolution, normalize_events, does this when the feed starts
sending longs).

Reference parity: the reference's resolution stage folds update streams
into standing per-footprint aggregates (height averaging over matched
footprints, resolve-footprints.scala:96-118 folds candidate heights
into one representative value); this is that semantic generalized to a
declarative per-column fold spec over the CDC spine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..icebox.table import IceboxTable
from .apply import _bad_event_pred, _merge, _op_rank_col
from .partial import _NEG, _apply_columnar

SPECS = ("sum", "count", "max", "min", "last", "first")


def _integral(dt) -> bool:
    return dt.simpleString() in ("tinyint", "smallint", "int", "bigint")


def fold_agg_batch(
    ev: DataFrame, key: str, payload_cols: list[str], specs: dict[str, str]
) -> DataFrame:
    """Per-key batch fold honoring the delete barrier.

    Pass 1 aggregates ONLY the delete events to the per-key last-delete
    position; pass 2 joins that barrier back (left) and folds every
    column's post-barrier contributions per its spec. Columns default to
    "last". Output contract matches fold_partial_updates: key, payload
    cols (null = no contribution after the barrier), _live, _had_del,
    _del_lsn, _wm, _n_ev, _bad.
    """
    unknown = {c: s for c, s in specs.items() if s not in SPECS}
    if unknown:
        raise ValueError(f"unknown agg specs: {unknown} (valid: {SPECS})")
    rank = F.coalesce(_op_rank_col(), F.lit(-1))
    lsn_safe = F.coalesce(F.col("lsn"), F.lit(-(1 << 62)))
    ordc = F.struct(lsn_safe.alias("l"), rank.alias("r"))
    is_del = F.col("op") == "delete"

    dels = (
        ev.filter(is_del)
        .groupBy(key)
        .agg(F.max(ordc).alias("_dord"))
    )
    e = ev.join(dels, key, "left")
    after_del = ordc > F.coalesce(F.col("_dord"), _NEG())
    live_ev = ~is_del & after_del

    aggs = []
    for c in payload_cols:
        spec = specs.get(c, "last")
        contrib = live_ev & F.col(c).isNotNull()
        if spec == "sum":
            aggs.append(F.sum(F.when(contrib, F.col(c))).alias(c))
        elif spec == "count":
            aggs.append(F.sum(F.when(contrib, F.lit(1)).cast("long")).alias(c))
        elif spec == "max":
            aggs.append(F.max(F.when(contrib, F.col(c))).alias(c))
        elif spec == "min":
            aggs.append(F.min(F.when(contrib, F.col(c))).alias(c))
        elif spec == "first":
            aggs.append(F.min_by(F.col(c), F.when(contrib, ordc)).alias(c))
        else:  # last
            aggs.append(F.max_by(F.col(c), F.when(contrib, ordc)).alias(c))
    aggs += [
        F.max(F.when(live_ev, ordc)).isNotNull().alias("_live"),
        F.max(F.col("_dord")).isNotNull().alias("_had_del"),
        F.coalesce(F.max(F.col("_dord.l")), F.lit(-(1 << 62))).alias("_del_lsn"),
        F.max("lsn").alias("_wm"),
        F.count(F.lit(1)).alias("_n_ev"),
        F.sum(_bad_event_pred(key).cast("long")).alias("_bad"),
    ]
    return e.groupBy(key).agg(*aggs)


def _combine_for(specs: dict[str, str]):
    def combine(c: str, old_ok, types):
        spec = specs.get(c, "last")
        old_g = F.when(old_ok, F.col(f"_old_{c}"))
        new = F.col(c)
        if spec in ("sum", "count"):
            wide = "long" if _integral(types[c]) else "double"
            both_null = old_g.isNull() & new.isNull()
            return (
                F.when(both_null, F.lit(None))
                .otherwise(
                    F.coalesce(old_g.cast(wide), F.lit(0).cast(wide))
                    + F.coalesce(new.cast(wide), F.lit(0).cast(wide))
                )
                .cast(types[c])
            )
        if spec == "max":
            return F.greatest(old_g, new)
        if spec == "min":
            return F.least(old_g, new)
        if spec == "first":
            return F.coalesce(old_g, new)
        return F.coalesce(new, old_g)  # last

    return combine


def apply_batch_agg(
    table: IceboxTable,
    events: DataFrame,
    batch_id: int | str,
    specs: dict[str, str],
    tag_prefix: str = "batch",
    merge_strategy: str = "delta",
    retry_on_conflict: int = 0,
    enforce_order: bool = False,
) -> IceboxTable:
    """Apply one change batch folding each column per its spec; returns
    the table at the new snapshot. Exactly-once tags, lineage, schema
    evolution (a new column starts accumulating from null), OCC retry,
    MoR/CoW strategies — all inherited from the shared columnar core
    (see cdc/partial.py:_apply_columnar). The committed rows are full
    accumulator states, so reads, compaction, changes(), cursors, and
    materialized views work unchanged.

    In-order contract: batches must arrive in LSN order (the streaming
    spine's contract); a wholly-stale batch is guarded per key (the old
    accumulator is re-emitted unchanged, nothing is double-counted on
    tag replay by the exactly-once gate)."""
    return _merge(
        table, events, batch_id, tag_prefix, retry_on_conflict,
        lambda ev, tag: _apply_columnar(
            table, ev, batch_id, tag,
            lambda ev, key, cols: fold_agg_batch(ev, key, cols, specs),
            _combine_for(specs), "aggregate",
            merge_strategy, retry_on_conflict, enforce_order,
        ),
    )


def replay_log_agg(
    table: IceboxTable,
    log: DataFrame,
    specs: dict[str, str],
    merge_strategy: str = "delta",
) -> IceboxTable:
    """Batch-mode aggregation replay in batch_id order."""
    batch_ids = sorted(
        r["batch_id"] for r in log.select("batch_id").distinct().collect()
    )
    for b in batch_ids:
        table = apply_batch_agg(
            table,
            log.filter(F.col("batch_id") == b),
            b,
            specs,
            merge_strategy=merge_strategy,
        )
    return table
