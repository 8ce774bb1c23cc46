"""cdc — the change-data-capture apply engine.

apply.py     normalize → LWW dedup aggregate → copy-on-write/MoR MERGE → tagged commit
partial.py   column-level LWW for sparse change feeds (Paimon partial-update analog)
aggregate.py per-column fold specs sum/count/max/min/last/first (Paimon aggregation analog)
delete.py    out-of-band predicate/keyed deletes (Delta DELETE FROM analog)
stream.py  Structured Streaming foreachBatch driver + checkpoint resume
"""

from .aggregate import apply_batch_agg, fold_agg_batch, replay_log_agg
from .apply import apply_batch, lww_dedup, normalize_events, replay_log
from .delete import delete_where, purge_keys
from .partial import apply_batch_partial, fold_partial_updates, replay_log_partial

__all__ = [
    "apply_batch",
    "delete_where",
    "purge_keys",
    "apply_batch_agg",
    "apply_batch_partial",
    "fold_agg_batch",
    "fold_partial_updates",
    "lww_dedup",
    "normalize_events",
    "replay_log",
    "replay_log_agg",
    "replay_log_partial",
]
