"""Correctness gate: the expected table computed by DuckDB from the same
staged parquet files the engine consumed.

Row LWW: the winner per key is the event with the highest (lsn, op rank),
and a delete winner means the key is absent. Sparse partial merge: the
per-column ``arg_max`` fold over the events after each key's last delete,
the SQL ``__spark_entry__`` uses as its partial-replay oracle.
Both sides reduce the table to one summary with identical arithmetic:
row count, rows per ``source``, ``sum(n_tok)`` and an order-sensitive
token checksum tied to the key.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as entry

_ROW_LWW = f"""
SELECT doc_id, tokens, n_tok, source FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY lsn DESC, {entry._OP_RANK_SQL} DESC) AS rn
  FROM ({{ev}}))
WHERE rn = 1 AND op <> 'delete'
"""

# per row: (1 + key number mod 1009) * sum_j tokens[j] * (j + 1)
_CHECKSUM_DUCK = (
    "(1 + CAST(substr(doc_id, 5) AS BIGINT) % 1009) * coalesce("
    "list_sum(list_transform(tokens, (x, i) -> CAST(x AS BIGINT) * i)), 0)"
)
_CHECKSUM_SPARK = (
    "(1 + CAST(substr(doc_id, 5) AS BIGINT) % 1009) * coalesce("
    "aggregate(transform(tokens, (x, i) -> CAST(x AS BIGINT) * (i + 1)),"
    " CAST(0 AS BIGINT), (a, b) -> a + b), 0)"
)


def _expected_sql(mode: str, ev: str) -> str:
    """Expected live rows (doc_id, tokens, n_tok, source) from the events query ev."""
    if mode == "row":
        return _ROW_LWW.format(ev=ev)
    sparse = entry._SPARSE_REPLAY_SQL.format(
        ev=ev,
        tokens_fold="arg_max(tokens, lsn)",
        ntok_fold="arg_max(n_tok, lsn)",
        source_fold="arg_max(source, lsn)",
    )
    return (
        "SELECT doc_id, CAST(string_split(tokens_csv, ',') AS INTEGER[]) AS tokens,"
        f" n_tok, source FROM ({sparse})"
    )


def _summary(groups) -> dict:
    """Totals from (source, rows, sum n_tok, sum checksum) groups."""
    return {
        "rows": sum(int(g[1]) for g in groups),
        "sum_n_tok": sum(int(g[2] or 0) for g in groups),
        "checksum": sum(int(g[3] or 0) for g in groups),
        "by_source": {str(g[0]): int(g[1]) for g in groups},
    }


def spark_summary(table) -> dict:
    import pyspark.sql.functions as F

    groups = (
        table.read()
        .groupBy("source")
        .agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.expr(_CHECKSUM_SPARK)))
        .collect()
    )
    return _summary([tuple(g) for g in groups])


class Expected:
    """The staged events in DuckDB, each tagged with the index ``f`` of its
    file, so the expected table after any prefix of applied files is one
    query away."""

    def __init__(self, mode: str, event_files: list[str]):
        self.mode = mode
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE events AS " + " UNION ALL ".join(
            f"SELECT *, {i} AS f FROM read_parquet('{path}')"
            for i, path in enumerate(event_files)))

    def _rows(self, applied: int, key: str | None = None) -> str:
        ev = f"SELECT * EXCLUDE (f) FROM events WHERE f < {applied}"
        if key is not None:
            ev += f" AND doc_id = '{key}'"
        return _expected_sql(self.mode, ev)

    def summary(self, applied: int) -> dict:
        return _summary(self.con.execute(
            f"SELECT source, count(*), sum(n_tok), sum({_CHECKSUM_DUCK})"
            f" FROM ({self._rows(applied)}) GROUP BY source"
        ).fetchall())

    def lookup(self, applied: int, key: str) -> list[tuple]:
        return self.con.execute(self._rows(applied, key)).fetchall()

    def close(self) -> None:
        self.con.close()


def check(run) -> list[str]:
    """Every mismatch between the engine's table and DuckDB, as messages."""
    problems = []
    exp = Expected(run.mode, run.event_files)
    try:
        want = exp.summary(run.applied)
        got = spark_summary(run.table)
        if got != want:
            problems.append(f"final state: engine {got} != duckdb {want}")
        for applied, key, rows in run.lookups:
            expected = [tuple(r) for r in exp.lookup(applied, key)]
            if sorted(rows) != sorted(expected):
                problems.append(f"lookup {key} after {applied} batches: {rows} != {expected}")
    finally:
        exp.close()
    v = run.table.validate(deep=True)
    if not v["ok"]:
        problems.append(f"validate(deep=True): {v}")
    return problems
