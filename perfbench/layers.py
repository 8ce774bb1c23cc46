"""Per-layer table from a traced run's span file.

    python3 perfbench/layers.py SPANS_JSON [TRACED_STDOUT UNTRACED_STDOUT]

prints calls, busy and self seconds for every traced layer inside the timed
window. Given the saved standard output of a traced and an untraced run of the same
workload, it also prints the tracing overhead: each ``trace.<metric>``
of the traced run minus ``<metric>`` of the untraced run.

A layer's busy time is the summed duration of its spans; its self time is
each span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import sys

TIMED_WINDOW = "bench.timed"


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def window(spans: list[list]) -> list[int]:
    """Indices of the spans inside the timed window (the window excluded)."""
    w = next((s for s in spans if s[0] == TIMED_WINDOW), None)
    if w is None:
        return []
    return [i for i, s in enumerate(spans)
            if s[0] != TIMED_WINDOW and s[2] is not None and w[1] <= s[1] and s[2] <= w[2]]


def layer_table(spans: list[list], only: list[int] | None = None) -> dict[str, dict]:
    """{span name: {calls, busy_s, self_s}} over the given span indices."""
    children: dict[int, list[tuple[float, float]]] = {}
    for name, start, end, parent, _run in spans:
        if parent >= 0 and end is not None:
            children.setdefault(parent, []).append((start, end))
    out: dict[str, dict] = {}
    for i in only if only is not None else range(len(spans)):
        name, start, end, _parent, _run = spans[i]
        if end is None:
            continue
        row = out.setdefault(name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["busy_s"] += end - start
        row["self_s"] += (end - start) - _covered(children.get(i, []))
    return out


def descendants_of(spans: list[list], ancestor: str, name: str) -> float:
    """Busy seconds of spans called `name` that run under a span called `ancestor`."""
    total = 0.0
    for s in spans:
        if s[0] != name or s[2] is None:
            continue
        p = s[3]
        while p >= 0 and spans[p][0] != ancestor:
            p = spans[p][3]
        if p >= 0:
            total += s[2] - s[1]
    return total


def median(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def format_table(table: dict[str, dict]) -> str:
    lines = [f"{'layer':42s} {'calls':>6s} {'busy_s':>9s} {'self_s':>9s}"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:42s} {row['calls']:6d} {row['busy_s']:9.3f} {row['self_s']:9.3f}")
    return "\n".join(lines)


def _metrics(path: str) -> dict:
    with open(path) as f:
        last = f.read().strip().splitlines()[-1]
    return {k: v["value"] for k, v in json.loads(last)["metrics"].items()}


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        spans = json.load(f)["spans"]
    print(format_table(layer_table(spans, window(spans))))
    if len(argv) == 3:
        traced, untraced = _metrics(argv[1]), _metrics(argv[2])
        print("\ntracing overhead (traced - untraced)")
        for k in sorted(untraced):
            if f"trace.{k}" in traced:
                print(f"{k:42s} {traced[f'trace.{k}'] - untraced[k]:+12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
