"""Statistics of the lifecycle benchmark: the tail rule, span self time,
and the result line's format.

Pure functions over plain Python values; run.py applies them to the JSON
result perfbench.Main writes, and tests/test_stats.py pins them.
"""
import json
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def type_tail(kinds, k):
    """Tail over operation types that does not depend on how many ran.

    `kinds` maps an operation type to its samples in run order. Each type's
    high sample is the largest of its first `k` samples (one per timed
    unit), so every type is read at the same rank whatever the
    throughput; the tail is the geometric mean of those over the types.
    Returns (value, samples read per type): the count is below `k` only
    when a type had fewer samples.
    """
    highs = [max(v[:k]) for v in kinds.values() if v]
    if not highs:
        return float("nan"), 0
    return geomean(highs), min(len(v[:k]) for v in kinds.values() if v)


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    direct children cover (overlapping children are counted once).

    `spans` is a list of [name, start, end, parent_index, op]; times are in
    nanoseconds. Returns a list of self times in seconds, index-aligned.
    """
    children = {}
    for i, sp in enumerate(spans):
        if sp[3] >= 0:
            children.setdefault(sp[3], []).append(i)
    out = []
    for i, (_, start, end, _, _) in enumerate(spans):
        covered = 0
        cur_s = cur_e = None
        for j in sorted(children.get(i, []), key=lambda j: spans[j][1]):
            s, e = max(spans[j][1], start), min(spans[j][2], end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start - covered) / 1e9)
    return out


def mean_self_by_name(spans):
    """Mean self time in seconds per span name."""
    acc = {}
    for sp, t in zip(spans, self_times(spans)):
        acc.setdefault(sp[0], []).append(t)
    return {k: sum(v) / len(v) for k, v in acc.items()}


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last output line. `metrics` maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def parse_result_line(line, expected_metrics=None):
    """Parse and validate a result line; returns the decoded object.

    Raises ValueError when the line does not have exactly the keys
    correct/attempted/failed/metrics, when attempted < 1 or counts are not
    whole numbers, when a metric lacks a finite numeric value or a unit, or
    when `expected_metrics` is given and the names differ from it.
    """
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted < 1")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} keys {sorted(m)}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} value {v!r}")
        if not isinstance(m["unit"], str) or not m["unit"]:
            raise ValueError(f"metric {name} unit {m['unit']!r}")
    if expected_metrics is not None and set(obj["metrics"]) != set(expected_metrics):
        raise ValueError(f"metrics {sorted(obj['metrics'])} != {sorted(expected_metrics)}")
    return obj
