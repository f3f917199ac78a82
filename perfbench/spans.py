"""Per-layer metrics from the spans ``bootstrap`` writes.

A layer's time in an operation is the sum of the self times of its spans
in that operation; ``<layer>.ms`` is the median of that sum over the
operations that entered the layer.  Counts are totals divided by the
number of operations (or, for ``ingest.files_per_write``, of operations
that wrote).
"""

from __future__ import annotations

from stats import median

#: metric name -> span layer whose per-operation self time it is
TIMED = {
    "server.self_ms": "server",
    "tql.self_ms": "tql",
    "catalog.ms": "catalog",
    "sqlx.ms": "sqlx",
    "engine.create_df_ms": "engine.create_df",
    "engine.action_ms": "engine.action",
    "operators.build_ms": "operators.build",
    "engine.plan_ms": "engine.plan",
    "codecs.ms": "codecs",
    "ingest.ms": "ingest",
    "txlog.commit_ms": "txlog.commit",
}
COUNTS = ("catalog.views_per_op", "engine.jobs_per_op",
          "engine.tasks_per_op", "engine.task_ms_per_op",
          "engine.shuffle_kb_per_op", "codecs.kb_per_op",
          "ingest.files_per_write")
NAMES = tuple(TIMED) + COUNTS


def _med(xs) -> float:
    return median(xs) if xs else 0.0


def layer_metrics(data: dict, window: tuple[float, float]) -> dict:
    """Metrics over the operations that began inside ``window`` (wall
    clock seconds).  A layer no operation entered reads 0."""
    lo, hi = window
    ops = {op["op"]: op for op in data["ops"] if lo <= op["wall0"] <= hi}
    per_op: dict[str, dict[int, float]] = {}
    for op_id, _sid, _parent, layer, _t0, _t1, self_ms in data["spans"]:
        if op_id in ops:
            d = per_op.setdefault(layer, {})
            d[op_id] = d.get(op_id, 0.0) + self_ms
    n = max(1, len(ops))
    out = {name: _med(list(per_op.get(layer, {}).values()))
           for name, layer in TIMED.items()}

    def total(key: str) -> float:
        return sum(op["counts"].get(key, 0) for op in ops.values())

    def spark(key: str) -> list[float]:
        return [op["spark"][key] for op in ops.values()
                if op.get("spark", {}).get("jobs")]

    out["catalog.views_per_op"] = total("catalog.views") / n
    out["engine.jobs_per_op"] = sum(
        op.get("spark", {}).get("jobs", 0) for op in ops.values()) / n
    out["engine.tasks_per_op"] = sum(
        op.get("spark", {}).get("tasks", 0) for op in ops.values()) / n
    out["engine.task_ms_per_op"] = _med(spark("task_ms"))
    out["engine.shuffle_kb_per_op"] = _med(spark("shuffle_kb"))
    out["codecs.kb_per_op"] = _med([
        op["counts"]["codecs.bytes"] / 1024.0 for op in ops.values()
        if "codecs.bytes" in op["counts"]])
    writers = [op for op in ops.values() if op["op"] in per_op.get(
        "ingest", {})]
    out["ingest.files_per_write"] = (
        sum(op["counts"].get("ingest.files", 0) for op in writers)
        / len(writers)) if writers else 0.0
    return out
