"""The batch workload's program: one SparkSession in this process, driven
by JSON commands on stdin, one JSON reply per line on stdout.

    python3 perfbench/batch_worker.py SF_DIR [SPANS_OUT]

Commands:
  {"op": "entry", "name": N}            run queries()[N] to the noop sink
  {"op": "entry", "name": N, "out": F}  collect it and pickle
                                        (columns, rows) to F
  {"op": "append", "shape": "3col"|"13col", "path": P, "start": S,
   "rows": R, "seed": N}                io.write_tag_table(..., "append")
  {"op": "oracle", "names": [N, ...]}   reply {"sql": {N: oracle_sql()[N]}}
  {"op": "trace", "on": B}              switch tracing on or off
                                        (SPANS_OUT given)
  {"op": "quit"}

With SPANS_OUT the program's boundaries are wrapped by ``bootstrap``;
each command is one traced operation, and its entry build and plan are
spans of their own.  Spans are written to SPANS_OUT on "quit".
"""

from __future__ import annotations

import json
import pickle
import sys

#: prefix of reply lines, so that other output on stdout is skipped
REPLY = "perfbench-reply "
APPEND_BASE_NS = 1_735_689_600_000_000_000    # 2025-01-01T00:00:00Z
APPEND_STEP_NS = 1_000_000_000


def append_value(i: int, seed: int) -> float:
    """Value of appended row ``i``: exact in binary, so sums are exact."""
    return ((i * 7 + seed) % 1000) / 4.0


def append_frame(spark, shape: str, start: int, rows: int, seed: int):
    """Rows ``start .. start+rows`` in bench.py's 3-col or 13-col shape."""
    import pyspark.sql.functions as F
    i = F.col("id")
    base = spark.range(start, start + rows).select(
        F.concat(F.lit("name-"), (i % 5).cast("string")).alias("name"),
        (F.lit(APPEND_BASE_NS) + i * F.lit(APPEND_STEP_NS)).alias("time"),
        (((i * 7 + F.lit(seed)) % 1000) / F.lit(4.0)).alias("value"))
    if shape == "3col":
        return base
    return base.select(
        "name", "time", "value",
        (F.col("value").cast("long") % 100).cast("short").alias("short_value"),
        (F.col("value").cast("long") % 200).cast("int").alias("ushort_value"),
        F.col("value").cast("int").alias("int_value"),
        F.col("value").cast("long").alias("uint_value"),
        F.col("value").cast("long").alias("long_value"),
        F.col("value").cast("decimal(20,0)").alias("ulong_value"),
        F.col("name").alias("str_value"),
        F.format_string('{"t":"json-%s"}', F.col("name")).alias("json_value"),
        F.lit("127.0.0.1").alias("ipv4_value"),
        F.lit("::1").alias("ipv6_value"))


def main() -> None:
    sf_dir = sys.argv[1]
    tracer = None
    if len(sys.argv) > 2:
        import bootstrap
        tracer = bootstrap.install(sys.argv[2])
    from neo_server_spark import io as nio
    from neo_server_spark.session import get_spark

    import __spark_entry__ as entries

    spark = get_spark(app_name="perfbench-batch")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entries.queries()

    def reply(obj) -> None:
        sys.stdout.write(REPLY + json.dumps(obj) + "\n")
        sys.stdout.flush()

    def span(layer, root=False):
        return tracer.span(layer, root) if tracer else _NoSpan()

    reply({"ready": nio.load_table(spark, sf_dir, "events").count()})
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        if op == "quit":
            break
        if op == "oracle":
            sql = entries.oracle_sql()
            missing = [n for n in cmd["names"] if n not in sql]
            reply({"ok": not missing, "error": f"no oracle for {missing}",
                   "sql": {n: sql[n] for n in cmd["names"] if n in sql}})
            continue
        if op == "trace":
            tracer.enabled = cmd["on"]
            reply({"ok": True})
            continue
        try:
            with span("op", root=True):
                if op == "entry":
                    with span("operators.build"):
                        df = queries[cmd["name"]](spark, sf_dir)
                    if tracer is not None and tracer.enabled:
                        with span("engine.plan"):
                            df._jdf.queryExecution().executedPlan()
                    if "out" in cmd:
                        rows = [tuple(r) for r in df.collect()]
                        with open(cmd["out"], "wb") as f:
                            pickle.dump((df.columns, rows), f)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                elif op == "append":
                    df = append_frame(spark, cmd["shape"], cmd["start"],
                                      cmd["rows"], cmd["seed"])
                    nio.write_tag_table(df, cmd["path"], mode="append")
                else:
                    raise ValueError(f"unknown command {op!r}")
        except Exception as ex:     # the reply carries the cause
            reply({"ok": False, "error": f"{type(ex).__name__}: {ex}"})
            continue
        reply({"ok": True})
    if tracer is not None:
        tracer.enabled = False
        tracer.dump()


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


if __name__ == "__main__":
    main()
