"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at a given sf against its ``oracle_sql()``
DuckDB equivalent and compares row count, column names, and values
(rows sorted, exact match per cell with a float report showing max abs diff
when exact fails).  Usage:

    python tools/selfcheck.py [--json out.json] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# the checkout this file belongs to, whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(rows, columns, sort_rows=False):
    """Sort columns by name, mirroring the driver's compare.  The driver
    hashes rows in EMISSION order, so the default keeps row order — passing
    here means the driver's value-hash will match too."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]
    if sort_rows:
        out = sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))
    return out, [columns[i] for i in order]


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b or str(a) == str(b)


def main():
    import duckdb

    from neo_server_spark.session import get_spark

    import __spark_entry__ as entrymod

    args = sys.argv[1:]
    json_out = None
    vanilla = False
    if "--vanilla" in args:
        # the driver's conditions: a PLAIN SparkSession — none of our
        # session.py confs (200 shuffle partitions, no nanosAsLong, no
        # Arrow enablement).  Entries must be green HERE, not just under
        # get_spark (round 2 lost ~28 queries to exactly this gap).
        vanilla = True
        args.remove("--vanilla")
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # --first N: check the first N queries() entries (the driver window)
    first_n = None
    for a in list(only):
        if a.startswith("--first"):
            only.remove(a)
            first_n = int(a.split("=")[1])
    report: dict[str, dict] = {}

    if vanilla:
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[32]").getOrCreate()
    else:
        spark = get_spark(app_name="selfcheck")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if first_n is not None:
        qs = dict(list(qs.items())[:first_n])
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        spark_dt = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle, "
                  f"spark {spark_dt:.2f}s)")
            continue
        t1 = time.time()
        try:
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = [tuple(r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        oracle_dt = time.time() - t1
        dt = time.time() - t0
        # type lint (hard): the driver value-hashes DuckDB results, and
        # int128/decimal128 columns serialize differently from Spark's int64
        # even when every cell compares equal (the two-round pack_sequences
        # red was exactly this).  No oracle may emit HUGEINT or DECIMAL.
        try:
            desc = con.execute(f"DESCRIBE ({sql.rstrip().rstrip(';')})")
            banned = [(r[0], r[1]) for r in desc.fetchall()
                      if "HUGEINT" in str(r[1]).upper()
                      or "DECIMAL" in str(r[1]).upper()]
        except Exception:
            banned = []
        if banned:
            cols = "; ".join(f"{c}={t}" for c, t in banned)
            print(f"FAIL  {name}: TYPELINT — oracle emits {cols}; "
                  f"CAST to BIGINT/DOUBLE")
            report[name] = {"pass": False, "rows": len(s_rows),
                            "spark_sec": round(spark_dt, 3),
                            "oracle_sec": round(oracle_dt, 3)}
            n_fail += 1
            continue
        # dtype audit: the driver may hash pandas values, where int-vs-float
        # or int32-vs-int64 representation differences flip the hash even
        # when cell values compare equal (DuckDB widens integer sum() to
        # HUGEINT -> pandas float64; Spark year() is int32 vs DuckDB int64)
        try:
            import pandas as _pd  # noqa: F401
            spd = sdf.limit(500).toPandas()
            opd = con.execute(sql).df().head(500)
            dd = []
            for c in sorted(set(spd.columns) & set(opd.columns)):
                a, b = spd[c].dtype, opd[c].dtype
                if str(a) != str(b):
                    dd.append(f"{c}: spark={a} oracle={b}")
            if dd:
                print(f"DTYPE {name}: " + "; ".join(dd))
        except Exception as ex:  # dtype audit is advisory
            print(f"DTYPE {name}: audit error {ex}")
        s_cn = o_cn = None
        verdict = None
        for sort_rows in (False, True):
            s_norm, s_cn = normalize(s_rows, s_cols, sort_rows)
            o_norm, o_cn = normalize(o_rows, o_cols, sort_rows)
            if s_cn != o_cn:
                verdict = f"FAIL  {name}: columns {s_cn} != {o_cn}"
                break
            if len(s_norm) != len(o_norm):
                verdict = f"FAIL  {name}: rowcount {len(s_norm)} != {len(o_norm)}"
                break
            bad = None
            max_diff = 0.0
            n_bad = 0
            for i, (sr, orow) in enumerate(zip(s_norm, o_norm)):
                for j, (a, b) in enumerate(zip(sr, orow)):
                    if not cells_equal(a, b):
                        n_bad += 1
                        if bad is None:
                            bad = (i, s_cn[j], a, b)
                        try:
                            max_diff = max(max_diff, abs(float(a) - float(b)))
                        except (TypeError, ValueError):
                            max_diff = float("inf")
            if not bad:
                verdict = (f"PASS  {name}: {len(s_norm)} rows  "
                           f"(spark {spark_dt:.2f}s, oracle {oracle_dt:.2f}s)")
                if sort_rows:
                    # values agree but only after sorting — the driver's
                    # emission-order hash would FAIL this entry
                    verdict = (f"FAIL  {name}: ORDER-HAZARD — rows match only "
                               f"after sorting; add orderBy + ORDER BY")
                break
            if sort_rows:
                verdict = (f"FAIL  {name}: {n_bad} cell mismatches, first row "
                           f"{bad[0]} col {bad[1]}: {bad[2]!r} != {bad[3]!r} "
                           f"(maxdiff={max_diff:.3g})")
        print(verdict)
        report[name] = {"pass": verdict.startswith("PASS"),
                        "rows": len(s_rows),
                        "spark_sec": round(spark_dt, 3),
                        "oracle_sec": round(oracle_dt, 3)}
        if verdict.startswith("PASS"):
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    if json_out:
        # machine-readable replicate: correctness sweeps double as bench
        # samples, so a single-run bench outlier can be cross-checked
        # against the sweep's timing instead of costing a round of analysis
        import json as _json
        with open(json_out, "w") as f:
            _json.dump({"sf_dir": sf_dir, "entries": report}, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
