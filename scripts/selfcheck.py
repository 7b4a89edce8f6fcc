"""Replicates the driver's correctness gate locally: run entry(spark),
then each queries()[name] vs oracle_sql()[name] through DuckDB at sf0.01,
comparing row-count, schema width, and an order-insensitive value hash.
An entry whose output has an array, map or struct column fails before
its rows are compared (the driver's canonicalizer takes scalars only).

Usage: python scripts/selfcheck.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
from pyspark.sql.types import ArrayType, MapType, StructType

sys.path.insert(0, ".")

import __spark_entry__ as ent  # noqa: E402
from antidb_spark.session import get_spark  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def nonscalar_cols(schema) -> list[str]:
    """Columns a driver-gate entry may not return: the gate's pandas
    canonicalizer sorts result frames, and array / map / struct cells
    are unhashable there."""
    return [
        f.name for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[*]", app_name="selfcheck")

    t0 = time.time()
    edf = ent.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns}, "
          f"{time.time() - t0:.1f}s  sample={erows[:3]}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        bad = nonscalar_cols(sdf.schema)
        if bad:
            failures += 1
            print(f"  {name:28s} FAIL non-scalar output columns {bad}")
            continue
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        t_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"  {name:28s} rows={len(srows):7d}  (rows-only, no oracle) "
                  f"spark={t_spark:.1f}s")
            continue
        t0 = time.time()
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        t_duck = time.time() - t0
        ok_n = len(srows) == len(orows)
        ok_c = sorted(scols) == sorted(ocols)
        ok_h = ok_c and value_hash(srows, scols) == value_hash(orows, ocols)
        status = "OK " if (ok_n and ok_c and ok_h) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"  {name:28s} {status} rows={len(srows)}/{len(orows)} "
              f"cols={scols}/{ocols} hash={'=' if ok_h else '≠'} "
              f"spark={t_spark:.1f}s duck={t_duck:.1f}s")
        if not ok_h and ok_n and ok_c:
            s_set = {tuple(norm_cell(v) for v in r) for r in srows}
            o_set = {tuple(norm_cell(v) for v in r) for r in orows}
            print(f"    only-spark: {sorted(s_set - o_set)[:3]}")
            print(f"    only-duck : {sorted(o_set - s_set)[:3]}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
