"""Self-check mimicking the driver's correctness gate: run every
queries() entry at sf0.01 and diff against oracle_sql() via DuckDB
(row count + column names + integer-vs-decimal column types +
order-insensitive stringified values).

Usage: python tools/oracle_check.py [SF_DIR] [QUERY,QUERY,...]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def normalize(rows, columns):
    out = []
    for r in rows:
        vals = []
        for c in sorted(columns):
            v = r[c]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def _num_kind(is_int: bool, is_decimal: bool) -> str | None:
    return "integer" if is_int else "decimal" if is_decimal else None


def type_mismatches(spark_schema, arrow_schema) -> list[str]:
    """Columns one engine returns as an integer and the other as a decimal
    (DuckDB's HUGEINT sum arrives as decimal128(38, 0)). Stringified values
    agree across that boundary, so only a type check catches it — and the
    driver's gate fails it."""
    import pyarrow.types as pat
    from pyspark.sql import types as T

    otypes = {f.name.lower(): f.type for f in arrow_schema}
    out = []
    for f in spark_schema.fields:
        ot = otypes.get(f.name.lower())
        if ot is None:
            continue
        st = f.dataType
        sk = _num_kind(isinstance(st, T.IntegralType), isinstance(st, T.DecimalType))
        ok = _num_kind(pat.is_integer(ot), pat.is_decimal(ot))
        if sk and ok and sk != ok:
            out.append(f"{f.name}: spark {st.simpleString()} vs duckdb {ot}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from ocel_ocpn_lakehouse_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only, {len(srows)} rows ({dt:.1f}s)")
            if len(srows) == 0 and name != "q23_dedup_exact_full":
                print(f"     WARNING: empty result for rows-only query")
            continue
        try:
            otbl = con.sql(oracles[name]).arrow()
            ocols = otbl.column_names
            orows = otbl.to_pylist()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures.append(name)
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        bad_types = type_mismatches(sdf.schema, otbl.schema)
        if bad_types:
            print(f"FAIL {name}: column types {bad_types}")
            failures.append(name)
            continue
        sn = normalize(srows, scols)
        on = normalize(orows, ocols)
        if len(sn) != len(on):
            print(f"FAIL {name}: rowcount {len(sn)} vs {len(on)}")
            failures.append(name)
        elif sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(sn)} rows ({dt:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
