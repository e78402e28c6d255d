"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB at the given
SF, then compares row count, column names, and order-insensitive values
(exact match after canonicalization). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime, timezone
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_cdc_fluss_quickstart_spark.session import get_spark  # noqa: E402
from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs  # noqa: E402
from flink_cdc_fluss_quickstart_spark.tables import TABLE_NAMES, table_path  # noqa: E402


def canon(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        # convert a tz-aware value to UTC wall time BEFORE dropping tzinfo --
        # a bare replace() would keep the local wall clock and misread any
        # non-zero offset as a different instant
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    # recurse into collections so decimals/datetimes nested in array/struct
    # results are canonicalized too (a top-level-only pass compared them raw)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


# Value-CLASS comparison, not exact width: the external gate's hash passed
# int32-vs-int64 rows in round 3 (both land as integers) but failed
# HUGEINT-vs-BIGINT (HUGEINT surfaces as decimal128 -> a different value
# representation). So flag only cross-class pairs -- the artifact class that
# actually breaks the driver's hash. Classes not in the map (timestamps,
# arrays, structs) compare by value only.
_VALUE_CLASS = {
    "long": "int", "integer": "int", "short": "int", "byte": "int",
    "double": "float", "float": "float",
    "string": "str", "boolean": "bool", "date": "date",
}


def _spark_class(type_name: str) -> str | None:
    if type_name.startswith("decimal"):  # typeName() is 'decimal(p,s)'
        return "decimal"
    return _VALUE_CLASS.get(type_name)


def _arrow_class(t: str) -> str | None:
    # DuckDB HUGEINT surfaces as decimal128(38,0) -- NOT int-class: it
    # reaches the comparing harness as Decimal/float, not int
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("int", "uint")):
        return "int"
    if t in ("double", "float", "halffloat"):
        return "float"
    if t in ("string", "large_string"):
        return "str"
    if t == "bool":
        return "bool"
    if t.startswith("date32"):
        return "date"
    return None


def _type_mismatches(spark_schema, arrow_schema) -> list[str]:
    out = []
    arrow_types = {f.name: str(f.type) for f in arrow_schema}
    for f in spark_schema.fields:
        sc = _spark_class(f.dataType.typeName())
        at = arrow_types.get(f.name)
        ac = _arrow_class(at) if at is not None else None
        if sc is None or ac is None:
            continue
        if sc != ac:
            out.append(f"{f.name}: spark={f.dataType.typeName()} duck={at}")
    return out


def rows_key(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in args if not a.startswith("/")]

    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("oracle-check")
    specs = all_specs()
    if names:
        specs = {n: specs[n] for n in names}

    n_pass = n_fail = n_weak = 0
    for name, spec in specs.items():
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"WEAK {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_weak += 1
            continue
        try:
            res = con.execute(spec.oracle)
            arrow = res.fetch_arrow_table()
            d_cols = arrow.column_names
            d_rows = [tuple(r.values()) for r in arrow.to_pylist()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        else:
            # the external gate's value-hash is TYPE-sensitive (round-3
            # lesson: DuckDB HUGEINT vs Spark BIGINT hash-mismatched while
            # values compared equal) -- so compare physical types too
            mism = _type_mismatches(sdf.schema, arrow.schema)
            if mism:
                problems.append(f"types differ: {mism}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            sk = rows_key([tuple(r) for r in s_rows], s_cols)
            dk = rows_key(d_rows, d_cols)
            if sk != dk:
                diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        # several operators persist intra-query frames (profile/keyed frames
        # feeding both self-join sides); drop them between queries so a full
        # gate run over all specs doesn't accumulate cached RDDs
        spark.catalog.clearCache()
    print(f"== {n_pass} pass, {n_weak} weak, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
