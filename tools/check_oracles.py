"""Driver-style correctness check: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same sf dir; compare row count, column
names, and an order-insensitive value hash (mimics CORRECTNESS_r{N}.json).

Usage: python tools/check_oracles.py [sf_dir] [query|family ...]

A family is a module of ``registry/`` (e.g. ``lines``) and stands for all
of its queries.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from ocr_system_spark.session import get_spark  # noqa: E402
from ocr_system_spark.sources.tables import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.astype(object).where(pd.notna(df), None)
    rows = sorted(repr(tuple(r)) for r in df.itertuples(index=False, name=None))
    return rows


def value_hash(rows: list[str]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    families = {f.__name__.rsplit(".", 1)[1]: f for f in entrymod.FAMILIES}
    only = set()
    for arg in sys.argv[2:]:
        only |= set(families[arg].queries()) if arg in families else {arg}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark(cores=8, app_name="oracle_check", shuffle_partitions=16)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            ours = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only {name}: {len(ours)} rows")
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(ours) != len(exp):
            problems.append(f"rows {len(ours)} != {len(exp)}")
        if sorted(ours.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(ours.columns)} != {sorted(exp.columns)}")
        if not problems:
            a, b = canon(ours), canon(exp)
            if value_hash(a) != value_hash(b):
                diff = [x for x in a if x not in set(b)][:3]
                diffb = [x for x in b if x not in set(a)][:3]
                problems.append(f"hash mismatch; ours-only={diff} oracle-only={diffb}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(ours)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
