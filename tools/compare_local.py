#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles: run Verify output vs DuckDB.

Usage: python3 tools/compare_local.py <sfDir> <verifyOutDir>

Mimics the driver's t2 check: for each query with an oracle, run the SQL in
DuckDB over views named after the parquet tables, load the Spark parquet
output, sort columns by name, compare row counts, schemas (loosely), and
values (exact for ints/strings, tolerant 1e-9 for floats). Both sides are
read with pandas' nullable integer dtypes, so an integer column with nulls
stays integer and is compared exactly (a null equals a null) instead of
through float64.
"""
import sys, json, glob
import duckdb
import pandas as pd
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

NULLABLE_INTS = {
    pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
    pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(),
    pa.uint8(): pd.UInt8Dtype(), pa.uint16(): pd.UInt16Dtype(),
    pa.uint32(): pd.UInt32Dtype(), pa.uint64(): pd.UInt64Dtype(),
}


def with_nullable_ints(df: pd.DataFrame, table: pa.Table) -> pd.DataFrame:
    """`df` (read from `table`) with each integer column of `table` as a
    pandas nullable integer column: a plain read turns an integer column
    with nulls into float64, which rounds values above 2^53."""
    for f in table.schema:
        if pa.types.is_integer(f.type):
            df[f.name] = table.column(f.name).to_pandas(types_mapper=NULLABLE_INTS.get)
    return df


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamps to naive utc strings for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            try:
                s = s.dt.tz_convert(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output");  n_fail += 1;  continue
        try:
            rel = con.sql(sql)
            # The driver hashes DuckDB output by physical type: an uncast
            # SUM(int)/`//` emits HUGEINT, which hash-mismatches Spark's
            # BIGINT even when values agree. Catch the class here.
            huge = [c for c, t in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"FAIL {name}: HUGEINT output columns {huge} — wrap in CAST(... AS BIGINT)")
                n_fail += 1;  continue
            spark_table = pq.read_table(f"{out_dir}/{name}")
            got = norm(with_nullable_ints(spark_table.to_pandas(), spark_table))
            duck_table = rel.arrow()
            want = norm(with_nullable_ints(con.from_arrow(duck_table).df(), duck_table))
        except Exception as e:
            print(f"FAIL {name}: {e}");  n_fail += 1;  continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1;  continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}");  n_fail += 1;  continue
        bad = None
        for c in got.columns:
            g, w = got[c], want[c]
            if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
                ok = np.allclose(g.astype(float), w.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
                exact = np.array_equal(g.astype(float).values, w.astype(float).values, equal_nan=True)
                if ok and not exact:
                    print(f"  note {name}.{c}: close but not bit-exact")
                if not ok:
                    bad = c;  break
            else:
                if not g.astype(str).equals(w.astype(str)):
                    bad = c;  break
        if bad:
            mism = (got[bad].astype(str) != want[bad].astype(str))
            idx = mism[mism].index[:3] if mism.any() else []
            detail = [(got[bad].iloc[i], want[bad].iloc[i]) for i in idx]
            print(f"FAIL {name}: column {bad} differs, e.g. {detail}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)");  n_pass += 1
    # rows-only queries
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name not in oracle:
            try:
                n = len(pd.read_parquet(d))
                print(f"ROWS {name}: {n} rows {'(EMPTY!)' if n == 0 else ''}")
            except Exception as e:
                print(f"ROWS {name}: unreadable: {e}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
