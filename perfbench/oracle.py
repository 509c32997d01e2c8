"""DuckDB side of the benchmark's correctness check.

For each output a workload checks, run the oracle SQL that
``graft.SparkEntry.oracleSql`` declares for its registry entry against
the same generated inputs, and write the result as parquet. The harness
then digests those rows exactly as it digests the engine's own timed
output (order-independent xxhash64 reduce, after casting each column to
the engine's type) and counts any difference as a failed operation.
"""
import os

import duckdb


def _source(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) \
        else f"read_parquet('{path}')"


def run(sql, table, input_dir, out_dir, tmp_dir):
    """Write the oracle's result under out_dir; returns its columns."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {max(1, min(4, os.cpu_count() or 1))}")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"{_source(f'{input_dir}/{table}.parquet')}")
        os.makedirs(out_dir, exist_ok=True)
        columns = con.sql(sql).columns
        con.execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)")
        return columns
    finally:
        con.close()
