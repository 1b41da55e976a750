"""Row-count oracle of the query_suite workload.

The JVM writes, under one directory, each query's DuckDB oracle SQL
(`<query>.sql`, from `SparkEntry.oracleSql`), the row count the query
returned (`<query>.rows`) and the path of the generated tables (`tables`).
`check` runs every oracle in DuckDB over those tables and compares its row
count with the JVM's.
"""
import glob
import os


def check(oracle_dir):
    """Return one message per query whose row count differs from its oracle's."""
    import duckdb

    with open(os.path.join(oracle_dir, "tables")) as fh:
        tables = fh.read()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for path in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    sql_files = sorted(glob.glob(os.path.join(oracle_dir, "*.sql")))
    if not sql_files:
        return ["no query row counts to compare"]
    failures = []
    for sql_file in sql_files:
        query = sql_file[: -len(".sql")]
        with open(sql_file) as fh:
            expected = con.execute(f"SELECT count(*) FROM ({fh.read()}) AS q").fetchone()[0]
        with open(query + ".rows") as fh:
            got = int(fh.read())
        if got != expected:
            failures.append(f"{os.path.basename(query)}: {got} rows, oracle {expected}")
    return failures
