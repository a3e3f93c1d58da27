"""query_mix correctness: each Spark result against its SparkEntry.oracleSql
run in DuckDB, normalised by the repository's own oracle compare
(tools/check.py: columns sorted by name, rows sorted, floats rounded to 6
places, timestamps as UTC-naive ISO strings)."""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import TABLES, norm_rows  # noqa: E402


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(con, spark_files, sql):
    """None when the Spark output matches the oracle, else why not."""
    if not spark_files:
        return "no Spark output"
    sq = f"SELECT * FROM read_parquet({sorted(spark_files)!r})"
    s = con.execute(sq)
    scols = [d[0] for d in s.description]
    srows = s.fetchall()
    o = con.execute(sql)
    ocols = [d[0] for d in o.description]
    orows = o.fetchall()
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} vs oracle {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs oracle {len(orows)}"
    if norm_rows(scols, srows) != norm_rows(ocols, orows):
        return "values differ from the oracle"
    return None


def check_results(results_dir, data_dir):
    """[(query, problem or None)] for every query written under results_dir."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = connect(data_dir)
    out = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        try:
            out.append((name, compare(con, files, sql)))
        except Exception as e:  # an oracle or read error is a failed check
            out.append((name, f"error: {e}"))
    con.close()
    return out
