"""DuckDB oracle checks by the comparison rules of `tools/check.py`
(imported from it, so the benchmark applies them by construction): same
sorted column names, same row count, and equal cells row by row after
sorting rows by every column, doubles compared by full `repr`."""
import sys
import threading
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check import TABLES, frame_key  # noqa: E402


def compare(got, exp):
    """None when the frames match, else a one-line reason."""
    gc, gr = frame_key(got)
    ec, er = frame_key(exp)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    diff = [(a, b) for a, b in zip(gr, er) if a != b]
    if diff:
        return f"{len(diff)}/{len(gr)} differing rows; first: spark={diff[0][0]} duck={diff[0][1]}"
    return None


def read_spark_output(path):
    files = sorted(Path(path).glob("*.parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_flow(con, sql, out_dir, timeout_s):
    """Compare one flow's committed output with its oracle SQL; None = OK.
    An oracle still running after `timeout_s` is interrupted and counts
    as a failed check."""
    try:
        got = read_spark_output(out_dir)
    except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
        return f"cannot read output: {e}"
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        exp = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001
        return f"oracle SQL error: {e}"
    finally:
        timer.cancel()
    if got.empty and len(got.columns) == 0 and len(exp) == 0:
        return None
    return compare(got, exp)


class UpsertOracle:
    """Replays the change batches in DuckDB with `Merge.applyChanges`
    semantics (latest change per key wins; 'D' removes the key) and
    checks each `Upsert.read` dump against the replayed state."""

    COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

    def __init__(self, con, base_orders):
        self.con = con
        con.execute(f"CREATE TABLE state AS SELECT {self.COLS} FROM read_parquet('{base_orders}')")

    def apply(self, batch):
        self.con.execute(f"""
            CREATE OR REPLACE TEMP TABLE w AS
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC, _op DESC) AS rn
              FROM read_parquet('{batch}')) WHERE rn = 1""")
        self.con.execute("DELETE FROM state WHERE o_orderkey IN (SELECT o_orderkey FROM w)")
        self.con.execute(f"INSERT INTO state SELECT {self.COLS} FROM w WHERE _op <> 'D'")

    def check(self, read_dir):
        files = sorted(Path(read_dir).glob("*.parquet"))
        if not files:
            n = self.con.sql("SELECT count(*) FROM state").fetchone()[0]
            return None if n == 0 else f"read is empty, state has {n} rows"
        src = "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"
        extra = self.con.sql(f"SELECT count(*) FROM (SELECT {self.COLS} FROM {src} "
                             f"EXCEPT ALL SELECT {self.COLS} FROM state)").fetchone()[0]
        missing = self.con.sql(f"SELECT count(*) FROM (SELECT {self.COLS} FROM state "
                               f"EXCEPT ALL SELECT {self.COLS} FROM {src})").fetchone()[0]
        if extra or missing:
            return f"upsert read differs from replayed state: {extra} extra, {missing} missing rows"
        return None
