"""Output check: a query's Spark result against its DuckDB oracle.

Rows are compared as an order-insensitive multiset after the value
normalization of ``scripts/check_contract.py`` (floats to 6 significant
digits, -0.0 folded into 0.0, NaN and NULL spelled out). Oracle results
are cached per (input directory, oracle text, DuckDB version), because
several oracles take longer than the query they check.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Lower-cased sorted column names and sorted normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [columns[i].lower() for i in order], out


def spark_side(df) -> tuple[list[str], list[tuple]]:
    """Fetch through Arrow (large outputs stay off the row path)."""
    t = df.toArrow()
    cols = t.column_names
    return normalize(cols, zip(*(t.column(c).to_pylist() for c in cols)) if cols else [])


class Oracle:
    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.data_dir = data_dir
        self.version = duckdb.__version__
        self.cache = os.path.join(data_dir, "oracle")
        os.makedirs(self.cache, exist_ok=True)
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256(f"{self.version}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                d = json.load(f)
            return d["columns"], [tuple(r) for r in d["rows"]]
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        cols, rows = normalize(names, cur.fetchall())
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(tmp, path)
        return cols, rows


def compare(spark_res, oracle_res) -> str | None:
    """None when equal, else a one-line reason."""
    (scols, srows), (ocols, orows) = spark_res, oracle_res
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows != oracle {len(orows)}"
    for a, b in zip(srows, orows):
        if a != b:
            return f"row {a} != oracle {b}"
    return None


def corruption_caught(res: tuple[list[str], list[tuple]]) -> bool:
    """The comparison must flag a changed value and a dropped row."""
    cols, rows = res
    if not rows:
        return True
    changed = [("<corrupt>",) + rows[0][1:]] + rows[1:]
    return (
        compare((cols, sorted(changed)), res) is not None
        and compare((cols, rows[1:]), res) is not None
    )
