"""Output checks: every operation's output is compared before its timings
count. SQL scripts are compared with DuckDB running the equivalent SQL on
the same parquet files; query rows with an oracle query are compared with
DuckDB the way the repo's oracle gate does; rows-only rows are compared
with their recorded row count and schema."""
import datetime
import glob
import json
import math
import os

import duckdb
import pandas as pd


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ------------------------------------------------------- executeSql output
def parse_blocks(text, as_json):
    """Split an executeSql result into one row list per statement. A row is
    a list of cell strings (table format) or of JSON values (JSON format)."""
    if as_json:
        return [[list(obj.values()) for obj in json.loads(line)]
                for line in text.split("\n")]
    lines, blocks, i = text.split("\n"), [], 0
    while i < len(lines):
        if lines[i] == "++":  # a statement without result columns
            blocks.append([])
            i += 2
            continue
        i += 3  # border, header, border
        rows = []
        while not lines[i].startswith("+"):
            rows.append([c.strip() for c in lines[i].strip("|").split("|")])
            i += 1
        blocks.append(rows)
        i += 1
    return blocks


def same_cell(got, want):
    if want is None:
        return got in ("", None)
    if isinstance(want, bool):
        return str(got).lower() == str(want).lower()
    if isinstance(want, (int, float)) or hasattr(want, "as_tuple"):
        try:
            g, w = float(got), float(want)
        except (TypeError, ValueError):
            return False
        return g == w or math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9)
    return str(got) == str(want)


def check_sql(con, op, result):
    """None when the check-pass output of a SQL operation matches DuckDB,
    else a one-line reason."""
    try:
        blocks = parse_blocks(result["out"], op["json"])
    except Exception as e:  # noqa: BLE001 - any parse failure is a mismatch
        return f"unparseable output: {type(e).__name__}: {e}"
    if len(blocks) != len(op["expect"]):
        return f"{len(blocks)} result blocks, expected {len(op['expect'])}"
    for n, (got, sql) in enumerate(zip(blocks, op["expect"])):
        try:
            want = [] if sql is None else con.execute(sql).fetchall()
        except duckdb.Error as e:
            return f"statement {n}: DuckDB failed: {e}"
        if len(got) != len(want):
            return f"statement {n}: {len(got)} rows, expected {len(want)}"
        for g, w in zip(got, want):
            if len(g) != len(w) or not all(same_cell(a, b) for a, b in zip(g, w)):
                return f"statement {n}: row {g} != {list(w)}"
    if op.get("readback"):
        want = con.execute(op["readback_sql"]).fetchone()[0] + op["readback_extra"]
        if result["readback"] != want:
            return f"read back {result['readback']} rows, expected {want}"
    return None


# ------------------------------------------------------------ query rows
def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    order = df.map(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def _datestr(v):
    if isinstance(v, datetime.datetime):
        try:
            return v.date().isoformat() if v.time() == datetime.time(0) else v.isoformat()
        except (ValueError, TypeError):
            return None
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _oracle_cell(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if a is None and b is None:
        return True
    if hasattr(a, "__len__") and hasattr(b, "__len__") and not isinstance(a, str):
        return list(a) == list(b)
    da, db = _datestr(a), _datestr(b)
    if da is not None and db is not None:
        return da == db
    if str(a) == str(b):
        return True
    try:
        return float(a) == float(b)
    except (TypeError, ValueError):
        return False


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def check_row(con, name, result, expected_rows):
    """None when a query row's check-pass output is correct, else a reason."""
    got = read_output(result["dir"])
    if got is None:
        return "no output files"
    if result.get("oracle"):
        got, want = _canon(got), _canon(con.execute(result["oracle"]).fetchdf())
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows, oracle has {len(want)}"
        for c in got.columns:
            for i, (a, b) in enumerate(zip(got[c], want[c])):
                if not _oracle_cell(a, b):
                    return f"row {i} column {c}: {a!r} != {b!r}"
        return None
    rec = expected_rows.get(name)
    if rec is None:
        return "no recorded row count for this rows-only row"
    if len(got) != rec["rows"] or result["schema"] != rec["schema"]:
        return (f"{len(got)} rows / {result['schema']}, recorded "
                f"{rec['rows']} / {rec['schema']}")
    return None

