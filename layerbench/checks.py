"""Output checks of the layered benchmark, against DuckDB.

* A registered row's checked result (parquet, dumped by the JVM) must
  equal its `SparkEntry.oracleSql` query run by DuckDB over the same
  tables: columns compared by name, rows in order, floating point at 9
  significant digits (the comparison `tools/check_oracle.py` makes).
* The word count's `output.txt` and `output2.txt` must equal DuckDB's
  `regexp_split_to_array(line, '[^a-zA-Z]+')` counts over the input
  text, under the same headers and in the same two orders.
"""
import json
import math
import os

import duckdb

HEADER_ALPHA = "=== Final Word Counts (A → Z) ==="
HEADER_FREQ = "=== Final Word Counts (High → Low) ==="


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return v


def _first_diff(got, want):
    return next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                min(len(got), len(want)))


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), [tuple(_canon(v) for v in r) for r in df.itertuples(index=False)]


def check_row(con, sql, dump):
    """Return None when the dump matches the oracle, else the reason."""
    if not sql:
        return "no oracle registered"
    got_cols, got = _rows(con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").df())
    want_cols, want = _rows(con.execute(sql).df())
    if got_cols != want_cols:
        return f"columns {got_cols} vs oracle {want_cols}"
    if got != want:
        return (f"{len(got)} vs oracle {len(want)} rows, "
                f"first difference at row {_first_diff(got, want)}")
    return None


def check_wordcount(text, out_dir):
    con = duckdb.connect()
    counts = con.execute(
        "SELECT word, count(*) AS cnt FROM ("
        " SELECT unnest(regexp_split_to_array(line, '[^a-zA-Z]+')) AS word FROM ("
        "  SELECT unnest(string_split(content, chr(10))) AS line FROM read_text(?)))"
        " WHERE word <> '' GROUP BY word", [text]).fetchall()
    alpha = [HEADER_ALPHA] + [f"{w} -> {c}" for w, c in sorted(counts, key=lambda r: r[0].encode())]
    freq = [HEADER_FREQ] + [f"{w} -> {c}" for w, c in
                            sorted(counts, key=lambda r: (-r[1], r[0].encode()))]
    for fname, want in (("output.txt", alpha), ("output2.txt", freq)):
        with open(os.path.join(out_dir, fname), encoding="utf-8") as f:
            got = f.read().split("\n")
        if got[-1] == "":
            got.pop()
        if got != want:
            return (f"{fname}: {len(got)} vs {len(want)} lines, "
                    f"first difference at line {_first_diff(got, want)}")
    return None


def check(check_dir, ops, data_dir, text):
    """Check every operation's first checked output; {op: None | reason}."""
    result = {}
    con = None
    if data_dir:
        con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        with open(os.path.join(check_dir, "oracle_sql.json")) as f:
            oracles = json.load(f)
    for op in ops:
        try:
            if op == "wordcount":
                result[op] = check_wordcount(text, os.path.join(check_dir, "wordcount"))
            else:
                result[op] = check_row(con, oracles.get(op), os.path.join(check_dir, op))
        except Exception as e:  # a missing dump or a failing oracle is a failed check
            result[op] = f"{type(e).__name__}: {e}"
    return result
