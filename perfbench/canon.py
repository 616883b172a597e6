"""Order-insensitive digest of a query result, computed in DuckDB.

The normalisation is the one scripts/local_verify.py compares with: columns
sorted by name, floating-point values printed to 10 significant digits, NaN
and NULL marked, every other value as text. Each row becomes one string;
the digest is the row count plus the sum of the rows' 128-bit MD5 values
modulo 2**128, so row order does not matter but a dropped, duplicated or altered
row does.
"""
SEP = "\x1f"
NULL = "\\N"


def _cell(name, dtype):
    col = f'"{name}"'
    t = dtype.upper()
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        text = (f"CASE WHEN isnan({col}::DOUBLE) THEN 'NaN' "
                f"ELSE printf('%.10g', {col}::DOUBLE) END")
    elif t == "TIMESTAMP WITH TIME ZONE":
        text = f"CAST(CAST({col} AS TIMESTAMP) AS VARCHAR)"
    else:
        text = f"CAST({col} AS VARCHAR)"
    return f"coalesce({text}, '{NULL}')"


def connect(temp_dir):
    """An in-memory DuckDB that spills, if it must, to `temp_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def digest(con, query):
    """{'columns': sorted column names, 'rows': n, 'hash': hex} of the
    result of the SELECT statement `query`."""
    cols = con.sql(f"DESCRIBE {query}").fetchall()
    cols = sorted((c[0], c[1]) for c in cols)
    cells = ", ".join(_cell(n, t) for n, t in cols)
    rows, hi, lo = con.sql(
        f"SELECT count(*), sum(md5_number_upper(r)), sum(md5_number_lower(r)) "
        f"FROM (SELECT concat_ws('{SEP}', {cells}) AS r FROM ({query}) AS t)").fetchone()
    total = (((hi or 0) << 64) + (lo or 0)) % (1 << 128)
    return {"columns": [n for n, _ in cols], "rows": rows, "hash": f"{total:032x}"}
