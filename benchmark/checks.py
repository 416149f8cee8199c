"""Output checks, computed with DuckDB apart from the program.

Nothing here calls the program.  The registry check runs each query's
DuckDB ``oracle_sql()`` twin over the same input parquet and compares
value for value, with the canonicalization of ``tools/oracle_sweep.py``.
The HistoryLoad check recomputes each landed table from its source
parquet.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

from tools.oracle_sweep import _canon as canon

AUDIT_TYPES = {
    "row_hash_code": "string", "updatedby": "string",
    "updated_utc_ts": "timestamp", "runid": "int",
}

# Spark types whose ``CAST(x AS STRING)`` text DuckDB's
# ``CAST(x AS VARCHAR)`` reproduces exactly, so the row hash can be
# recomputed.  Decimals print alike only as plain strings, which Spark
# uses under ANSI mode (the Spark 4 default); without it a zero prints
# as ``0E-18`` and the recomputed hash no longer matches.  Floating
# point (``1.0E20`` vs ``1e+20``), binary and arrays print differently;
# tables hashing any of those get the weaker check.
SHARED_TEXT_TYPES = ("smallint", "int", "bigint", "string", "date", "timestamp")


def _text_shared(spark_type: str) -> bool:
    return spark_type in SHARED_TEXT_TYPES or spark_type.startswith("decimal")


def duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def check_query(con, oracle_sql: str, columns: list[str], rows: list) -> str | None:
    """None when Spark's rows equal the oracle's, else a reason."""
    res = con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(columns) != sorted(duck_cols):
        return f"schema {sorted(columns)} != oracle {sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    if canon(rows, columns) != canon(duck_rows, duck_cols):
        return "values differ from oracle"
    return None


_ARROW_TO_SPARK = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "bool": "boolean", "string": "string", "large_string": "string",
    "float": "float", "double": "double", "date32[day]": "date",
    "binary": "binary", "list<item: float>": "array<float>",
    "list<element: float>": "array<float>",
}


def arrow_types(schema) -> dict[str, str]:
    """Parquet/Arrow column types in Spark's type vocabulary."""
    out = {}
    for f in schema:
        t = str(f.type)
        if t.startswith("timestamp"):
            t = "timestamp"
        elif t.startswith("decimal128"):
            t = "decimal" + t[len("decimal128"):].replace(" ", "")
        else:
            t = _ARROW_TO_SPARK[t]
        out[f.name] = t
    return out


def standardize(name: str) -> str:
    """The reference's rule (rdbms_operations.py:239-243), restated."""
    return name.lower().replace(" ", "_").replace("-", "").replace("__", "_")


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _duck_type(spark_type: str) -> str:
    t = spark_type.lower()
    simple = {
        "smallint": "SMALLINT", "int": "INTEGER", "bigint": "BIGINT",
        "string": "VARCHAR", "date": "DATE", "float": "FLOAT",
        "double": "DOUBLE", "binary": "BLOB", "timestamp": "TIMESTAMP",
        "array<float>": "FLOAT[]",
    }
    if t in simple:
        return simple[t]
    if t.startswith("decimal"):
        return t.upper()
    raise ValueError(f"no DuckDB twin for {spark_type}")


def cast_p1_p4(col: str, spec: dict) -> str:
    """DuckDB expression for a source column after the pipeline's P1-P4
    casts: the value the row hash reads."""
    e = _q(col)
    if col in spec["bit_cols"]:
        e = f"CAST(CAST({e} AS BOOLEAN) AS SMALLINT)"
    if col in spec["tinyint_cols"]:
        e = f"CAST({e} AS SMALLINT)"
    if col in spec["decimal_cols"]:
        if spec["source_types"][col] in ("float", "double"):
            # a double's value is its shortest decimal text (8752.13,
            # not the binary expansion 8752.1299999999991)
            e = f"CAST({e} AS VARCHAR)"
        e = f"CAST({e} AS DECIMAL(38,18))"
    if col in spec["date_cols"]:
        e = f"CAST({e} AS DATE)"
    return e


def expected_column(col: str, spec: dict) -> str:
    """DuckDB expression for one landed column: P1-P4, then the declared
    target cast (P8), timestamps truncated to milliseconds."""
    e = cast_p1_p4(col, spec)
    target = spec["target"][standardize(col)]
    if target == "timestamp":
        return f"date_trunc('millisecond', CAST({e} AS TIMESTAMP))"
    return f"CAST({e} AS {_duck_type(target)})"


def hashed_type(col: str, source_type: str, spec: dict) -> str:
    """Spark type of a column at the point the row hash reads it."""
    if col in spec["bit_cols"] or col in spec["tinyint_cols"]:
        return "smallint"
    if col in spec["decimal_cols"]:
        return "decimal(38,18)"
    if col in spec["date_cols"]:
        return "date"
    return source_type


def hash_recomputable(spec: dict) -> bool:
    """True when every column the row hash reads has a shared text form."""
    return all(_text_shared(hashed_type(c, t, spec)) for c, t in spec["source_types"].items())


def landed_types(landed_dir: str) -> dict[str, str]:
    part = sorted(n for n in os.listdir(landed_dir) if n.endswith(".parquet"))[0]
    return arrow_types(pq.read_schema(os.path.join(landed_dir, part)))


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet part files, bytes) under a landed table directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def check_landed(con, source: str, landed_dir: str, spec: dict,
                 updatedby: str, runid: int) -> list[str]:
    """Every check on one landed table; returns the failures."""
    problems: list[str] = []
    src_cols = list(spec["source_types"])
    landed = f"read_parquet('{landed_dir}/*.parquet')"
    src = f"read_parquet('{source}')"
    n_src = pq.ParquetFile(source).metadata.num_rows
    n_out = con.execute(f"SELECT count(*) FROM {landed}").fetchone()[0]
    if n_out != n_src:
        problems.append(f"rows {n_out} != source {n_src}")

    out_types = landed_types(landed_dir)
    want = {standardize(c): spec["target"][standardize(c)] for c in src_cols}
    want.update(AUDIT_TYPES)
    if list(out_types) != list(want):
        problems.append(f"columns {list(out_types)} != {list(want)}")
        return problems
    if out_types != want:
        problems.append(f"types {out_types} != declared {want}")

    hash_shared = hash_recomputable(spec)
    exp = ", ".join(f"{expected_column(c, spec)} AS {_q(standardize(c))}" for c in src_cols)
    got = ", ".join(_q(standardize(c)) for c in src_cols)
    if hash_shared:
        # the reference's '(' + ','.join(str(v)) + ')' with nulls as '',
        # over the columns as the hash reads them (after P1-P4)
        parts = ", ".join(
            f"coalesce(CAST({cast_p1_p4(c, spec)} AS VARCHAR), '')" for c in src_cols
        )
        exp += f", md5('(' || concat_ws(',', {parts}) || ')') AS row_hash_code"
        got += ", row_hash_code"
    for a, b, label in ((f"SELECT {exp} FROM {src}", f"SELECT {got} FROM {landed}", "missing"),
                        (f"SELECT {got} FROM {landed}", f"SELECT {exp} FROM {src}", "extra")):
        n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            problems.append(f"{n} {label} rows against the declared casts and row hash")

    by, run_ids, stamps, bad_stamp = con.execute(
        f"SELECT list_distinct(list(updatedby)), list_distinct(list(runid)), "
        f"count(DISTINCT updated_utc_ts), "
        f"count(*) FILTER (WHERE epoch_us(updated_utc_ts) % 1000 <> 0) FROM {landed}"
    ).fetchone()
    if by != [updatedby] or run_ids != [runid]:
        problems.append(f"audit columns updatedby={by} runid={run_ids}")
    if stamps != 1 or bad_stamp:
        problems.append(f"updated_utc_ts: {stamps} distinct, {bad_stamp} not ms-precise")

    bad_hex = con.execute(
        f"SELECT count(*) FROM {landed} WHERE NOT regexp_full_match(row_hash_code, '[0-9a-f]{{32}}')"
    ).fetchone()[0]
    if bad_hex:
        problems.append(f"{bad_hex} row hashes are not 32 lowercase hex digits")
    if not hash_shared:
        # equal rows must hash alike, and distinct rows apart
        cols = ", ".join(_q(standardize(c)) for c in src_cols)
        split, n_rows, n_hashes = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {landed} GROUP BY ALL "
            f"HAVING count(DISTINCT row_hash_code) > 1)), "
            f"(SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {landed})), "
            f"(SELECT count(DISTINCT row_hash_code) FROM {landed})"
        ).fetchone()
        if split or n_rows != n_hashes:
            problems.append(
                f"row hash: {split} groups of equal rows split, "
                f"{n_rows} distinct rows vs {n_hashes} distinct hashes"
            )
    return problems
