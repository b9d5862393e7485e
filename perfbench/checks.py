"""Correctness checks for the benchmark's outputs.

Every distinct statement's warm output is checked once, outside the
timed loop: ``interactive`` and ``export`` against DuckDB over the same
parquet files, ``pipeline`` against the query's registry oracle through
the repo's own ``tests/conftest.py:assert_oracle_match`` (imported, so
its normalization is the one the oracle gate uses). Each timed op's
output is then compared to its verified warm output by digest.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os


def digest(output) -> str:
    """Digest of one op's output. Strings (the engine's rendered
    results) hash as-is; row lists (pipeline collects) hash order-
    insensitively, since a registry query need not fix its row order."""
    if isinstance(output, str):
        data = output.encode()
    else:
        data = "\n".join(sorted(repr(tuple(r)) for r in output)).encode()
    return hashlib.sha256(data).hexdigest()


def duckdb_connection(sf_dir: str, table_names):
    """DuckDB connection with one view per fixture table, named as in
    the Spark catalog, over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    for name in table_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _json_value(v):
    # how Spark's JSON writer spells the value once json.loads has read it
    if isinstance(v, _dt.datetime):
        raise ValueError(f"timestamp cell {v!r}: cast to DATE or epoch in the statement")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def check_json(output: str, columns: list[str], rows: list[tuple]) -> str | None:
    """Compare a JSON-format result with DuckDB's rows, in order.
    Returns None when they agree, else a one-line reason. Spark's JSON
    writer omits null fields, so a missing key reads as NULL."""
    got = [tuple(obj.get(c) for c in columns) for obj in json.loads(output)]
    want = [tuple(_json_value(v) for v in row) for row in rows]
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: got {g!r}, expected {w!r}"
    return None


def _cells(line: str) -> list[str]:
    return [c.strip() for c in line[1:-1].split("|")]


def parse_tables(output: str) -> list[tuple[list[str], list[list[str]]]]:
    """Split a multi-statement TABLE-format output into its tables:
    ``(header, rows)`` per table, cells stripped of their padding."""
    tables = []
    lines = output.split("\n")
    i = 0
    while i < len(lines):
        if not lines[i].startswith("+"):
            i += 1  # an empty DDL rendering or a blank line
            continue
        header = _cells(lines[i + 1])
        i += 3  # sep, header, sep
        rows = []
        while not lines[i].startswith("+"):
            rows.append(_cells(lines[i]))
            i += 1
        tables.append((header, rows))
        i += 1
    return tables


def _table_cell(v) -> str:
    # the pretty-table rendering of one collected value
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def check_export(output: str, columns: list[str], rows: list[tuple]) -> str | None:
    """Check an export script's output: the COPY count, the external
    table's DDL result, and the read-back table, row for row."""
    tables = parse_tables(output)
    if len(tables) != 3:
        return f"expected 3 statement results, got {len(tables)}"
    (c_head, c_rows), (_, ddl_rows), (head, got) = tables
    if c_head != ["count"] or c_rows != [[str(len(rows))]]:
        return f"COPY reported {c_rows!r}, expected [[{len(rows)!r}]]"
    if ddl_rows:
        return f"CREATE EXTERNAL TABLE returned rows {ddl_rows[:2]!r}"
    if head != list(columns):
        return f"columns {head!r} != expected {list(columns)!r}"
    want = [[_table_cell(v) for v in row] for row in rows]
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: got {g!r}, expected {w!r}"
    return None


def check_sql(con, workload: str, output: str, check_sql_text: str) -> str | None:
    rel = con.sql(check_sql_text)
    columns, rows = rel.columns, rel.fetchall()
    if workload == "interactive":
        return check_json(output, columns, rows)
    return check_export(output, columns, rows)


def check_pipeline(spark, con, name: str, oracle: str | None, rows, schema, sf_dir: str) -> str | None:
    """Check a pipeline query's warm rows against its registry oracle
    with the oracle gate's own comparison."""
    from datafusion_wasm_bindings_spark.queries import resolve_oracle
    from tests.conftest import assert_oracle_match

    if oracle is None:
        return None if schema.fields else "no columns"
    df = spark.createDataFrame(rows, schema)
    try:
        assert_oracle_match(df, con.sql(resolve_oracle(oracle, sf_dir)), name)
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None
