"""Output checks that compare the program's results with DuckDB's.

Each check returns a list of (name, ok, detail) tuples. They read only the
files the benchmark run wrote, so they can be tried on a tampered result.
"""
import math

import duckdb


def cells_equal(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
        return a == b
    return a == b


def rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(cells_equal(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def ev_checks(spec):
    """MuseMotion statements over the written snapshot: Spark vs DuckDB."""
    con = duckdb.connect()
    # Spark orders NULLS FIRST ascending and NULLS LAST descending
    con.execute("SET default_null_order = 'nulls_first_on_asc_last_on_desc'")
    con.execute(f"CREATE VIEW musemotion AS SELECT * FROM read_parquet('{spec['snapshot']}/*.parquet')")
    con.execute(
        "CREATE VIEW utilities AS SELECT * FROM read_csv("
        f"'{spec['utilities']}', header = true, columns = "
        "{'utility_id': 'INTEGER', 'utility_name': 'VARCHAR', 'region': 'VARCHAR'})")
    out = []
    n = con.execute("SELECT count(*) FROM musemotion").fetchone()[0]
    out.append(("duckdb.snapshot_rows", n == spec["expected_rows"],
                f"DuckDB reads {n} snapshot rows, expected {spec['expected_rows']}"))
    for st in spec["statements"]:
        want = [list(r) for r in con.execute(st["sql"]).fetchall()]
        ok = rows_equal(st["rows"], want)
        out.append((f"duckdb.sql.{st['name']}", ok,
                    f"{len(st['rows'])} Spark rows vs {len(want)} DuckDB rows"))
    con.close()
    return out


def duckdb_checks(spec):
    """The DuckDB checks a run's result asks for (none without a spec)."""
    return ev_checks(spec) if spec else []
