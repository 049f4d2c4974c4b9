"""Order-insensitive comparison of Spark results with DuckDB twins.

The Spark result is written to parquet and compared with the twin inside
DuckDB, so results of hundreds of thousands of rows never pass through
Python row by row.
"""

from __future__ import annotations

import os

import duckdb

#: DuckDB twin of notebook cells 9-13 (species_sightings ->
#: sightings_per_year) for the beluga species id
NOTEBOOK_SQL = """
SELECT CAST(substr(o.eventDate, 1, 4) AS INTEGER) AS date, COUNT(*) AS num_sightings
FROM occurrences o
JOIN species s ON o.speciesId = s.id
JOIN locations l ON o.waterBodyId = l.id
WHERE o.speciesId = 137115 AND o.date_is_valid
GROUP BY 1
"""

_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE",
            "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def _quote(path: str) -> str:
    return path.replace("'", "''")


def duckdb_views(*dirs: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per parquet file in ``dirs``."""
    con = duckdb.connect()
    for d in dirs:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM read_parquet('{_quote(os.path.join(d, f))}')")
    return con


def _columns(con, view: str) -> dict[str, str]:
    return {name: dtype for name, dtype, *_ in con.execute(f"DESCRIBE {view}").fetchall()}


def _norm(col: str, dtype: str) -> str:
    """Numbers as doubles rounded to 6 places, everything else as text."""
    if dtype.split("(")[0] in _NUMERIC:
        return f'round(CAST("{col}" AS DOUBLE), 6)'
    return f'CAST("{col}" AS VARCHAR)'


def compare(con, spark_dir: str, twin_sql: str, where: str = "TRUE") -> str | None:
    """None when the parquet files Spark wrote to ``spark_dir`` hold the
    same rows as ``twin_sql`` (in any order), else a short reason. Only
    the rows that satisfy ``where`` are compared, on both sides."""
    con.execute("CREATE OR REPLACE TEMP VIEW spark_out AS SELECT * FROM read_parquet("
                f"'{_quote(os.path.join(spark_dir, '*.parquet'))}') WHERE {where}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW twin_out AS SELECT * FROM ({twin_sql}) WHERE {where}")
    s_cols, d_cols = _columns(con, "spark_out"), _columns(con, "twin_out")
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    cols = sorted(d_cols)
    s_sel = ", ".join(_norm(c, s_cols[c]) for c in cols)
    d_sel = ", ".join(_norm(c, d_cols[c]) for c in cols)
    n_s = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
    n_d = con.execute("SELECT count(*) FROM twin_out").fetchone()[0]
    if n_s != n_d:
        return f"{n_s} rows != {n_d} rows"
    extra = con.execute(f"SELECT {s_sel} FROM spark_out EXCEPT ALL "
                        f"SELECT {d_sel} FROM twin_out LIMIT 1").fetchall()
    if extra:
        missing = con.execute(f"SELECT {d_sel} FROM twin_out EXCEPT ALL "
                              f"SELECT {s_sel} FROM spark_out LIMIT 1").fetchall()
        return f"row {extra[0]!r} != {missing[0] if missing else None!r}"
    return None
