"""Correctness gate: compare a query's full Spark output with its DuckDB
oracle on the same input directory.

The comparison is ``tools/check.py``'s: sorted column names, row count,
then order-insensitive normalised values (``norm_rows``).
"""

from __future__ import annotations

from tools.check import norm_rows


class Oracle:
    """DuckDB views over one input directory."""

    def __init__(self, input_dir: str) -> None:
        import duckdb

        from streaming_data_lake_spark.catalog import TABLES, table_path

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(input_dir, t)}'")

    def mismatch(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark output equals the oracle's, else why not."""
        cur = self.con.execute(sql)
        sc, sr = norm_rows(cols, rows)
        dc, dr = norm_rows([d[0] for d in cur.description], cur.fetchall())
        if sc != dc:
            return f"columns differ: spark {sc} vs oracle {dc}"
        if len(sr) != len(dr):
            return f"row count {len(sr)} vs oracle {len(dr)}"
        for i, (a, b) in enumerate(zip(sr, dr)):
            if a != b:
                return f"sorted row {i} differs: spark {a} vs oracle {b}"
        return None

    def close(self) -> None:
        self.con.close()
