"""Output checks of the benchmark, run outside the timed region.

Results are reduced to an order-insensitive digest with the normalization of
``tools/driver_check.value_hash`` (floats to 6 significant digits, NULL as
one symbol, Decimal compared as float), after the same pandas conversion
``tools/driver_check.py`` applies to both engines.

* ``oracle``: the query's ``oracle_sql`` runs in DuckDB over the same
  parquet and must give the same columns, row count and digest.
* ``digest``: the digest must equal the one recorded in ``expected.json``.
"""

from __future__ import annotations

import json
import os
import threading

import duckdb
import pandas as pd

from tools.driver_check import value_hash

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")

#: DuckDB wall-clock cap per oracle query; every oracle here finishes in
#: well under a second at sf0.01
ORACLE_TIMEOUT_S = 120.0


def digest(cols: list[str], rows: list[tuple]) -> str:
    pdf = pd.DataFrame(rows, columns=cols)
    return value_hash(list(pdf.columns),
                      [tuple(r) for r in pdf.itertuples(index=False)])


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


class Oracle:
    """DuckDB over the benchmark's parquet tables."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]) -> None:
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{sf_dir}/{t}.parquet')")

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        timer = threading.Timer(ORACLE_TIMEOUT_S, self.con.interrupt)
        timer.start()
        try:
            pdf = self.con.execute(sql).df()
        finally:
            timer.cancel()
        return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]

    def compare(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """``None`` when the result matches the oracle, else the reason."""
        ocols, orows = self.run(sql)
        if sorted(ocols) != sorted(cols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(orows) != len(rows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        mine, theirs = digest(cols, rows), digest(ocols, orows)
        return None if mine == theirs else f"digest {mine} != oracle {theirs}"

    def close(self) -> None:
        self.con.close()
