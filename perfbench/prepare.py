"""Generate one run's inputs and compute its expected outputs.

    python3 perfbench/prepare.py <workload> <seed> <scale> <data_dir> <out.pkl>

Writes the seeded input tables (``gen.py``) as parquet to ``data_dir``,
runs every oracle the workload's checks use (``__spark_entry__.oracle_sql()``)
with DuckDB over them, and pickles the results, reduced to what the
checks need, to ``out.pkl``. ``run.py`` runs it in a child process that
exits before set-up, so neither its time nor its memory counts toward a
run's metrics.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

import __spark_entry__ as registry
import gen
import workloads


class Oracle:
    """DuckDB over one generated input directory."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def main(argv: list[str]) -> None:
    name, seed, scale, data_dir, out = argv
    wl = workloads.WORKLOADS[name]
    sizes = wl.sized(float(scale))
    gen.generate(data_dir, sizes, int(seed))
    oracle = Oracle(data_dir, list(sizes))
    sql = registry.oracle_sql()
    expected = {q: oracle.query(sql[q]) for q in wl.oracles}
    oracle.close()
    pd.to_pickle(wl.reduce_expected(expected), out)


if __name__ == "__main__":
    main(sys.argv[1:])
