"""Learn the column distributions of a reference dataset directory.

    python3 perfbench/learn_profile.py <dataset_dir> [out.json]

The benchmark never reads the reference dataset while it runs: this
script condenses it once into ``profile.json`` (committed beside it),
and ``gen.py`` samples fresh, seeded tables from that profile. Each
column is summarised by the smallest model that reproduces its
marginal: a sequential key, a foreign key into a parent table, a
frequency table (few distinct values), a quantile sketch (numbers and
timestamps), or a key-derived name. Documents keep their vocabulary,
length range and metadata frequencies; embeddings keep their
per-label means and residual spread (the approach of
``tools/scaleclone.py``).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

#: Foreign keys: sampled uniformly over the parent's generated keys so
#: joins keep their fan-out when the benchmark resizes a table.
FOREIGN_KEYS = {
    "l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier",
    "o_custkey": "customer",
}

#: Names derived from the row key (format, key column).
KEY_NAMES = {
    "c_name": ("Customer#{:09d}", "c_custkey"),
    "s_name": ("Supplier#{:09d}", "s_suppkey"),
    "n_name": ("NATION_{:d}", "n_nationkey"),
}

MAX_CATEGORIES = 128
QUANTILES = 257
MICROS_PER_DAY = 86_400_000_000


def _decimals(values: np.ndarray) -> int:
    for d in range(7):
        if np.allclose(values, np.round(values, d), rtol=0, atol=1e-9):
            return d
    return 6


def _column(con, path: str, name: str, dtype: str, n_rows: int) -> dict:
    col = f'"{name}"'
    n_null, n_distinct = con.execute(
        f"SELECT count(*) - count({col}), count(DISTINCT {col}) FROM '{path}'"
    ).fetchone()
    spec: dict = {"name": name, "type": dtype, "null_frac": n_null / n_rows}
    if name in KEY_NAMES:
        fmt, key = KEY_NAMES[name]
        return {**spec, "kind": "key_name", "format": fmt, "key": key}
    if name in FOREIGN_KEYS:
        return {**spec, "kind": "fk", "parent": FOREIGN_KEYS[name]}
    if dtype in ("BIGINT", "INTEGER") and n_distinct == n_rows:
        lo, hi = con.execute(f"SELECT min({col}), max({col}) FROM '{path}'").fetchone()
        if lo == 0 and hi == n_rows - 1:
            return {**spec, "kind": "seq"}
    if n_distinct <= MAX_CATEGORIES:
        rows = con.execute(
            f"SELECT {col}, count(*) FROM '{path}' WHERE {col} IS NOT NULL "
            f"GROUP BY 1 ORDER BY 1"
        ).fetchall()
        values = [v.isoformat() if hasattr(v, "isoformat") else v for v, _ in rows]
        total = sum(c for _, c in rows)
        return {**spec, "kind": "cat", "values": values,
                "p": [c / total for _, c in rows]}
    if dtype == "TIMESTAMP":
        us = np.array([r[0] for r in con.execute(
            f"SELECT epoch_us({col}) FROM '{path}' WHERE {col} IS NOT NULL"
        ).fetchall()], dtype=np.int64)
        grain = MICROS_PER_DAY if not (us % MICROS_PER_DAY).any() else 1
        q = np.quantile(us, np.linspace(0, 1, QUANTILES))
        return {**spec, "kind": "ts", "grain_us": grain,
                "quantiles": [int(x) for x in q]}
    if dtype in ("BIGINT", "INTEGER", "DOUBLE"):
        v = np.array([r[0] for r in con.execute(
            f"SELECT {col} FROM '{path}' WHERE {col} IS NOT NULL"
        ).fetchall()], dtype=np.float64)
        q = np.quantile(v, np.linspace(0, 1, QUANTILES))
        return {**spec, "kind": "num", "decimals": _decimals(v),
                "quantiles": [float(x) for x in q]}
    raise ValueError(f"no model for column {name} ({dtype}, {n_distinct} distinct)")


def _documents(con, path: str) -> dict:
    rows = con.execute(f"SELECT text, lang, source FROM '{path}' ORDER BY doc_id").fetchall()
    lens = [len(t.split(" ")) for t, _, _ in rows]
    words = sorted({w for t, _, _ in rows for w in t.split(" ")} - {"dup"})
    n = len(rows)
    n_exact = n - con.execute(f"SELECT count(DISTINCT text) FROM '{path}'").fetchone()[0]
    n_near = sum(1 for t, _, _ in rows if "dup" in t.split(" "))

    def freq(i: int) -> dict:
        vals = sorted({r[i] for r in rows})
        return {"values": vals, "p": [sum(r[i] == v for r in rows) / n for v in vals]}

    return {"rows": n, "vocab": words, "min_words": min(lens), "max_words": max(lens),
            "near_dup_frac": n_near / n, "exact_dup_frac": n_exact / n,
            "lang": freq(1), "source": freq(2)}


def _embeddings(con, path: str) -> dict:
    rows = con.execute(f"SELECT embedding, label FROM '{path}' ORDER BY vec_id").fetchall()
    arr = np.array([r[0] for r in rows], dtype=np.float64)
    labels = np.array([r[1] for r in rows])
    values = sorted(set(labels.tolist()))
    return {
        "rows": len(rows), "dim": arr.shape[1], "labels": values,
        "p": [float((labels == v).mean()) for v in values],
        "means": [arr[labels == v].mean(axis=0).round(6).tolist() for v in values],
        "resid_std": float(np.mean([arr[labels == v].std(axis=0).mean() for v in values])),
    }


def learn(src: str) -> dict:
    con = duckdb.connect()
    out: dict = {}
    for t in TABLES:
        path = os.path.join(src, f"{t}.parquet")
        if t == "documents":
            out[t] = _documents(con, path)
            continue
        if t == "embeddings":
            out[t] = _embeddings(con, path)
            continue
        n_rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
        specs = [_column(con, path, c[0], c[1], n_rows) for c in cols]
        key = next((s["name"] for s in specs if s["kind"] == "seq"), None)
        for s in specs:
            if s["kind"] == "ts" and key:
                # an event log is written in time order: keep it so
                s["sorted_by_key"] = con.execute(
                    f'SELECT count(*) = 0 FROM (SELECT "{s["name"]}" AS v, '
                    f'lag("{s["name"]}") OVER (ORDER BY "{key}") AS p '
                    f"FROM '{path}') WHERE v < p"
                ).fetchone()[0]
        out[t] = {"rows": n_rows, "columns": specs}
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit("usage: learn_profile.py <dataset_dir> [out.json]")
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "profile.json")
    with open(dst, "w") as f:
        json.dump(learn(sys.argv[1]), f, separators=(",", ":"))
    print(f"wrote {dst}")
