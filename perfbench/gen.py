"""Seeded input generator: fresh tables sampled from ``profile.json``.

The same seed and sizes give byte-identical logical content. Each table
draws from its own random stream (derived from the seed and the table
name), so resizing one table leaves the others unchanged. Facts grow
with the requested row counts; dimensions keep the profile's sizes
unless a size is given. Documents carry planted exact and near
duplicates at the profile's density, so duplicate-pair volume grows
linearly with the corpus, as in ``tools/scaleclone.py``.
"""

from __future__ import annotations

import json
import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")

#: Rows per parquet row group: several per fact table, so scans split
#: across cores the way a warehouse table's files do.
ROW_GROUP_ROWS = 131_072

#: Window (in earlier documents) a planted duplicate copies from.
DUP_LOOKBACK = 8

_ARROW = {"BIGINT": pa.int64(), "INTEGER": pa.int32(), "DOUBLE": pa.float64(),
          "VARCHAR": pa.string(), "TIMESTAMP": pa.timestamp("us")}


def load_profile(path: str = PROFILE) -> dict:
    with open(path) as f:
        return json.load(f)


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _inverse_cdf(rng, quantiles: list, n: int) -> np.ndarray:
    q = np.asarray(quantiles, dtype=np.float64)
    u = rng.random(n) * (len(q) - 1)
    return np.interp(u, np.arange(len(q)), q)


def _column(rng, spec: dict, n: int, sizes: dict, done: dict):
    kind, typ = spec["kind"], _ARROW[spec["type"]]
    if kind == "seq":
        values = np.arange(n, dtype=np.int64)
    elif kind == "fk":
        values = rng.integers(0, sizes[spec["parent"]], n, dtype=np.int64)
    elif kind == "key_name":
        keys = done[spec["key"]].to_numpy()
        values = [spec["format"].format(int(k)) for k in keys]
    elif kind == "cat":
        vals = spec["values"]
        idx = rng.choice(len(vals), size=n, p=spec["p"])
        if spec["type"] == "TIMESTAMP":
            vals = [datetime.fromisoformat(v) for v in vals]
        values = [vals[i] for i in idx] if spec["type"] == "VARCHAR" else np.asarray(vals)[idx]
    elif kind == "num":
        values = np.round(_inverse_cdf(rng, spec["quantiles"], n), spec["decimals"])
    elif kind == "ts":
        us = _inverse_cdf(rng, spec["quantiles"], n).astype(np.int64)
        us -= us % spec["grain_us"]
        values = np.sort(us) if spec.get("sorted_by_key") else us
    else:
        raise ValueError(f"unknown column kind {kind}")
    mask = rng.random(n) < spec["null_frac"] if spec["null_frac"] else None
    if isinstance(values, np.ndarray) and pa.types.is_integer(typ):
        values = values.astype(np.int64)
    return pa.array(values, type=typ, mask=mask)


def gen_table(profile: dict, table: str, n: int, sizes: dict, seed: int) -> pa.Table:
    """Relational table of ``n`` rows; a timestamp the profile found in
    key order (the event log) is generated in key order too."""
    rng = _rng(seed, table)
    done: dict = {}
    for spec in profile[table]["columns"]:
        done[spec["name"]] = _column(rng, spec, n, sizes, done)
    return pa.table(done)


def gen_documents(profile: dict, n: int, seed: int) -> pa.Table:
    p = profile["documents"]
    rng = _rng(seed, "documents")
    vocab = np.asarray(p["vocab"])
    n_words = rng.integers(p["min_words"], p["max_words"] + 1, n)
    word_idx = rng.integers(0, len(vocab), int(n_words.sum()))
    kind = rng.random(n)
    back = rng.integers(1, DUP_LOOKBACK + 1, n)
    splice = rng.random(n)
    texts: list[str] = []
    start = 0
    for i in range(n):
        k = int(n_words[i])
        if i >= DUP_LOOKBACK and kind[i] < p["near_dup_frac"]:
            words = texts[i - back[i]].split(" ")
            words.insert(int(splice[i] * (len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i >= DUP_LOOKBACK and kind[i] < p["near_dup_frac"] + p["exact_dup_frac"]:
            texts.append(texts[i - back[i]])
        else:
            texts.append(" ".join(vocab[word_idx[start:start + k]]))
        start += k
    lang = rng.choice(p["lang"]["values"], size=n, p=p["lang"]["p"])
    source = rng.choice(p["source"]["values"], size=n, p=p["source"]["p"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(source.tolist()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def gen_embeddings(profile: dict, n: int, seed: int) -> pa.Table:
    p = profile["embeddings"]
    rng = _rng(seed, "embeddings")
    labels = rng.choice(len(p["labels"]), size=n, p=p["p"])
    means = np.asarray(p["means"], dtype=np.float64)
    vecs = means[labels] + rng.normal(0.0, p["resid_std"], (n, p["dim"]))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * p["dim"], p["dim"], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.asarray(p["labels"])[labels].astype(np.int32)),
    })


def generate(out_dir: str, sizes: dict[str, int], seed: int,
             profile: dict | None = None) -> dict[str, int]:
    """Write ``<table>.parquet`` for each table named in ``sizes`` into
    ``out_dir``. Foreign keys range over the parent's size in ``sizes``,
    or its profiled size. Returns the row count written per table."""
    profile = profile or load_profile()
    full = {t: v["rows"] for t, v in profile.items()}
    full.update(sizes)
    os.makedirs(out_dir, exist_ok=True)
    for table, n in sizes.items():
        if table == "documents":
            data = gen_documents(profile, n, seed)
        elif table == "embeddings":
            data = gen_embeddings(profile, n, seed)
        else:
            data = gen_table(profile, table, n, full, seed)
        pq.write_table(data, os.path.join(out_dir, f"{table}.parquet"),
                       row_group_size=ROW_GROUP_ROWS, compression="snappy")
    return dict(sizes)
