"""Seeded input data: every table and staged file comes from ``--seed``.

The same seed gives byte-identical files (numpy's PCG64 stream plus
pyarrow writers with fixed options).
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1992, 1, 1)
ACCOUNT_REGIONS = ["north", "south", "east", "west"]
ACCOUNT_STATUS = ["active", "frozen", None]


def rng_for(seed: int, *stream: int | str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose...)."""
    key = [seed] + [s if isinstance(s, int)
                    else int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "little")
                    for s in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# -- oltp_mixed ----------------------------------------------------------------


def accounts(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "accounts")
    ids = np.arange(n, dtype=np.int64)
    cents = r.integers(0, 1_000_000, n)
    opened = r.integers(0, 2000, n)
    status = r.integers(0, 10, n)
    return pa.table({
        "ID": pa.array(ids),
        "OWNER": pa.array([f"owner{i % 9973}" for i in ids]),
        "REGION": pa.array([ACCOUNT_REGIONS[i % 4] for i in r.integers(0, 4, n)]),
        "BALANCE": pa.array([Decimal(int(c)).scaleb(-2) for c in cents], pa.decimal128(12, 2)),
        "OPENED": pa.array([EPOCH + dt.timedelta(days=int(d)) for d in opened], pa.date32()),
        "STATUS": pa.array([ACCOUNT_STATUS[0] if s < 6 else ACCOUNT_STATUS[1] if s < 9 else None
                            for s in status], pa.string()),
    })


# -- llm pipeline documents -------------------------------------------------------

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
         "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
         "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
         "the", "and", "of", "to", "in", "der", "die", "und", "le", "la", "et", "el", "los"]
LANGS = ["en", "de", "fr", "es", "zh"]


def documents(seed: int, n: int, sources: int = 10) -> pa.Table:
    """Documents in the schema of the ``documents`` fixture. About 8% are
    exact duplicates of an earlier document up to case, punctuation and
    spacing, and 8% near duplicates (a few words changed), so every
    dedup stage has pairs to find."""
    r = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.08:
            src = texts[int(r.integers(0, i))]
            t = src.upper() if r.random() < 0.5 else src.replace(" ", "  ") + "!"
        elif i > 10 and u < 0.16:
            words = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 4))):
                words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            t = " ".join(words)
        else:
            t = " ".join(WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(10, 100))))
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in r.integers(0, sources, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# -- ingest_merge ------------------------------------------------------------------

INGEST_COLUMNS = ["ID", "NAME", "QTY", "PRICE", "UPDATED", "BATCH"]


def ingest_rows(rng: np.random.Generator, ids: list[int], batch: int) -> list[tuple]:
    """Rows for one staged file: (id, name, qty, price, updated, batch)."""
    out = []
    for i in ids:
        cents = int(rng.integers(100, 100_000))
        day = EPOCH + dt.timedelta(days=int(rng.integers(0, 3000)))
        out.append((int(i), f"item-{i}-{int(rng.integers(0, 1000))}", int(rng.integers(0, 500)),
                    Decimal(cents).scaleb(-2), day.isoformat(), batch))
    return out


def write_ingest_file(rows: list[tuple], path: str, fmt: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if fmt == "csv":
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(INGEST_COLUMNS)
            for r in rows:
                w.writerow([r[0], r[1], r[2], f"{r[3]:.2f}", r[4], r[5]])
    elif fmt == "json":
        with open(path, "w") as fh:
            json.dump([dict(zip(INGEST_COLUMNS, (r[0], r[1], r[2], f"{r[3]:.2f}", r[4], r[5])))
                       for r in rows], fh)
    elif fmt == "parquet":
        write_parquet(pa.table({
            "ID": pa.array([r[0] for r in rows], pa.int64()),
            "NAME": pa.array([r[1] for r in rows]),
            "QTY": pa.array([r[2] for r in rows], pa.int64()),
            "PRICE": pa.array([r[3] for r in rows], pa.decimal128(10, 2)),
            "UPDATED": pa.array([dt.date.fromisoformat(r[4]) for r in rows], pa.date32()),
            "BATCH": pa.array([r[5] for r in rows], pa.int64()),
        }), path)
    else:
        raise ValueError(fmt)


def write_bind_csv(rows: list[tuple], path: str) -> None:
    """gosnowflake bulk-bind upload shape: header-less CSV, one bind row
    per line, columns in placeholder order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        for r in rows:
            w.writerow([r[0], r[1], r[2], f"{r[3]:.2f}", r[4], r[5]])
