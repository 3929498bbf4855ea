"""Reference answers the benchmark checks every op against.

Canonical form and row comparison are the repository's own
(``tests/compare.py``): columns sorted by name, every value rendered
to a full-precision string, rows sorted.  A result's *digest* is the
row count plus the sha256 of those canonical rows, so two results
agree exactly when their digests do.

References come from outside the code under test:

- read and corpus queries with a DuckDB oracle twin: the twin's SQL
  over the same generated parquet files;
- ``dedup_simhash`` (rows-only, no SQL twin): every pair within
  Hamming distance 3 of the fingerprints, found here with numpy, so
  the band join is checked against an exhaustive pigeonhole search;
- the ingest pass: the last-wins table state and per-user aggregate
  recomputed in numpy from the generated batches.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pandas as pd


def digest(pdf: pd.DataFrame) -> dict:
    from tests.compare import canonical_rows
    rows = canonical_rows(pdf)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def duckdb_connection(tables_dir: str):
    import duckdb
    con = duckdb.connect()
    for name in sorted(os.listdir(tables_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(tables_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) \
            else path
        con.execute(f"CREATE VIEW {name[:-8]} AS "
                    f"SELECT * FROM read_parquet('{src}')")
    return con


def oracle_digest(con, sql: str) -> dict:
    return digest(con.execute(sql).df())


# ------------------------------------------------------------ simhash


def _popcount64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    table = np.array([bin(i).count("1") for i in range(1 << 16)],
                     dtype=np.int64)
    out = np.zeros(len(x), dtype=np.int64)
    for shift in (0, 16, 32, 48):
        out += table[((x >> np.uint64(shift)) & np.uint64(0xFFFF))
                     .astype(np.int64)]
    return out


def simhash_pairs(doc: np.ndarray, fp: np.ndarray,
                  max_hamming: int = 3) -> pd.DataFrame:
    """All (doc_a < doc_b) pairs with Hamming distance <= k.  By the
    pigeonhole principle such a pair agrees exactly on at least one
    of k+1 bands, so enumerating every same-band pair and filtering
    on the exact distance finds all of them."""
    bands = max_hamming + 1
    width = 64 // bands
    u = fp.astype(np.int64).view(np.uint64)
    found = []
    for b in range(bands):
        piece = ((u >> np.uint64(b * width))
                 & np.uint64((1 << width) - 1)).astype(np.int64)
        order = np.argsort(piece, kind="stable")
        ps = piece[order]
        starts = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1]])
        ends = np.r_[starts[1:], len(ps)]
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            members = order[s:e]
            i, j = np.triu_indices(e - s, 1)
            found.append(np.stack([members[i], members[j]]))
    if not found:
        return pd.DataFrame({"doc_a": [], "doc_b": [], "hamming": []},
                            dtype=np.int64)
    idx = np.concatenate(found, axis=1)
    a, b = doc[idx[0]], doc[idx[1]]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    ham = _popcount64(u[idx[0]] ^ u[idx[1]])
    keep = (ham <= max_hamming) & (lo != hi)
    pairs = pd.DataFrame({"doc_a": lo[keep], "doc_b": hi[keep],
                          "hamming": ham[keep]}).drop_duplicates()
    return pairs.reset_index(drop=True)


# ------------------------------------------------------------- ingest

HOUR_US = 3_600_000_000


def last_wins_states(batches: list[pd.DataFrame]):
    """Per batch: the (user_id, hour bucket)-keyed table after merging
    batches 0..b, where a key takes the row of the latest batch that
    carries it (highest event_id within that batch), and the per-user
    (samples, sum of value) aggregate of that state.  Yields
    ``(state, signature)``; the signature is what the benchmark
    observes on the maintained aggregate after each batch."""
    state = None
    for batch in batches:
        b = batch.assign(bucket_us=batch["ts"] // HOUR_US * HOUR_US)
        b = (b.sort_values("event_id")
             .drop_duplicates(["user_id", "bucket_us"], keep="last")
             [["user_id", "bucket_us", "event_id", "value"]])
        merged = b if state is None else pd.concat([state, b])
        state = (merged.astype({"user_id": "int64", "bucket_us": "int64",
                                "event_id": "int64", "value": "float64"})
                 .drop_duplicates(["user_id", "bucket_us"], keep="last")
                 .reset_index(drop=True))
        cents = np.round(state["value"].to_numpy() * 100).astype(np.int64)
        yield state, {
            "groups": int(state["user_id"].nunique()),
            "samples": int(len(state)),
            "sum_value": str(Decimal(int(cents.sum())) / 100),
        }


def user_aggregate(state: pd.DataFrame) -> pd.DataFrame:
    cents = np.round(state["value"].to_numpy() * 100).astype(np.int64)
    agg = (state.assign(cents=cents).groupby("user_id")
           .agg(samples=("event_id", "size"), cents=("cents", "sum"))
           .reset_index())
    return pd.DataFrame({"user_id": agg["user_id"].astype("int64"),
                         "samples": agg["samples"].astype("int64"),
                         "sum_value": agg["cents"] / 100})
