"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, so one seed's inputs and their reference
answers can be cached on disk.  Nothing in this module imports the
package under test; the inputs are written with pyarrow and a small
stand-alone Avro writer, and the program only ever sees the files.

Three generators:

- :func:`write_tables` — the ten fixture tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  schemas and value domains of the repository's sf fixtures.
- :func:`write_ingest_batches` — an ``events``-shaped stream cut into
  Avro drop files in arrival order, with late rows that re-deliver
  keys of earlier batches so merges update rows.
- :func:`write_corpus` — a document corpus in several parquet files
  whose distinct documents draw from a large synthetic vocabulary
  (so their fingerprints differ) and whose near-duplicates form
  cliques with heavy-tailed sizes.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base row counts of the sf0.1 fixture; a table at scale ``sf`` has
# round(base * sf / 0.1) rows.  region and nation are fixed.
SF01_ROWS = {
    "supplier": 1_000, "customer": 15_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

# The fixture's document vocabulary: 30 words plus the near-duplicate
# marker.  Read-path documents use it so text statistics match the
# fixture's; the corpus generator deliberately does not (see there).
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400_000_000


def _rows(name: str, sf: float) -> int:
    return max(1, int(round(SF01_ROWS[name] * sf / 0.1)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten fixture tables at scale ``sf`` into ``out_dir``
    (``<name>.parquet`` each) and return their row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: _rows(k, sf) for k in SF01_ROWS}
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k))})
    k = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]), len(k))})
    k = np.arange(n["part"])
    adj = np.array(["large", "hot", "blue", "small", "red", "cold",
                    "green", "tiny"])
    noun = np.array(["ring", "bolt", "anvil", "widget", "gear", "nut",
                     "spring", "valve"])
    tables["part"] = pa.table({
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(rng.choice(adj, len(k)), " "),
                              rng.choice(noun, len(k))),
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 26, len(k)).astype(str)),
        "p_type": rng.choice(np.array(["ECONOMY", "LARGE", "MEDIUM",
                                       "PROMO", "SMALL", "STANDARD"]),
                             len(k)),
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})
    k = np.arange(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), len(k)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
        "o_orderdate": _days(rng, "1995-01-01", 2405, len(k)),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"]), len(k))})
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": rng.choice(np.array(["F", "O"]), m),
        "l_shipdate": _days(rng, "1995-01-02", 2499, m)})
    tables["events"] = events_table(rng, n["events"],
                                    users=max(10, n["events"] * 3 // 200))
    tables["documents"] = fixture_documents(rng, n["documents"])
    e = n["embeddings"]
    vec = rng.normal(0.0, 0.1, (e, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(e),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, e).astype(np.int32)})
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def events_table(rng, n: int, users: int) -> pa.Table:
    """``events`` rows in time order: µs timestamps over 30 days of
    January 2024, 2-decimal exponential values, JSON ``props``."""
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n)) + EVENTS_START_US
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(
            0, 100, n).astype(str)), "}")})


def fixture_documents(rng, n: int) -> pa.Table:
    """Word-salad documents over the fixture vocabulary, with a few
    near-duplicates (a copy plus the ``dup`` marker) and exact
    duplicates, like the repository's fixtures."""
    words = np.array(FIXTURE_WORDS)
    lens = rng.integers(8, 96, n)
    texts = [" ".join(rng.choice(words, int(k))) for k in lens]
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return _documents(rng, texts)


def _documents(rng, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


# ------------------------------------------------------------ corpus


def _vocabulary(rng, size: int) -> np.ndarray:
    """``size`` distinct lower-case pseudo-words built from syllables."""
    syl = np.array([c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"])
    out: set[str] = set()
    while len(out) < size:
        k = rng.integers(2, 5, size)
        for j in range(size):
            out.add("".join(rng.choice(syl, int(k[j]))))
            if len(out) == size:
                break
    return np.array(sorted(out))


def clique_sizes(n_members: int, alpha: float = 1.2,
                 cap: int = 120) -> list[int]:
    """A fixed heavy-tailed (Pareto) clique-size profile whose cliques
    hold ``n_members`` documents besides their bases.  Sizes come from
    evenly spaced quantiles, not random draws, so every seed gets the
    same profile — and the same pair volume — and only which
    documents form the cliques varies."""
    n_cliques = 1
    while True:
        sizes = [min(int(2 * ((i + 0.5) / n_cliques) ** (-1.0 / alpha)),
                     cap) for i in range(n_cliques)]
        if sum(sizes) - len(sizes) >= n_members:
            break
        n_cliques += 1
    return sorted(sizes, reverse=True)


def write_corpus(out_dir: str, seed: int, n_docs: int, n_files: int,
                 dup_share: float = 0.15) -> dict:
    """Write ``documents.parquet/`` (``n_files`` part files) and return
    the corpus properties.

    Distinct documents draw Zipf-distributed words from a 20k-word
    synthetic vocabulary: with the fixture's 31 words every shuffled
    or resampled document collides with every other one under
    SimHash, so distinct documents need their own tokens.  A
    ``dup_share`` of the documents are near-duplicates arranged in
    cliques around a base document; clique sizes are Pareto (heavy
    tailed), and most members are exact copies (identical
    fingerprints, the replica case that dominates the band join)
    while the rest differ from the base by one token."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 20_000)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    sizes = clique_sizes(int(n_docs * dup_share))
    n_base = n_docs - (sum(sizes) - len(sizes))
    lens = rng.integers(20, 90, n_base)
    tokens = vocab[rng.choice(len(vocab), int(lens.sum()), p=p)]
    ends = np.cumsum(lens)
    texts = [" ".join(tokens[e - k:e]) for e, k in zip(ends, lens)]
    bases = rng.choice(n_base, len(sizes), replace=False)
    exact_copies = 0
    for base, size in zip(bases, sizes):
        toks = texts[base].split(" ")
        for _ in range(size - 1):
            if rng.random() < 0.7:
                texts.append(texts[base])
                exact_copies += 1
            else:
                t = list(toks)
                t[int(rng.integers(0, len(t)))] = str(
                    vocab[int(rng.integers(0, len(vocab)))])
                texts.append(" ".join(t))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    table = _documents(rng, texts)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per),
                       os.path.join(path, f"part-{f:03d}.parquet"))
    hist = np.bincount(np.minimum(np.array(sizes), 64))
    return {
        "rows": table.num_rows,
        "files": n_files,
        "bytes": sum(os.path.getsize(os.path.join(path, f))
                     for f in os.listdir(path)),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
        "near_dup_share": round(sum(sizes) / table.num_rows, 4),
        "exact_copy_share": round(exact_copies / table.num_rows, 4),
        "cliques": len(sizes),
        "clique_size_max": max(sizes) if sizes else 0,
        "clique_size_p50": float(np.median(sizes)) if sizes else 0.0,
        "clique_size_hist": {("64+" if s == 64 else str(s)): int(c)
                             for s, c in enumerate(hist) if c},
    }


# ------------------------------------------------------------ ingest

AVRO_SCHEMA = {"type": "record", "name": "event", "fields": [
    {"name": "event_id", "type": "long"},
    {"name": "ts", "type": "long"},
    {"name": "user_id", "type": "long"},
    {"name": "event_type", "type": "string"},
    {"name": "value", "type": "double"},
]}


def _zigzag(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63)
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _avro_str(s: bytes) -> bytes:
    return _zigzag(len(s)) + s


def avro_container(rows: list[tuple], sync: bytes) -> bytes:
    """One uncompressed Avro object container of ``AVRO_SCHEMA`` rows
    (Avro 1.11 spec: magic, metadata map, sync marker, one block)."""
    meta = {b"avro.schema": json.dumps(AVRO_SCHEMA).encode(),
            b"avro.codec": b"null"}
    head = bytearray(b"Obj\x01")
    head += _zigzag(len(meta))
    for k, v in meta.items():
        head += _avro_str(k) + _avro_str(v)
    head += _zigzag(0) + sync
    body = bytearray()
    for event_id, ts, user_id, event_type, value in rows:
        body += _zigzag(event_id) + _zigzag(ts) + _zigzag(user_id)
        body += _avro_str(event_type.encode()) + struct.pack("<d", value)
    block = _zigzag(len(rows)) + _zigzag(len(body)) + bytes(body) + sync
    return bytes(head) + block


def write_ingest_batches(out_dir: str, seed: int, n_rows: int,
                         n_batches: int, late_share: float = 0.15
                         ) -> tuple[list[str], list[dict], list]:
    """Cut an ``events`` stream into ``n_batches`` Avro drop files in
    arrival order.  A ``late_share`` of each later batch re-delivers
    (user, hour) keys of earlier batches with a new event, so a merge
    keyed on (user_id, hour bucket) updates those rows.  Returns the
    file paths and, per batch, its rows and the share of its keys
    that update an existing key vs insert a new one, and the batches
    as pandas frames."""
    import pandas as pd
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    ev = events_table(rng, n_rows, users=max(10, n_rows * 3 // 200))
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    uid = ev["user_id"].to_numpy()
    et = ev["event_type"].to_numpy(zero_copy_only=False)
    val = ev["value"].to_numpy()
    cuts = np.linspace(0, n_rows, n_batches + 1).astype(int)
    next_id = n_rows
    seen: set[tuple[int, int]] = set()
    paths, props, frames = [], [], []
    for b in range(n_batches):
        lo, hi = cuts[b], cuts[b + 1]
        rows = [(int(i), int(ts[i]), int(uid[i]), str(et[i]),
                 float(val[i])) for i in range(lo, hi)]
        if b > 0:
            n_late = int((hi - lo) * late_share)
            for j in rng.integers(0, lo, n_late):
                hour = int(ts[j]) // 3_600_000_000 * 3_600_000_000
                rows.append((next_id,
                             hour + int(rng.integers(0, 3_600_000_000)),
                             int(uid[j]), str(rng.choice(EVENT_TYPES)),
                             float(np.round(rng.exponential(50.0), 2))))
                next_id += 1
        keys = {(r[2], r[1] // 3_600_000_000) for r in rows}
        updated = len(keys & seen)
        seen |= keys
        path = os.path.join(out_dir, f"batch-{b:03d}.avro")
        with open(path, "wb") as fh:
            fh.write(avro_container(rows, rng.bytes(16)))
        paths.append(path)
        frames.append(pd.DataFrame(rows, columns=[
            f["name"] for f in AVRO_SCHEMA["fields"]]))
        props.append({"rows": len(rows), "keys": len(keys),
                      "updated_key_share": round(updated / len(keys), 4),
                      "inserted_key_share":
                          round(1 - updated / len(keys), 4),
                      "bytes": os.path.getsize(path)})
    return paths, props, frames
