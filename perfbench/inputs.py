"""Seeded benchmark inputs, built with numpy and pyarrow only.

Nothing here imports the engine, so a change to ``onebrc_spark`` cannot
change the data it is measured on. Every input is a pure function of
(workload, seed, size): the same key always yields the same bytes, which the
manifest proves with a content hash.

Inputs are cached under ``<checkout>/.perfbench/cache/<key>/`` and only the
most recent entries per workload are kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "manifest.json"
KEEP_PER_WORKLOAD = 2

# ---------------------------------------------------------------------------
# 1BRC text: `station;temp\n`, the generate.rs shape.
# ---------------------------------------------------------------------------

NUM_STATIONS = 413
MEAN_LO, MEAN_HI = -14.4, 30.5
_SYLLABLES = [
    "ka", "lo", "mi", "ra", "to", "ne", "su", "vi", "da", "por", "ber", "lin",
    "sta", "gor", "an", "el", "is", "ur", "mont", "val", "san", "ham", "burg",
    "ton", "ville", "ford", "dal", "ri", "co", "na",
]


STATION_SEED = 0


def station_table() -> tuple[list[str], np.ndarray, np.ndarray]:
    """413 distinct station names with a mean temperature and a sigma each.

    Fixed for every run seed, so each seed does the same work on the same
    keys. Means are spread evenly over MEAN_LO..MEAN_HI; sigma ~ Normal(10,
    2.5), clamped above 0.1 (generate.rs:23-29)."""
    rng = np.random.default_rng([STATION_SEED, 1])
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < NUM_STATIONS:
        k = int(rng.integers(1, 5))
        name = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        name = name.capitalize() + (f" {int(rng.integers(1, 99))}" if k == 1 else "")
        if name not in seen:
            seen.add(name)
            names.append(name)
    means = np.linspace(MEAN_LO, MEAN_HI, NUM_STATIONS)
    sigmas = np.maximum(0.1, rng.normal(10.0, 2.5, NUM_STATIONS))
    return names, means, sigmas


def _padded(strings: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, mask) tables: row i holds strings[i] left-aligned, zero-padded."""
    width = max(len(s) for s in strings)
    table = np.zeros((len(strings), width), dtype=np.uint8)
    mask = np.zeros((len(strings), width), dtype=bool)
    for i, s in enumerate(strings):
        table[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        mask[i, : len(s)] = True
    return table, mask


def write_onebrc_text(path: Path, rows: int, seed: int, chunk: int = 1 << 20) -> None:
    """`rows` lines of `station;temp`: the station drawn uniformly, temp ~
    Normal(mean, sigma) rounded to 1 dp; the seed drives both draws."""
    names, means, sigmas = station_table()
    st_bytes, st_mask = _padded([f"{n};".encode() for n in names])
    tenths = np.arange(-999, 1000)
    tp_bytes, tp_mask = _padded(
        [f"{'-' if t < 0 else ''}{abs(t) // 10}.{abs(t) % 10}\n".encode() for t in tenths]
    )
    rng = np.random.default_rng([seed, 2])
    with open(path, "wb") as out:
        for start in range(0, rows, chunk):
            n = min(chunk, rows - start)
            s = rng.integers(0, NUM_STATIONS, n)
            t = np.rint(rng.normal(means[s], sigmas[s]) * 10).astype(np.int64)
            t = np.clip(t, -999, 999) + 999
            line = np.concatenate([st_bytes[s], tp_bytes[t]], axis=1)
            keep = np.concatenate([st_mask[s], tp_mask[t]], axis=1)
            out.write(line[keep].tobytes())


# ---------------------------------------------------------------------------
# Warehouse tables: the star schema + events/documents/embeddings the
# registered queries read, with the column types and value domains of the
# engine's fixtures (FIXTURES.md).
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01 UTC, seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01 UTC, seconds
_VOCAB = (
    "a the data row column table key value join group sort hash scan filter "
    "order part line customer query spark stream window batch merge agg "
    "vector big small fast slow"
).split()


def _ts_days(rng, n: int, lo_day: int, hi_day: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day + 1, n)
    return pa.array((_EPOCH_1995 + days * 86_400) * 1_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_tokens(rng, n: int) -> list[list[int]]:
    """Random 10-100-word documents as vocabulary indices; ~5% are an earlier
    document plus the word "dup" (near duplicates) and ~0.2% repeat an
    earlier document exactly."""
    dup = len(_VOCAB)  # index of the "dup" marker word
    docs: list[list[int]] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            docs.append(docs[int(rng.integers(0, i))] + [dup])
        elif i > 10 and r < 0.052:
            docs.append(docs[int(rng.integers(0, i))])
        else:
            docs.append(rng.integers(0, len(_VOCAB), int(rng.integers(10, 101))).tolist())
    return docs


def _documents(rng, n: int, vocab: list[str], ids: np.ndarray) -> pa.Table:
    words = vocab + ["dup"]
    texts = [" ".join(words[t] for t in doc) for doc in _doc_tokens(rng, n)]
    langs = np.array(["de", "en", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.15, 0.4, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


CORPUS_SEED = 0


def documents_table(n: int, seed: int) -> pa.Table:
    """A fixed corpus (same near-duplicate structure for every seed) whose
    seed applies a bijection: a permutation of the vocabulary and an
    order-preserving doc_id stride and offset. Shingle sets, Jaccard values
    and duplicate groups are unchanged; every hash and id differs."""
    salt = np.random.default_rng([seed, 5])
    vocab = [_VOCAB[i] for i in salt.permutation(len(_VOCAB))]
    stride, offset = int(salt.integers(1, 8)), int(salt.integers(0, 1_000_000))
    return _documents(np.random.default_rng([CORPUS_SEED, 4]), n, vocab,
                      np.arange(n) * stride + offset)


def warehouse_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor `sf` (sf0.1 = 600k lineitem)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    p_names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    p_types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": p_names[rng.integers(0, len(p_names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": p_types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_days(rng, n_ord, 0, 2404),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(rng, n_li, 1, 2499),
    })
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + _EPOCH_2024 * 1_000_000
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": etypes[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_docs, _VOCAB, np.arange(n_docs))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


# ---------------------------------------------------------------------------
# Cache + manifest
# ---------------------------------------------------------------------------


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 22), b""):
            h.update(block)
    return h.hexdigest()


def _write(key_dir: Path, kind: str, size: float, seed: int) -> dict[str, int]:
    """Write one input set; returns {file name: row count}."""
    if kind == "onebrc_text":
        write_onebrc_text(key_dir / "measurements.txt", int(size), seed)
        return {"measurements.txt": int(size)}
    tables = (
        {"documents": documents_table(int(size), seed)} if kind == "documents"
        else warehouse_tables(size, seed)
    )
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, key_dir / f"{name}.parquet")
        rows[f"{name}.parquet"] = table.num_rows
    return rows


def ensure(cache_root: Path, workload: str, kind: str, size: float, seed: int) -> tuple[Path, dict]:
    """The input directory for (workload, seed, size) and its manifest,
    generating it on a cache miss. The manifest records each file's rows,
    bytes and sha256, and the generation time (a diagnostic, not set-up)."""
    key_dir = cache_root / f"{workload}-seed{seed}-size{size:g}"
    mpath = key_dir / MANIFEST
    if mpath.exists():
        return key_dir, json.loads(mpath.read_text())
    _evict(cache_root, workload)
    tmp = key_dir.with_name(key_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    rows = _write(tmp, kind, size, seed)
    gen_s = time.perf_counter() - t0
    files = {
        name: {"rows": n, "bytes": (tmp / name).stat().st_size, "sha256": _sha256(tmp / name)}
        for name, n in sorted(rows.items())
    }
    digest = hashlib.sha256(
        "".join(f"{k}:{v['sha256']}" for k, v in files.items()).encode()
    ).hexdigest()
    manifest = {
        "workload": workload, "seed": seed, "size": size, "files": files,
        "content_sha256": digest, "generate_s": round(gen_s, 3),
    }
    (tmp / MANIFEST).write_text(json.dumps(manifest, indent=1))
    os.replace(tmp, key_dir)
    # write the new files back now, not during the timed phase that follows
    os.sync()
    return key_dir, manifest


def _evict(cache_root: Path, workload: str) -> None:
    """Keep the newest KEEP_PER_WORKLOAD - 1 entries of this workload, so the
    new one brings it back to KEEP_PER_WORKLOAD."""
    if not cache_root.exists():
        return
    entries = sorted(
        (p for p in cache_root.glob(f"{workload}-seed*") if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
    )
    for old in entries[: max(0, len(entries) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(old, ignore_errors=True)
