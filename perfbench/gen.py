"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + PyArrow only: no Spark, so generation runs
before the timed set-up and never counts in ``setup_s``. The same seed
always gives byte-identical inputs.

Two families:

- VPIC-like per-timestep particle files (the reference's campaign layout):
  ``id`` int64 plus ``x y z ux uy uz ke`` float32, with ``ke = ½|u|²`` from
  normal ``u``. The thresholds used by the workloads (0.5 and 4.0) are
  exact in float32, so a float32 ``ke > τ`` in NumPy and Spark's
  float-to-double ``ke > τ`` select the same rows. The generator returns the
  expected match count and id checksum for every threshold asked for.
- A small TPC-H-like fixture (the ten tables ``tables.TABLES`` names) for
  the registry workload, with the column names and types of the repository's
  fixtures, planted duplicate documents and near-duplicate embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MASK64 = (1 << 64) - 1


def id_checksum(ids: np.ndarray) -> int:
    """Order-insensitive 64-bit checksum of a set of int64 ids.

    Each id goes through the splitmix64 finalizer before the wrapping sum,
    so a lost row and a duplicated row cannot cancel each other out the way
    they can in a plain sum.
    """
    z = ids.astype(np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return int(z.sum(dtype=np.uint64)) & _MASK64


def vpic_files(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    row_group_rows: int,
    thresholds: list[float],
) -> dict:
    """Write ``n_files`` particle files and return their manifest.

    The manifest holds, per threshold, the total match count and id checksum
    over the directory and the same pair per file (keyed by file path).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    taus = {str(t): np.float32(t) for t in thresholds}
    per_file: dict[str, dict[str, dict[str, int]]] = {}
    total = {k: {"rows": 0, "checksum": 0} for k in taus}
    for i in range(n_files):
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.int64)
        pos = rng.random((3, rows_per_file), dtype=np.float32)
        u = rng.standard_normal((3, rows_per_file), dtype=np.float32)
        ke = np.float32(0.5) * (u[0] * u[0] + u[1] * u[1] + u[2] * u[2])
        table = pa.table({
            "id": ids,
            "x": pos[0], "y": pos[1], "z": pos[2],
            "ux": u[0], "uy": u[1], "uz": u[2],
            "ke": ke,
        })
        path = os.path.join(out_dir, f"T.{i:04d}.parquet")
        pq.write_table(table, path, row_group_size=row_group_rows)
        per_file[path] = {}
        for k, tau in taus.items():
            hit = ids[ke > tau]
            c = {"rows": int(hit.size), "checksum": id_checksum(hit)}
            per_file[path][k] = c
            total[k]["rows"] += c["rows"]
            total[k]["checksum"] = (total[k]["checksum"] + c["checksum"]) & _MASK64
    return {"dir": out_dir, "total": total, "files": per_file}


# --- registry fixture ------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "pipe"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "de", "es", "zh"]
_WORDS = (
    "a the key row scan slow fast table value part hash merge batch spark "
    "line sort window data column agg join small big order customer query "
    "group filter stream vector"
).split()

_MS_PER_DAY = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
_EPOCH_2024 = 1_704_067_200_000  # 2024-01-01T00:00:00Z in ms


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten fixture tables (one Parquet file each, at the
    repository fixture's sf0.01 row counts) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    n_ev, n_users, n_doc, n_emb = 10000, 150, 500, 500
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in
            zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _MS_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lorder = rng.integers(0, n_ord, n_li, dtype=np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(
            odate[lorder] + rng.integers(1, 122, n_li) * _MS_PER_DAY,
            pa.timestamp("ms"),
        ),
    })
    ts_ns = (
        _EPOCH_2024 * 1000 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ) * 1000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)

    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _documents(rng, n: int) -> pa.Table:
    """Random word texts; one in ten is an exact copy of an earlier document
    and one in ten a near copy (one word replaced), so the dedup operators
    have planted pairs to find."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.2:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm 64-d float32 vectors in 8 labelled clusters; one in ten is a
    slightly perturbed copy of an earlier vector (a near duplicate)."""
    centers = rng.standard_normal((8, dim)).astype(np.float32)
    label = rng.integers(0, 8, n, dtype=np.int32)
    vecs = centers[label] + rng.standard_normal((n, dim)).astype(np.float32)
    for i in range(10, n):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.01 * rng.standard_normal(dim).astype(np.float32)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label,
    })
