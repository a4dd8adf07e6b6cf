"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: NumPy's PCG64
generator feeds pyarrow, and the files are written without Spark so
generation never competes with the engine being measured. Schemas match
the test-data layout the registry reads (``<dir>/<table>.parquet``,
see FIXTURES.md), so registry entries and their DuckDB oracles run on
the generated directory unchanged.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 documents table draws every word from this vocabulary; the
# language tag is metadata and does not change the words.
VOCAB = (
    "merge window customer spark part group stream filter the sort scan "
    "vector join query big hash column data agg table line small slow key "
    "fast order row value a batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)  # sf0.1 shares
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so changing one table's size
    never shifts another table's values for the same seed."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as one file, or as a directory of ``files`` part
    files so a Spark scan gets several input splits."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


# --------------------------------------------------------------------------
# Vectors
# --------------------------------------------------------------------------


def unit_mixture(rng: np.random.Generator, n: int, dim: int, centers: int) -> tuple:
    """``n`` unit-norm float32 rows drawn from a Gaussian mixture of
    ``centers`` components; returns (matrix, component ids)."""
    mu = rng.standard_normal((centers, dim))
    comp = rng.integers(0, centers, n)
    x = mu[comp] + 0.35 * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), comp


def _vec_column(mat: np.ndarray) -> pa.Array:
    n, dim = mat.shape
    flat = pa.array(mat.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def embeddings_table(mat: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(np.arange(len(mat), dtype=np.int64)),
            "embedding": _vec_column(mat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def queries_table(mat: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "query_id": pa.array(np.arange(len(mat), dtype=np.int64)),
            "embedding": _vec_column(mat),
        }
    )


def vector_inputs(seed: int, n: int, dim: int, n_queries: int, batches: int):
    """Base vectors plus ``batches`` query batches. Queries are
    perturbed copies of random base rows (FIXTURES.md F2), so the true
    neighbours sit in the base and top-1 is not always the row itself."""
    rng = _rng(seed, "vectors")
    base, comp = unit_mixture(rng, n, dim, centers=max(8, n // 2000))
    qrng = _rng(seed, "queries")
    out = []
    for _ in range(batches):
        src = qrng.choice(n, n_queries, replace=False)
        q = base[src].astype(np.float64) + 0.2 * qrng.standard_normal((n_queries, dim))
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        out.append(q.astype(np.float32))
    return base, comp % 10, out


# --------------------------------------------------------------------------
# Documents
# --------------------------------------------------------------------------


def _words(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents shaped like sf0.1 (language mix, 44..577 chars,
    20 equal sources) with planted dedup and quality work:

    - 3% exact duplicates of an earlier document;
    - 6% near-duplicates: an earlier document with ~5% of its words
      replaced, in clusters of up to four around one original;
    - 5% low-quality documents: stopword runs, punctuation noise or
      very short texts, which corpus_clean's quality filter drops.
    """
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.09:
            # near-dup of one of the few most recent originals, so
            # clusters (several variants of one doc) form
            words = texts[int(rng.integers(max(0, i - 4), i))].split(" ")
            for j in np.flatnonzero(rng.random(len(words)) < 0.05):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif r < 0.14:
            kind = int(rng.integers(0, 3))
            if kind == 0:
                texts.append(" ".join(rng.choice(["the", "a"], int(rng.integers(8, 80)))))
            elif kind == 1:
                w = _words(rng, int(rng.integers(10, 60))).split(" ")
                texts.append(" ".join(x + "!?#"[int(rng.integers(0, 3))] * 3 for x in w))
            else:
                texts.append(_words(rng, int(rng.integers(2, 8))))
        else:
            t = _words(rng, int(rng.integers(9, 100)))
            texts.append(t[: int(rng.integers(44, 578))].rstrip())
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], type=pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n)], type=pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


# --------------------------------------------------------------------------
# The sf0.01-shaped star schema + events (registry_cold)
# --------------------------------------------------------------------------

_EPOCH_US = {
    "1995": 788_918_400_000_000,  # 1995-01-01
    "2001-08": 996_624_000_000_000,  # 2001-08-01
    "2024": 1_704_067_200_000_000,  # 2024-01-01
}
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events with
    the sf0.01 test fixture's row counts and value domains."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = 1_500, 100, 2_000
    n_ord, n_line, n_ev = 15_000, 60_000, 10_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "cold", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)], noun[rng.integers(0, 8, n_part)])
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    odays = (_EPOCH_US["2001-08"] - _EPOCH_US["1995"]) // _DAY_US
    odate = _EPOCH_US["1995"] + rng.integers(0, odays + 1, n_ord) * _DAY_US
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 1000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(odate[l_ord] + rng.integers(1, 122, n_line) * _DAY_US),
        }
    )
    gaps = rng.exponential(259_000_000.0, n_ev).astype(np.int64) + 1
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_US["2024"] + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
            "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(49.6, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return t


def write_registry_fixture(out_dir: str, seed: int) -> None:
    """A complete sf0.01-shaped fixture directory: star schema, events,
    500 documents and 500 x 64 embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    write_table(documents_table(seed, 500), os.path.join(out_dir, "documents.parquet"))
    base, labels, _ = vector_inputs(seed, 500, 64, 1, 1)
    write_table(embeddings_table(base, labels), os.path.join(out_dir, "embeddings.parquet"))
