"""Seeded input generator for the benchmark.

Everything is synthesized from ``--seed`` with numpy; nothing is read
from outside the checkout. One call writes a directory laid out like the
engine's test data (``<table>.parquet`` per table, so the registry
queries run on it unchanged) plus the corpus inputs of the dedup
workloads:

- TPC-H-style star schema (region, nation, customer, supplier, part,
  orders, lineitem). Keys are seeded strides of the row index, and row
  order is a seeded permutation, so two seeds share sizes but not data.
- A multimodal record corpus: each record id has a text
  (``documents``), an embedding (``embeddings``) and an image
  (``images``). Every modality gets its own near-duplicate clusters,
  planted at a recorded rate: text copies by seeded token edits (never
  verbatim twins), embedding copies by small noise, image copies by a
  few edited pixels.

``manifest.json`` records row counts, bytes and planted duplicate rates.
Output is cached per seed: a directory with a manifest is reused as is.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Generator version: bump when the output for a given seed changes, so
# stale per-seed caches are rebuilt instead of reused.
VERSION = 1

# Sizes are fixed; only the content depends on the seed.
SIZES = {
    "customer": 24_000,
    "supplier": 400,
    "part": 8_000,
    "orders": 100_000,  # lineitem is ~4x this
    "records": 2_400,  # corpus records, planted copies included
}
DUP_SOURCE_RATE = 0.10  # share of distinct rows that get planted copies
EDITS_PER_100_TOKENS = 4  # token edits applied to a planted text copy
IMG_W, IMG_H = 24, 16

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]

EPOCH_1992 = np.datetime64("1992-01-01", "D")
ORDER_DAYS = int((np.datetime64("1998-08-02", "D") - EPOCH_1992).astype(np.int64))


def _write(table: pa.Table, path: Path, row_groups: int = 6) -> None:
    """Write one parquet file with several row groups, so a scan can
    split it across cores."""
    n = max(1, table.num_rows)
    pq.write_table(table, path, row_group_size=max(1, -(-n // row_groups)))


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded per-table key stride and offset; keys stay unique."""
    stride = int(rng.integers(1, 8))
    offset = int(rng.integers(1, 1000))
    return offset + stride * np.arange(n, dtype=np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_schema(rng: np.random.Generator, out: Path) -> dict[str, int]:
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc, ns, np_, no = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    ck = _keys(rng, nc)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    sk = _keys(rng, ns)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = _keys(rng, np_)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"part {k}" for k in pk],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, np_)],
            "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
                rng.integers(0, 5, np_)
            ],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": _money(rng, 900.0, 2100.0, np_),
        }
    )

    ok = _keys(rng, no)
    odate = EPOCH_1992 + rng.integers(0, ORDER_DAYS, no).astype("timedelta64[D]")
    n_lines = rng.integers(1, 8, no)
    li_order = np.repeat(np.arange(no), n_lines)
    nl = len(li_order)
    starts = np.cumsum(n_lines) - n_lines
    linenumber = np.arange(nl) - np.repeat(starts, n_lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)
    discount = rng.integers(0, 11, nl) / 100.0
    tax = rng.integers(0, 9, nl) / 100.0
    shipdate = odate[li_order] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    cutoff = np.datetime64("1995-06-17", "D")
    returnflag = np.where(
        shipdate <= cutoff, np.array(["R", "A"])[rng.integers(0, 2, nl)], "N"
    )
    linestatus = np.where(shipdate > cutoff, "O", "F")
    totals = np.bincount(li_order, weights=price * (1 + tax), minlength=no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": ck[rng.integers(0, nc, no)],
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(totals, 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": ok[li_order],
            "l_partkey": pk[rng.integers(0, np_, nl)],
            "l_suppkey": sk[rng.integers(0, ns, nl)],
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": returnflag,
            "l_linestatus": linestatus,
            "l_shipdate": pa.array(shipdate.astype("datetime64[us]")),
        }
    )
    counts = {}
    for name, t in tables.items():
        # seeded row order: same rows, different physical layout per seed
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        _write(t, out / f"{name}.parquet")
        counts[name] = t.num_rows
    return counts


def _vocabulary(rng: np.random.Generator, size: int = 3000) -> np.ndarray:
    syll = np.array(
        [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"], dtype=object
    )
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syll[rng.integers(0, len(syll), k)]))
    return np.array(sorted(words), dtype=object)


def _plant(n_total: int, rng: np.random.Generator):
    """Split ``n_total`` rows into distinct rows and planted copies.

    Returns (n_distinct, src): row ``n_distinct + i`` is a copy of
    distinct row ``src[i]``. Sources get 1-3 copies each."""
    n_src = int(round(n_total * DUP_SOURCE_RATE / (1 + 2 * DUP_SOURCE_RATE)))
    per = rng.integers(1, 4, n_src)
    n_distinct = n_total - int(per.sum())
    sources = rng.choice(n_distinct, n_src, replace=False)
    return n_distinct, np.repeat(sources, per)


def _texts(rng: np.random.Generator, n_total: int) -> tuple[list[str], dict]:
    vocab = _vocabulary(rng)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    weights /= weights.sum()
    n_distinct, src = _plant(n_total, rng)
    toks = [
        list(rng.choice(len(vocab), int(rng.integers(20, 101)), p=weights))
        for _ in range(n_distinct)
    ]
    n_edits = 0
    for s in src:
        t = list(toks[s])
        k = max(1, round(len(t) * EDITS_PER_100_TOKENS / 100))
        for _ in range(k):
            pos = int(rng.integers(0, len(t)))
            op = int(rng.integers(0, 3))
            if op == 0:
                t[pos] = int(rng.choice(len(vocab), p=weights))
            elif op == 1 and len(t) > 20:
                del t[pos]
            else:
                t.insert(pos, int(rng.choice(len(vocab), p=weights)))
        n_edits += k
        toks.append(t)
    meta = {
        "planted_copies": int(len(src)),
        "planted_dup_rate": len(src) / n_total,
        "edits_per_copy": n_edits / max(1, len(src)),
    }
    return [" ".join(vocab[t]) for t in toks], meta


def _vectors(rng: np.random.Generator, n_total: int, dim: int = 64):
    n_distinct, src = _plant(n_total, rng)
    base = rng.standard_normal((n_distinct, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    copies = base[src] + rng.normal(0.0, 0.02, (len(src), dim))
    vecs = np.vstack([base, copies]).astype(np.float32)
    return vecs, {"planted_copies": int(len(src)), "planted_dup_rate": len(src) / n_total}


def _ppm(px: np.ndarray) -> bytes:
    return f"P6\n{IMG_W} {IMG_H}\n255\n".encode() + px.astype(np.uint8).tobytes()


def _pictures(rng: np.random.Generator, n_total: int):
    n_distinct, src = _plant(n_total, rng)
    base = rng.integers(0, 256, (n_distinct, IMG_H, IMG_W, 3))
    copies = base[src].copy()
    for c in copies:
        for _ in range(3):  # a few edited pixels per planted copy
            y, x = int(rng.integers(0, IMG_H)), int(rng.integers(0, IMG_W))
            c[y, x] = rng.integers(0, 256, 3)
    pxs = np.concatenate([base, copies])
    return [_ppm(p) for p in pxs], {
        "planted_copies": int(len(src)),
        "planted_dup_rate": len(src) / n_total,
    }


def _corpus(rng: np.random.Generator, out: Path) -> tuple[dict, dict]:
    """Records share one id across the three modality tables; each table
    lists its records in its own seeded order."""
    n = SIZES["records"]
    ids = _keys(rng, n)
    texts, text_meta = _texts(rng, n)
    vecs, vec_meta = _vectors(rng, n)
    imgs, img_meta = _pictures(rng, n)
    # a record's text, vector and image come from independent plantings
    tp, vp, ip = (rng.permutation(n) for _ in range(3))
    tables = {
        "documents": pa.table(
            {
                "doc_id": ids,
                "text": [texts[i] for i in tp],
                "lang": np.array(LANGS)[rng.integers(0, 5, n)],
                "source": [f"src{i % 5}" for i in range(n)],
                "n_chars": np.array([len(texts[i]) for i in tp], dtype=np.int64),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": ids,
                "embedding": pa.array(list(vecs[vp]), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n), pa.int32()),
            }
        ),
        "images": pa.table(
            {"id": ids, "content": pa.array([imgs[i] for i in ip], pa.binary())}
        ),
    }
    rows = {}
    for name, t in tables.items():
        t = t.take(pa.array(rng.permutation(n)))
        _write(t, out / f"{name}.parquet")
        rows[name] = t.num_rows
    return rows, {"documents": text_meta, "embeddings": vec_meta, "images": img_meta}


def generate(seed: int, root: Path) -> tuple[Path, dict]:
    """Return (directory, manifest) for ``seed``, building it if absent."""
    out = root / f"v{VERSION}-seed{seed}"
    manifest_path = out / "manifest.json"
    if manifest_path.exists():
        return out, json.loads(manifest_path.read_text())
    tmp = root / f".tmp-v{VERSION}-seed{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    rows = _star_schema(rng, tmp)
    corpus_rows, planted = _corpus(rng, tmp)
    rows.update(corpus_rows)
    manifest = {
        "seed": seed,
        "version": VERSION,
        "rows": rows,
        "bytes": {p.stem: p.stat().st_size for p in sorted(tmp.glob("*.parquet"))},
        "planted": planted,
        "input_digest": input_digest(tmp),
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest


def input_digest(directory: Path) -> str:
    """sha256 over every generated file's bytes, in a fixed order."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(directory.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()
