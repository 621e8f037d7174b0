"""Correctness gate: order-insensitive output digests and their DuckDB oracle.

A digest is ``[columns, rows, sum_h1, sum_h2]``: the sorted column names,
the row count, and two sums over the rows of 32-bit slices of
``md5(canonical row string)``. Both engines render each value the same
way before hashing (integers and strings as is, dates as ISO strings,
floating point and decimals as DECIMAL(38,6), arrays as ``[a, b]``), so a
Spark result and a DuckDB result digest equal iff they hold the same
multiset of rows.

Expected digests are computed once per seed and workload with DuckDB on
the generated inputs and cached next to them. Registry queries use the
registry's own oracle SQL; the other ops have their oracle SQL here.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SEP = "\x1f"
NULL = "\\N"

# Relational headline queries of the engine's registry, run as is (one
# per warehouse layer: staging, keys, star join, date spine).
HEADLINE = ("q_project_cast", "q_window_dedup", "q_star_join", "q_date_join")
# Lineitem rows shipped on or after this day arrive as the late batch
# that is merged into the lineitem mart; the month before it overlaps.
LATE_CUTOFF = "1998-06-01"
LATE_OVERLAP = "1998-05-01"
TEXT_THRESHOLD = 0.5
VECTOR_THRESHOLD = 0.95
IMAGE_HAMMING = 4
NUM_HASHES, BANDS, SHINGLE = 128, 32, 3


# -- digests ----------------------------------------------------------------


def _spark_canon(name: str, dtype: str):
    c = F.col(f"`{name}`")
    if dtype in ("double", "float") or dtype.startswith("decimal"):
        s = c.cast("decimal(38,6)").cast("string")
    elif dtype == "date":
        s = F.date_format(c, "yyyy-MM-dd")
    elif dtype.startswith("timestamp"):
        s = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    else:  # integers, booleans, strings, arrays of integers
        s = c.cast("string")
    return F.coalesce(s, F.lit(NULL))


def spark_digest(df: DataFrame) -> list:
    cols = sorted(df.dtypes)
    row = F.md5(F.concat_ws(SEP, *[_spark_canon(n, t) for n, t in cols]))
    part = lambda i: F.conv(F.substring(row, i, 8), 16, 10).cast("bigint")  # noqa: E731
    r = df.select(part(1).alias("h1"), part(9).alias("h2")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("h1"), F.lit(0)).alias("h1"),
        F.coalesce(F.sum("h2"), F.lit(0)).alias("h2"),
    ).collect()[0]
    return [[n for n, _ in cols], int(r["n"]), int(r["h1"]), int(r["h2"])]


def _duck_canon(name: str, dtype: str) -> str:
    c = f'"{name}"'
    t = dtype.upper()
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        s = f"CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR)"
    elif t == "DATE":
        s = f"strftime({c}, '%Y-%m-%d')"
    elif t.startswith("TIMESTAMP"):
        s = f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    else:
        s = f"CAST({c} AS VARCHAR)"
    return f"coalesce({s}, '{NULL}')"


def duck_digest(con, sql: str) -> list:
    con.execute(f"CREATE OR REPLACE TEMP TABLE __r AS {sql}")
    cols = sorted((r[0], r[1]) for r in con.execute("DESCRIBE __r").fetchall())
    row = "md5(concat_ws(chr(31), " + ", ".join(_duck_canon(n, t) for n, t in cols) + "))"
    n, h1, h2 = con.execute(
        f"""SELECT COUNT(*),
                   CAST(coalesce(SUM(CAST(('0x' || substr({row}, 1, 8)) AS BIGINT)), 0) AS BIGINT),
                   CAST(coalesce(SUM(CAST(('0x' || substr({row}, 9, 8)) AS BIGINT)), 0) AS BIGINT)
            FROM __r"""
    ).fetchone()
    return [[n_ for n_, _ in cols], int(n), int(h1), int(h2)]


def value_digest(value) -> list:
    """Digest of a small Python value (e.g. a list of failed assertions)."""
    return ["value", json.dumps(value, sort_keys=True, default=str)]


# -- oracle SQL ---------------------------------------------------------------


def _profile_sql(table: str, qty: str, day: str) -> str:
    return f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST({qty} AS DECIMAL(18,2))) AS DOUBLE) AS total,
           strftime(MIN({day}), '%Y-%m-%d') AS first_day,
           strftime(MAX({day}), '%Y-%m-%d') AS last_day
    FROM {table}"""


def _minhash_sigs_sql() -> str:
    """CTE text ``toks → idx → base → sigs(doc_id, sig)`` mirroring the
    engine's MinHash signature contract (md5 base hash, affine family,
    whole-text gram for docs under SHINGLE tokens)."""
    from etl_demos_spark.operators import dedup

    p = dedup.MERSENNE31
    mins = ", ".join(
        f"min((h * {a} + {b}) % {p})" for a, b in dedup._affine_params(NUM_HASHES)
    )
    grams = ", ".join(f"t[i+{j + 1}]" for j in range(SHINGLE))
    hx = dedup.MD5_HEX_CHARS
    return f"""
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(range(len(t) - {SHINGLE - 1})) AS i
        FROM toks WHERE len(t) >= {SHINGLE}
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(concat_ws(' ', {grams})), 1, {hx}) AS BIGINT) % {p} AS h
        FROM idx
        UNION ALL
        SELECT doc_id,
               CAST('0x' || substr(md5(array_to_string(t, ' ')), 1, {hx}) AS BIGINT) % {p} AS h
        FROM toks WHERE len(t) < {SHINGLE}
    ),
    sigs AS (SELECT doc_id, [{mins}] AS sig FROM base GROUP BY doc_id)"""


def _text_pairs_sql() -> str:
    """Candidates (pairs sharing a band slice) and verified pairs, over a
    ``sigs`` table."""
    rows = NUM_HASHES // BANDS
    est = (
        f"len(list_filter(range({NUM_HASHES}), i -> sa.sig[i+1] = sb.sig[i+1]))"
        f" / {float(NUM_HASHES)}"
    )
    return f"""
    CREATE TEMP TABLE cand AS
    WITH bnd AS (SELECT doc_id, sig, unnest(range({BANDS})) AS b FROM sigs),
    keys AS (SELECT doc_id, b, sig[b*{rows}+1 : b*{rows}+{rows}] AS sl FROM bnd)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM keys a JOIN keys b ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id;
    CREATE TEMP TABLE text_pairs AS
    SELECT c.id_a, c.id_b, {est} AS est_jaccard
    FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE {est} >= {TEXT_THRESHOLD}"""


def _image_sigs_sql(width: int, height: int) -> str:
    """dHash-64 rebuilt from the raw PPM bytes: point-sample an 8x9 grid,
    grey = (r+g+b)//3, bit r*8+c set iff grey[r][c] > grey[r][c+1]; bit
    63 lands as the int64 sign."""
    header = len(f"P6\n{width} {height}\n255\n")
    off = f"({header} + ((g.r * {height}) // 8 * {width} + (g.c * {width}) // 9) * 3)"
    byte = lambda k: f"CAST('0x' || substr(i.hx, 2 * ({off} + {k}) + 1, 2) AS INTEGER)"  # noqa: E731
    return f"""
    WITH imgs AS (SELECT id, hex(content) AS hx FROM images),
    grid AS (
        SELECT i.id, g.r, g.c, ({byte(0)} + {byte(1)} + {byte(2)}) // 3 AS v
        FROM imgs i, (SELECT r, c FROM range(8) t1(r), range(9) t2(c)) g
    ),
    bits AS (
        SELECT a.id, a.r * 8 + a.c AS k, CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
        FROM grid a JOIN grid b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
    )
    SELECT id,
           CAST(SUM(CASE WHEN bit = 1 AND k < 63 THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END)
                AS BIGINT)
           + CASE WHEN MAX(CASE WHEN k = 63 THEN bit ELSE 0 END) = 1
                  THEN (-9223372036854775807 - 1)::BIGINT ELSE 0::BIGINT END AS sig
    FROM bits GROUP BY id"""


def _curated_sql() -> str:
    """Records left after collapsing every connected component of the
    union of the three near-duplicate graphs onto its minimum id."""
    return """
    WITH RECURSIVE edges AS (
        SELECT id_a, id_b FROM text_pairs
        UNION SELECT id_a, id_b FROM vector_pairs
        UNION SELECT id_a, id_b FROM image_pairs
    ),
    und AS (SELECT id_a AS src, id_b AS dst FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach AS (
        SELECT src, dst FROM und
        UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
    ),
    losers AS (SELECT src AS node FROM reach GROUP BY src HAVING min(dst) < src)
    SELECT * FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)"""


def _connect(inputs: Path, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs / t}.parquet')")
    return con


def _warehouse(inputs: Path) -> dict:
    from etl_demos_spark.workload import REGISTRY

    con = _connect(
        inputs, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    )
    want = {
        "lineitem_profile": duck_digest(
            con, _profile_sql("lineitem", "l_quantity", "l_shipdate")
        ),
    }
    for q in HEADLINE:
        want[q] = duck_digest(con, REGISTRY[q].oracle)
    want["mart_first_order"] = want["q_window_dedup"]
    want["mart_lineitem"] = want["q_project_cast"]
    want["quality"] = value_digest([])
    return want


def _near_dedup(inputs: Path) -> dict:
    from gen import IMG_H, IMG_W

    con = _connect(inputs, ("documents", "embeddings", "images"))
    con.execute(f"CREATE TEMP TABLE sigs AS WITH {_minhash_sigs_sql()} SELECT * FROM sigs")
    con.execute(_text_pairs_sql())
    con.execute(
        f"""CREATE TEMP TABLE vector_pairs AS
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= {VECTOR_THRESHOLD}"""
    )
    con.execute(f"CREATE TEMP TABLE image_sigs AS {_image_sigs_sql(IMG_W, IMG_H)}")
    con.execute(
        f"""CREATE TEMP TABLE image_pairs AS
        SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM image_sigs a JOIN image_sigs b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= {IMAGE_HAMMING}"""
    )
    return {
        "signature_store": duck_digest(con, "SELECT doc_id AS id, sig FROM sigs"),
        "text_pairs": duck_digest(con, "SELECT * FROM text_pairs"),
        "vector_pairs": duck_digest(con, "SELECT * FROM vector_pairs"),
        "image_signatures": duck_digest(con, "SELECT * FROM image_sigs"),
        "image_pairs": duck_digest(con, "SELECT * FROM image_pairs"),
        "curated": duck_digest(con, _curated_sql()),
        "_text_candidates": con.execute("SELECT COUNT(*) FROM cand").fetchone()[0],
    }


ORACLES = {"warehouse": _warehouse, "near_dedup": _near_dedup}


def expected(workload: str, inputs: Path) -> dict:
    """Expected digest per op name, cached in the seed's input directory."""
    path = inputs / f"expected_{workload}.json"
    if path.exists():
        return json.loads(path.read_text())
    want = ORACLES[workload](inputs)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(want))
    tmp.replace(path)
    return want
