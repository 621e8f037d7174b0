"""Extension workload: training-data-pipeline operators beyond the
reference surface (BASELINE.json north star) — text analysis, dedup
families, similarity search, multimodal plumbing, event-time windows.

Same oracle-parity conventions as workload.py (see its module docstring).
Nearly everything here is oracle-paired — including the MinHash/SimHash
dedup family (md5-derived signatures both engines compute, round 4) and
the LSH ANN query (seeded plane constants embedded in the oracle SQL).
The few queries whose results depend on iteratively-trained state that
no SQL engine can reproduce (PQ codebooks, k-means, PageRank, BPE merge
learning) register with ``oracle=None`` → the driver records the weaker
rows-only check; their semantics are instead pinned to first-principles
Python/numpy references in tests/.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_demos_spark.functions.bqcompat import year_diff
from etl_demos_spark.operators import dedup, multimodal, similarity, text
from etl_demos_spark.operators.dedup import tokenize as text_tokenize
from etl_demos_spark.streaming import windows as win
from etl_demos_spark.workload import DEC2, DEC42, T, money, money_sum, workload

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKS = "regexp_extract_all(lower(text), '[a-za-z0-9]+')"


@workload(
    "q_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
           CAST(length(text) AS BIGINT) AS n_chars_obs
    FROM documents
    """,
    tags=("ext-text",),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting via word-regex extraction — whitespace-robust, BPE-ish
    granularity comes from the char-class split; all JVM built-ins."""
    d = T(spark, sf_dir, "documents")
    stats = text.char_stats("text")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        stats["n_alpha"].alias("n_alpha"),
        stats["n_digit"].alias("n_digit"),
        stats["n_chars"].alias("n_chars_obs"),
    )


# The same pattern literal as text.BPE_PRETOKEN_RE, with the leading
# quote doubled for SQL. Java-regex ∩ RE2 dialect (no lookahead, explicit
# ASCII whitespace class) — see the constant's docstring.
_BPE_SQL_RE = (
    "''(?:s|t|re|ve|m|ll|d)"
    "| ?\\p{L}+"
    "| ?\\p{N}+"
    "| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+"
    "|[ \\t\\n\\r\\f]+"
)


@workload(
    "q_bpe_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL_RE}')) AS BIGINT)
               AS n_pieces,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
               AS n_words,
           round(len(regexp_extract_all(text, '{_BPE_SQL_RE}')) * 1.0
                 / nullif(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0), 6)
               AS pieces_per_word
    FROM documents
    """,
    tags=("ext-text",),
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style tokenizer budget accounting (text.pretokenize): GPT-2
    pre-token pieces counted by ONE codegen'd JVM regex pass — the
    standard per-document token-cost proxy before a model-specific merge
    table exists. No Python in the path; pieces-per-word is the
    fertility signal quality filters threshold on."""
    d = T(spark, sf_dir, "documents")
    n_pieces = text.bpe_token_count("text")
    n_words = text.token_count("text")
    return d.select(
        "doc_id",
        n_pieces.alias("n_pieces"),
        n_words.alias("n_words"),
        F.when(n_words == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_pieces * F.lit(1.0) / n_words, 6))
        .alias("pieces_per_word"),
    )


@workload(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           (CASE WHEN length(text) >= 100 AND length(text) <= 20000
                 THEN 1.0 ELSE 0.0 END
            + len(regexp_extract_all(text, '[A-Za-z]'))
              / greatest(CAST(length(text) AS DOUBLE), 1.0)
            + CASE WHEN len(list_filter({_TOKS},
                     t -> t IN ('the','a','of','and','to'))) > 0
                 THEN 1.0 ELSE 0.0 END
            + len(list_distinct({_TOKS}))
              / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)
           ) / 4.0 AS quality
    FROM documents
    """,
    tags=("ext-text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length band, alpha ratio, stopword
    presence, token diversity) — the standard pre-training corpus filter
    features, computed fully JVM-side."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", text.quality_score("text").alias("quality"))


@workload(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter({_TOKS}, t -> t IN ('the','a','of','and','to'))) AS s_en,
               len(list_filter({_TOKS}, t -> t IN ('el','la','de','y','que'))) AS s_es,
               len(list_filter({_TOKS}, t -> t IN ('le','la','de','et','que'))) AS s_fr,
               len(list_filter({_TOKS}, t -> t IN ('der','die','das','und','zu'))) AS s_de
        FROM documents
    )
    SELECT lang,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
                ELSE 'und' END AS lang_pred,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang, lang_pred
    """,
    tags=("ext-text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword profiles) — confusion matrix vs the
    labeled lang column. Plug a real classifier in via pandas_udf when the
    model library exists; the pipeline shape is identical."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_guess("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@workload(
    "q_fingerprint",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY fp
    """,
    tags=("ext-text", "ext-dedup"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 document fingerprinting with canonical-doc election —
    the exact-dedup primitive."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(text.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@workload(
    "q_dedup_exact",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
               AS n_unique
    FROM documents
    GROUP BY source
    """,
    tags=("ext-dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per source: hash-groupBy on the normalized
    fingerprint (one uniform-key shuffle — no skew, combiner-friendly)."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(text.fingerprint("text")).alias("n_unique"),
    )


@workload(
    "q_dedup_ngram",
    oracle="""
    WITH docs AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
                   i -> concat_ws(' ',
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+2],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+3])
               )) AS sh
        FROM documents
    ),
    idx AS (
        SELECT doc_id, lang, len(sh) AS n_sh, unnest(sh) AS g FROM docs
        WHERE len(sh) > 0
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_inter
        FROM idx a JOIN idx b
          ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.4
    """,
    tags=("ext-dedup",),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join
    (shuffle on shingle key, language blocking) — the ground truth the
    MinHash/SimHash approximations are property-tested against."""
    d = T(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.4, block_col="lang"
    )


# --- Generated MinHash/SimHash oracle SQL ----------------------------------
# Signatures use the engine-portable md5_long base hash (dedup.md5_long):
# DuckDB reproduces every signature value bit-for-bit, so the driver hash
# certifies the LSH math itself — candidate generation, estimated Jaccard,
# survivor selection — not just row counts. The oracle bands by joining on
# the RAW signature slice; Spark bands on xxhash64(slice), identical up to
# a 2^-64 hash collision (see dedup.banded_buckets). The affine params are
# interpolated from the same _affine_params family Spark uses.

_P31 = dedup.MERSENNE31


def _minhash_sig_cte(
    num_hashes: int = 128, n: int = 3, source: str = "documents"
) -> str:
    """CTE chain text: documents → toks → grams → base hash → sigs
    (doc_id, sig LIST of num_hashes mins), mirroring
    dedup.exploded_shingles + minhash_signatures_from_grams."""
    mins = ", ".join(
        f"min((h * {a} + {b}) % {_P31})"
        for a, b in dedup._affine_params(num_hashes)
    )
    grams = ", ".join(f"t[i+{j+1}]" for j in range(n))
    # the second base branch mirrors exploded_shingles(short_docs="whole"):
    # sub-n-token docs hash ONE degenerate whole-text gram, so every doc
    # carries a signature and the incremental kept-set contract is total
    return f"""
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM {source}
    ),
    idx AS (
        SELECT doc_id, t, unnest(range(len(t) - {n - 1})) AS i
        FROM toks WHERE len(t) >= {n}
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(concat_ws(' ', {grams})), 1,
                                   {dedup.MD5_HEX_CHARS}) AS BIGINT)
                   % {_P31} AS h
        FROM idx
        UNION ALL
        SELECT doc_id,
               CAST('0x' || substr(md5(array_to_string(t, ' ')), 1,
                                   {dedup.MD5_HEX_CHARS}) AS BIGINT)
                   % {_P31} AS h
        FROM toks WHERE len(t) < {n}
    ),
    sigs AS (
        SELECT doc_id, [{mins}] AS sig FROM base GROUP BY doc_id
    )"""


def _minhash_pairs_sql(
    num_hashes: int = 128, bands: int = 32, threshold: float = 0.4, n: int = 3
) -> str:
    rows = num_hashes // bands
    est = (
        f"len(list_filter(range({num_hashes}), "
        f"i -> sa.sig[i+1] = sb.sig[i+1])) / {float(num_hashes)}"
    )
    return f"""
    WITH {_minhash_sig_cte(num_hashes, n)},
    bnd AS (
        SELECT doc_id, sig, unnest(range({bands})) AS b FROM sigs
    ),
    keys AS (
        SELECT doc_id, b, sig[b*{rows}+1 : b*{rows}+{rows}] AS sl FROM bnd
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keys a JOIN keys b
          ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, {est} AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE {est} >= {threshold}
    """


def _simhash_sig_cte(n: int = 3, bits: int = dedup.SIMHASH_BITS) -> str:
    """documents → distinct doc shingles (set semantics — vote weights)
    → 60-bit portable base hash → per-bit votes → sig long."""
    grams = ", ".join(f"t[i+{j+1}]" for j in range(n))
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(range(len(t) - {n - 1})) AS i
        FROM toks WHERE len(t) >= {n}
    ),
    base AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(concat_ws(' ', {grams})), 1,
                                   {dedup.MD5_HEX_CHARS}) AS BIGINT) AS h
        FROM idx
    ),
    votes AS (
        SELECT doc_id, {votes} FROM base GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, {sig} AS sig FROM votes
    )"""


def _simhash_pairs_sql(max_hamming: int = 8, n: int = 3) -> str:
    # The oracle needs no pigeonhole machinery: the chunk join is complete
    # (full bit coverage), so its output equals the all-pairs Hamming
    # filter — which IS the semantic contract being certified.
    return f"""
    WITH {_simhash_sig_cte(n)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def _band_keys(name: str, src: str, num_hashes: int = 128, bands: int = 32) -> str:
    """CTE pair emitting (doc_id, b, sl) band keys for a sig relation."""
    rows = num_hashes // bands
    return f"""
    {name}_b AS (
        SELECT doc_id, sig, unnest(range({bands})) AS b FROM {src}
    ),
    {name} AS (
        SELECT doc_id, b, sig[b*{rows}+1 : b*{rows}+{rows}] AS sl FROM {name}_b
    )"""


# Connected components as a recursive reachability closure: comp(x) =
# min(reachable ∪ {x}). UNION (not UNION ALL) dedups rows, so the
# recursion terminates; candidate edges ∝ near-dups keep the closure
# tiny. Semantically identical to embedding_dedup.connected_components'
# small/large-star label (min id of the component).
_CC_SQL = """
    und AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
    ),
    losers AS (
        SELECT src AS node FROM reach GROUP BY src HAVING min(dst) < src
    )"""


def _dedup_e2e_sql(
    num_hashes: int = 128, bands: int = 32, threshold: float = 0.4, n: int = 3
) -> str:
    est = (
        f"len(list_filter(range({num_hashes}), "
        f"i -> sa.sig[i+1] = sb.sig[i+1])) / {float(num_hashes)}"
    )
    return f"""
    WITH RECURSIVE {_minhash_sig_cte(num_hashes, n)},
    {_band_keys("keys", "sigs", num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keys a JOIN keys b
          ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b
        WHERE {est} >= {threshold}
    ),
    {_CC_SQL}
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM documents
    WHERE doc_id NOT IN (SELECT node FROM losers)
    GROUP BY source
    """


def _dedup_incremental_sql(
    num_hashes: int = 128, bands: int = 32, threshold: float = 0.5, n: int = 3
) -> str:
    est = (
        f"len(list_filter(range({num_hashes}), "
        f"i -> sa.sig[i+1] = sb.sig[i+1])) / {float(num_hashes)}"
    )
    return f"""
    WITH RECURSIVE {_minhash_sig_cte(num_hashes, n)},
    half AS (
        SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS h FROM documents
    ),
    nsig AS (SELECT s.doc_id, s.sig FROM sigs s, half WHERE s.doc_id > half.h),
    esig AS (SELECT s.doc_id, s.sig FROM sigs s, half WHERE s.doc_id <= half.h),
    {_band_keys("nk", "nsig", num_hashes, bands)},
    {_band_keys("ek", "esig", num_hashes, bands)},
    xcand AS (
        SELECT DISTINCT nk.doc_id AS nid, ek.doc_id AS eid
        FROM nk JOIN ek ON nk.b = ek.b AND nk.sl = ek.sl
    ),
    xmatch AS (
        SELECT DISTINCT c.nid FROM xcand c
        JOIN nsig sa ON sa.doc_id = c.nid
        JOIN esig sb ON sb.doc_id = c.eid
        WHERE {est} >= {threshold}
    ),
    fresh AS (
        SELECT doc_id, sig FROM nsig
        WHERE doc_id NOT IN (SELECT nid FROM xmatch)
    ),
    {_band_keys("fk", "fresh", num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fk a JOIN fk b
          ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN fresh sa ON sa.doc_id = c.id_a
        JOIN fresh sb ON sb.doc_id = c.id_b
        WHERE {est} >= {threshold}
    ),
    {_CC_SQL}
    SELECT doc_id FROM fresh
    WHERE doc_id NOT IN (SELECT node FROM losers)
    ORDER BY doc_id
    """


@workload("q_dedup_minhash", oracle=_minhash_pairs_sql(), tags=("ext-dedup",))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128)+LSH(32 bands) near-dup candidates — the 100 TB dedup
    path (bucket-join, never n²). Signatures use the portable md5 base
    hash, so the DuckDB oracle recomputes them exactly and the driver
    hash certifies candidates + estimated Jaccard; recall/precision vs
    exact Jaccard additionally asserted in tests/test_dedup.py."""
    d = T(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.4)


@workload("q_dedup_simhash", oracle=_simhash_pairs_sql(), tags=("ext-dedup",))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 Hamming-ball pairs via pigeonhole chunk join (full bit
    coverage → complete within the ball, which is exactly what lets the
    all-pairs DuckDB oracle hash-certify the output)."""
    d = T(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, "doc_id", "text", n=3, max_hamming=8)


_DUP_SPAN_W = 10

_DUP_SPANS_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, t, unnest(range(len(t) - {_DUP_SPAN_W - 1})) AS i
        FROM toks WHERE len(t) >= {_DUP_SPAN_W}
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i+1 : i+{_DUP_SPAN_W}], ' ')) AS g
        FROM pos
    ),
    cnt AS (
        SELECT doc_id, i, COUNT(*) OVER (PARTITION BY g) AS c FROM wins
    ),
    kept AS (SELECT doc_id, i FROM cnt WHERE c > 1),
    isl AS (
        SELECT doc_id, i,
               CASE WHEN i > lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                            + {_DUP_SPAN_W}
                    THEN 1 ELSE 0 END AS ni
        FROM kept
    ),
    grp AS (
        SELECT doc_id, i,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS isl
        FROM isl
    )
    SELECT doc_id,
           CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + {_DUP_SPAN_W} AS BIGINT) AS span_end,
           CAST(MAX(i) + {_DUP_SPAN_W} - MIN(i) AS BIGINT) AS span_tokens
    FROM grp GROUP BY doc_id, isl
    """


@workload("q_dup_spans", oracle=_DUP_SPANS_ORACLE, tags=("ext-dedup",))
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (Lee et al. 2022 ExactSubstr,
    arXiv:2107.06499): fingerprinted 10-token sliding windows → windows
    whose fingerprint repeats anywhere in the corpus → maximal merged
    token spans per document. md5 fingerprints make the whole pass
    hash-certifiable against the DuckDB twin."""
    d = T(spark, sf_dir, "documents")
    spans = dedup.duplicated_spans(d, "doc_id", "text", window=_DUP_SPAN_W)
    return spans.withColumnRenamed("id", "doc_id")


_DUP_REMOVAL_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, t, unnest(range(len(t) - {_DUP_SPAN_W - 1})) AS i
        FROM toks WHERE len(t) >= {_DUP_SPAN_W}
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i+1 : i+{_DUP_SPAN_W}], ' ')) AS g
        FROM pos
    ),
    ranked AS (
        SELECT doc_id, i, g,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
        FROM wins
    ),
    firsts AS (
        SELECT g, doc_id AS fid, i AS fi FROM ranked WHERE rn = 1
    ),
    -- keep-first clip: a flagged window overlapping its fingerprint's
    -- SAME-DOC first occurrence starts removal at that occurrence's end
    flag AS (
        SELECT r.doc_id,
               CASE WHEN r.doc_id = f.fid AND r.i < f.fi + {_DUP_SPAN_W}
                    THEN f.fi + {_DUP_SPAN_W} ELSE r.i END AS s,
               r.i + {_DUP_SPAN_W} AS e
        FROM ranked r JOIN firsts f USING (g)
        WHERE r.rn > 1
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > MAX(e) OVER (PARTITION BY doc_id
                                          ORDER BY s, e
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS ni
        FROM flag
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS isl
        FROM isl
    ),
    spans AS (
        SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        FROM grp GROUP BY doc_id, isl
    ),
    tokpos AS (
        SELECT doc_id, unnest(range(len(t))) AS i, t FROM toks
    ),
    surviving AS (
        SELECT p.doc_id, p.i, p.t[p.i + 1] AS tok
        FROM tokpos p
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = p.doc_id AND p.i >= s.s AND p.i < s.e
        )
    ),
    agg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY i) AS clean_text,
               COUNT(*) AS kept_tokens
        FROM surviving GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(len(t.t) - COALESCE(a.kept_tokens, 0) AS BIGINT)
               AS removed_tokens
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """


@workload("q_dup_span_removal", oracle=_DUP_REMOVAL_ORACLE, tags=("ext-dedup",))
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal (operators/dedup.py
    remove_duplicated_spans): keep-first semantics — the globally first
    occurrence of every duplicated 10-token window survives, later
    occurrences merge into spans and are cut from the normalized token
    stream. The full detect→merge→cut pipeline is hash-certified
    against the DuckDB twin, clean text byte-for-byte included.
    Registered _LATE: the ExactSubstr family holds its in-window slot
    via q_dup_spans; this is the action half of the same machinery."""
    d = T(spark, sf_dir, "documents")
    out = dedup.remove_duplicated_spans(d, "doc_id", "text", window=_DUP_SPAN_W)
    return out.withColumnRenamed("id", "doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@workload(
    "q_ann_cosine",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv
               ) AS cs
        FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
        SELECT query_id, vec_id, cs,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, round(cs, 6) AS cos_sim
    FROM ranked WHERE rn <= 10
    """,
    tags=("ext-sim",),
)
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=10, 5 query vectors): broadcast queries,
    one corpus pass, JVM higher-order-function dot products, window top-k.
    Output similarity rounded to 1e-6 (both engines compute the exact same
    double expression; rounding guards the final-ulp edge).
    """
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = similarity.brute_force_topk(e, q, k=10)
    return topk.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    )




@workload(
    "q_hard_negatives",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
               label AS qlab
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST(e.label AS BIGINT) AS neg_label,
               list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv
               ) AS cs
        FROM embeddings e CROSS JOIN q
        WHERE e.label <> q.qlab
    ),
    ranked AS (
        SELECT query_id, vec_id, neg_label, cs,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, neg_label, round(cs, 6) AS cos_sim
    FROM ranked WHERE rn <= 10
    """,
    tags=("ext-sim", "ext-trainprep"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives —
    the triplet/contrastive training-pair prep): for each query vector,
    the 10 most-similar corpus vectors with a DIFFERENT label. The
    label exclusion runs inside the Arrow-batch GEMM scorer (same-label
    scores masked to −inf before the per-batch partial top-k), keeping
    the batch pre-pruning lossless — filtering after a plain top-k
    would silently under-fill when a batch's top slots are same-label.
    One corpus pass regardless of query count; gemm ≡ hof cross-check
    pinned in tests/test_similarity.py. Output cosine rounded 1e-6
    (shared-expression convention)."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = similarity.hard_negatives(e, q, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("neg_label").cast("long").alias("neg_label"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )

def _ann_lsh_planes() -> list[list[float]]:
    """The registered LSH query's hyperplanes: seeded numpy constants,
    shared verbatim between the Spark plan (as double literals) and the
    DuckDB oracle SQL (as list literals via repr round-trip — shortest
    repr reparses to the identical IEEE-754 double in both engines)."""
    import numpy as np

    return np.random.default_rng(7).standard_normal((6, 64)).tolist()


_LSH_PLANES = _ann_lsh_planes()


def _ann_lsh_oracle_sql() -> str:
    """All-literal DuckDB twin of q_ann_lsh. LSH is deterministic given
    the planes, so the *approximate* result is still hash-certifiable:
    both engines bucket by sign(v·plane_i), join on exact bucket equality,
    and score candidates with exact cosine. Sign disagreement between the
    engines' summation orders would need |v·plane| within ~1 ulp of zero
    — measure-zero for Gaussian planes over real embeddings (same
    argument as the GEMM/expression bucket pin in similarity.py)."""

    def lst(p: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bucket = "\n             + ".join(
        f"(CASE WHEN list_dot_product(v, {lst(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_LSH_PLANES)
    )
    return f"""
    WITH e2 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, v,
               {bucket} AS bucket
        FROM e2
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv, bucket
        FROM b WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, c.vec_id,
               list_cosine_similarity(c.v, q.qv) AS cs
        FROM b c JOIN q ON c.bucket = q.bucket
    ),
    ranked AS (
        SELECT query_id, vec_id, cs,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, round(cs, 6) AS cos_sim
    FROM ranked WHERE rn <= 10
    """


@workload("q_ann_lsh", oracle=_ann_lsh_oracle_sql(), tags=("ext-sim",))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets (the scale
    path: exact cosine only within candidate buckets; corpus bucketing is
    the vectorized GEMM pass). Recall vs the brute-force baseline is
    asserted in tests/test_similarity.py; the deterministic bucket→score
    pipeline itself is hash-certified against an all-literal DuckDB twin
    (planes embedded as constants). Similarity rounded to 1e-6 after
    ranking, as in q_ann_cosine."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = similarity.ann_topk_lsh(e, q, _LSH_PLANES, k=10)
    return topk.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------


@workload(
    "q_binary_meta",
    oracle="""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
    tags=("ext-multimodal",),
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, SQL-checkable half: text → binary payload →
    typed metadata (byte length, content hash). The decode half is
    q_multimodal_decode."""
    d = T(spark, sf_dir, "documents")
    bt = multimodal.make_binary_table(d, "doc_id", "text", "text")
    return bt.select(
        "id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha").alias("sha"),
    )


# Planted-image construction shared by the decode/feature queries: each
# document becomes a REAL netpbm image (P5 gray for even ids, P6 RGB for
# odd), dimensions varying with doc_id, raster bytes drawn from the
# text's sha256 hex repeated — all JVM built-ins, byte-identical
# reconstructible in DuckDB. The decoder must actually parse the header
# to recover (width, height, mode), so the driver hash certifies the
# codec, not the plumbing.
_IMG_SPARK = """
concat(
  case when doc_id % 2 = 0 then 'P5' else 'P6' end, char(10),
  cast(cast(4 + doc_id % 13 as int) as string), ' 8', char(10), '255', char(10),
  substring(repeat(sha2(encode(text, 'UTF-8'), 256), 6), 1,
            cast((4 + doc_id % 13) * 8 * (case when doc_id % 2 = 0 then 1 else 3 end) as int))
)"""

_IMG_DUCK = """
    img AS (
        SELECT doc_id,
               CAST(4 + doc_id % 13 AS INT) AS w,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
               substr(repeat(sha256(text), 6), 1,
                      CAST((4 + doc_id % 13) * 8
                           * (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END) AS INT))
                   AS raster,
               concat(CASE WHEN doc_id % 2 = 0 THEN 'P5' ELSE 'P6' END, chr(10),
                      CAST(CAST(4 + doc_id % 13 AS INT) AS VARCHAR), ' 8', chr(10),
                      '255', chr(10)) AS hdr
        FROM documents
    )"""


@workload(
    "q_multimodal_decode",
    oracle=f"""
    WITH {_IMG_DUCK}
    SELECT doc_id AS id,
           CAST(octet_length(encode(hdr || raster)) AS BIGINT) AS n_bytes,
           sha256(hdr || raster) AS sha,
           w AS width,
           CAST(8 AS INT) AS height,
           CASE WHEN ch = 1 THEN 'L' ELSE 'RGB' END AS mode
    FROM img
    """,
    tags=("ext-multimodal",),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode over REAL image payloads: every
    document is rendered as a valid netpbm file (operators/multimodal.py
    decode_ppm — one of the three in-repo dependency-free codecs) and
    decoded for real; the oracle reconstructs the same bytes and knows
    the planted (width, height, mode) ground truth, so the driver hash
    certifies the codec's header parse, not just the plumbing."""
    d = T(spark, sf_dir, "documents")
    imgs = d.selectExpr("doc_id as id", f"encode({_IMG_SPARK}, 'UTF-8') as content")
    return multimodal.extract_image_meta(imgs)


@workload(
    "q_image_features",
    oracle=f"""
    WITH {_IMG_DUCK},
    px AS (
        SELECT doc_id, ch, unnest(range(w * 8 * ch)) AS j FROM img
    ),
    vals AS (
        SELECT p.doc_id, CAST(p.j % p.ch AS INT) AS c,
               ord(substr(i.raster, CAST(p.j AS INT) + 1, 1)) AS v
        FROM px p JOIN img i ON p.doc_id = i.doc_id
    ),
    stats AS (
        SELECT doc_id, c,
               round(sum(v) / count(*), 6) AS m,
               round(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)
                          - (sum(v) / count(*)) * (sum(v) / count(*))), 6) AS s
        FROM vals GROUP BY doc_id, c
    )
    SELECT st.doc_id AS id, i.w AS width, CAST(8 AS INT) AS height,
           CASE WHEN i.ch = 1 THEN 'L' ELSE 'RGB' END AS mode,
           st.c AS channel, st.m AS mean, st.s AS std
    FROM stats st JOIN img i ON st.doc_id = i.doc_id
    """,
    tags=("ext-multimodal",),
)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→featurize: per-channel pixel mean/std over the planted
    netpbm images (multimodal.image_channel_stats — exact integer sums,
    one double divide, so the SQL oracle reproduces the doubles
    bit-for-bit; rounded 1e-6 to guard the sqrt ulp).

    Output is one row per (id, channel) with SCALAR mean/std columns:
    the driver canonicalizes results by sorting raw pandas cells, so
    top-level array columns are un-hashable at the gate (the r05 slot
    burned on exactly that — VERDICT r5 rec 1). The array-valued
    operator API is unchanged; only this registered shape is exploded."""
    d = T(spark, sf_dir, "documents")
    imgs = d.selectExpr("doc_id as id", f"encode({_IMG_SPARK}, 'UTF-8') as content")
    feats = multimodal.image_channel_stats(imgs)
    return feats.select(
        "id", "width", "height", "mode",
        F.posexplode(F.arrays_zip("ch_mean", "ch_std")).alias("channel", "z"),
    ).select(
        "id", "width", "height", "mode",
        F.col("channel").cast("int").alias("channel"),
        F.round(F.col("z.ch_mean"), 6).alias("mean"),
        F.round(F.col("z.ch_std"), 6).alias("std"),
    )


# Perceptual image dedup (operators/image_dedup.py): the planted netpbm
# corpus again, now doubled with NEAR-DUPLICATE mutants — each image
# reappears under id+10⁶ with its first raster byte replaced ('z') — so
# the Hamming-banded join has real positives to find. Header and raster
# are split out of _IMG_SPARK so the mutant can graft a byte between
# them; both stay byte-identical reconstructible in DuckDB.
_IMG_HDR_SPARK = """concat(
  case when doc_id % 2 = 0 then 'P5' else 'P6' end, char(10),
  cast(cast(4 + doc_id % 13 as int) as string), ' 8', char(10), '255', char(10))"""
_IMG_RASTER_SPARK = """substring(repeat(sha2(encode(text, 'UTF-8'), 256), 6), 1,
            cast((4 + doc_id % 13) * 8 * (case when doc_id % 2 = 0 then 1 else 3 end) as int))"""

_IMG_BOTH_DUCK = (
    _IMG_DUCK
    + """,
    imgs AS (
        SELECT doc_id AS id, w, ch, raster FROM img
        UNION ALL
        SELECT doc_id + 1000000, w, ch, 'z' || substr(raster, 2) FROM img
    )"""
)


def _planted_image_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one documents scan and ONE sha2 raster per doc, exploded into the
    # (original, mutant) pair — a union of two selects would read the
    # text column and recompute the raster twice (the same
    # read-once discipline the r9 domain rollup was pinned to)
    d = T(spark, sf_dir, "documents")
    base = d.selectExpr(
        "doc_id",
        f"{_IMG_HDR_SPARK} as hdr",
        f"{_IMG_RASTER_SPARK} as raster",
    )
    return base.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("id"),
                    F.concat("hdr", "raster").alias("s"),
                ),
                F.struct(
                    (F.col("doc_id") + 1000000).alias("id"),
                    F.concat(
                        F.col("hdr"), F.lit("z"), F.expr("substring(raster, 2)")
                    ).alias("s"),
                ),
            )
        ).alias("x")
    ).select(F.col("x.id").alias("id"), F.encode("x.s", "UTF-8").alias("content"))


def _img_gray_duck(div: int) -> str:
    """Sampled-pixel grayscale at grid cell (r, c) over a 1/3-channel
    raster: exact integer (a+b+c)//3, 1-based substr. ``div`` is the
    grid width divisor (9 for dHash's 8x9 grid, 8 for pHash's 8x8).
    Row sampling is (r*8)//8 = r — planted height is 8."""
    idx = f"(t1.r * i.w + (t2.c * i.w) // {div})"
    return f"""CASE WHEN i.ch = 1
                    THEN ascii(substr(i.raster, {idx} + 1, 1))
                    ELSE (ascii(substr(i.raster, {idx} * 3 + 1, 1))
                        + ascii(substr(i.raster, {idx} * 3 + 2, 1))
                        + ascii(substr(i.raster, {idx} * 3 + 3, 1))) // 3
               END"""


def _dhash_sigs_cte() -> str:
    """CTE chain ``imgs → grid → bits → sigs``: the full dHash-64
    rebuild in SQL, shared by the pairs oracle and the incremental
    replay oracle so the signature rule cannot fork. Bit 63 can't be
    built with 1<<63 (BIGINT overflow in both engines' literal rules);
    it lands via two's-complement subtraction."""
    return f"""{_IMG_BOTH_DUCK},
    grid AS (
        SELECT i.id, t1.r, t2.c, {_img_gray_duck(9)} AS g
        FROM imgs i, range(8) t1(r), range(9) t2(c)
    ),
    bits AS (
        SELECT a.id, a.r, a.c,
               CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
        FROM grid a JOIN grid b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
        WHERE a.c < 8
    ),
    sigs AS (
        SELECT id,
               CAST(SUM(CASE WHEN bit = 1 AND r * 8 + c < 63
                             THEN (1::BIGINT << CAST(r * 8 + c AS INT))
                             ELSE 0 END) AS BIGINT)
               + CASE WHEN MAX(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
                      THEN (-9223372036854775807 - 1)::BIGINT
                      ELSE 0::BIGINT END AS sig
        FROM bits GROUP BY id
    )"""


def _dhash_pairs_sql(max_hamming: int = 10) -> str:
    # The chunk join is complete within the Hamming ball (full bit
    # coverage), so the oracle is the plain all-pairs filter — same
    # contract the SimHash oracle certifies.
    return f"""
    WITH {_dhash_sigs_cte()}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def _phash_pairs_sql(max_hamming: int = 10) -> str:
    return f"""
    WITH {_IMG_BOTH_DUCK},
    {_phash_sigs_chain()}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def _phash_sigs_chain(grid: str = "grid", sigs: str = "sigs") -> str:
    """pHash-63 signature CTE chain (``tt → grid → coef → ac → thr →
    sigs``), names parameterized so the composite oracle can splice it
    next to the dHash chain without CTE collisions."""
    from etl_demos_spark.operators.image_dedup import DCT_T

    tt_rows = ",\n        ".join(
        f"({u}, {r}, {t})"
        for u, row in enumerate(DCT_T)
        for r, t in enumerate(row)
    )
    return f"""tt(i, j, t) AS (VALUES {tt_rows}),
    {grid} AS (
        SELECT i.id, t1.r, t2.c, {_img_gray_duck(8)} AS g
        FROM imgs i, range(8) t1(r), range(8) t2(c)
    ),
    coef AS (
        SELECT g.id, tu.i AS u, tv.i AS v,
               CAST(SUM(tu.t * g.g * tv.t) AS BIGINT) AS cval
        FROM {grid} g JOIN tt tu ON tu.j = g.r JOIN tt tv ON tv.j = g.c
        GROUP BY 1, 2, 3
    ),
    ac AS (
        SELECT id, u, v, cval,
               row_number() OVER (PARTITION BY id ORDER BY cval, u, v) AS rn
        FROM coef WHERE NOT (u = 0 AND v = 0)
    ),
    thr AS (SELECT id, cval AS t FROM ac WHERE rn = 32),
    {sigs} AS (
        SELECT ac.id,
               CAST(SUM(CASE WHEN ac.cval > thr.t
                             THEN (1::BIGINT << CAST(ac.u * 8 + ac.v - 1 AS INT))
                             ELSE 0 END) AS BIGINT) AS sig
        FROM ac JOIN thr ON ac.id = thr.id GROUP BY ac.id
    )"""


def _composite_pairs_sql(hd: int, hp: int) -> str:
    # both signature chains over the SAME imgs CTE; the predicate is the
    # OR of the two Hamming balls — the all-pairs statement of what the
    # two complete pigeonhole joins union to.
    return f"""
    WITH {_dhash_sigs_cte()},
    {_phash_sigs_chain(grid="grid_p", sigs="sigs_p")}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming_dhash,
           CAST(bit_count(xor(pa.sig, pb.sig)) AS INT) AS hamming_phash
    FROM sigs a
    JOIN sigs b ON a.id < b.id
    JOIN sigs_p pa ON pa.id = a.id
    JOIN sigs_p pb ON pb.id = b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= {hd}
       OR bit_count(xor(pa.sig, pb.sig)) <= {hp}
    """


@workload(
    "q_dedup_image_dhash",
    oracle=_dhash_pairs_sql(4),
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup via dHash-64 (operators/image_dedup.py
    — the classic difference hash: 8x9 point-sampled grayscale grid,
    bit = horizontal gradient sign) + the signature-agnostic pigeonhole
    chunk join (dedup.hamming_chunk_pairs, the SimHash join
    generalized). Corpus = the planted netpbm images + one near-dup
    mutant each (first raster byte flipped under id+10⁶), so the ball
    contains real positives. All arithmetic is exact integer
    (grayscale (r+g+b)//3, floor-sampled indices), which is what lets
    the DuckDB oracle rebuild every signature bit-for-bit and certify
    pairs with a plain all-pairs Hamming filter. Radius 4 = 5 chunks
    of 12-13 bits — 4096+ buckets, scale-sane (see the operator's
    radius-vs-candidates note) — and single-pixel edits move dHash at
    most a bit or two (measured max 1 on this corpus), so the planted
    mutants are all inside the ball."""
    from etl_demos_spark.operators.image_dedup import image_near_dup_pairs

    return image_near_dup_pairs(
        _planted_image_corpus(spark, sf_dir), "dhash", max_hamming=4
    )


@workload(
    "q_dedup_image_phash",
    oracle=_phash_pairs_sql(6),
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup via pHash-63 (operators/image_dedup.py
    — 8x8 point-sampled grayscale, 2-D DCT against the QUANTIZED
    integer cosine table DCT_T, bit = AC coefficient above the rank-32
    order statistic) + the same pigeonhole chunk join. The integer DCT
    is the whole trick: T·G·Tᵀ over int64 is exact (≤2⁴⁴), ties at the
    median break on the bit index, so signatures are engine-portable
    and the oracle replays the full transform in SQL (a 64-row literal
    cosine table joined twice). Same planted mutant corpus as the
    dHash query; radius 6 = 7 chunks of 9 bits (512 buckets). pHash
    spreads a one-pixel edit across every coefficient (79% of planted
    mutants fall within radius 6; dHash at radius 4 catches 100%) — the
    gradient hash is the primary detector, the DCT hash the
    confirmatory one."""
    from etl_demos_spark.operators.image_dedup import image_near_dup_pairs

    return image_near_dup_pairs(
        _planted_image_corpus(spark, sf_dir), "phash", max_hamming=6
    )


@workload(
    "q_dedup_image_composite",
    oracle=_composite_pairs_sql(4, 6),
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_image_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite perceptual near-dup: dHash-ball(4) ∪ pHash-ball(6)
    (operators/image_dedup.py image_near_dup_pairs_composite — VERDICT
    r10 rec 5). Single hashes have complementary failure modes: a
    single-pixel edit moves the gradient hash ≤ a few bits (100%
    planted-mutant recall) but smears across all DCT coefficients
    (pHash alone recovers 79% at radius 6), so the union's recall is
    ≥ max of the singles by construction — measured per-radius in
    tests/test_image_dedup.py's recall table. ONE decode pass emits
    both signatures (decode is the family's scale bottleneck, rec 4);
    the two pigeonhole joins each carry the other signature as a
    pass-through column so both Hamming distances stay map-side. Each
    join is complete within its own ball, so their union is complete
    for the OR predicate and the oracle is the plain all-pairs OR
    filter over both SQL-rebuilt signature sets."""
    from etl_demos_spark.operators.image_dedup import (
        image_near_dup_pairs_composite,
    )

    return image_near_dup_pairs_composite(
        _planted_image_corpus(spark, sf_dir), dhash_hamming=4, phash_hamming=6
    )


_IMG_E2E_ORACLE = f"""
    WITH RECURSIVE {_dhash_sigs_cte()},
    edges AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM sigs a JOIN sigs b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= 4
    ),
    {_CC_SQL}
    SELECT id FROM sigs WHERE id NOT IN (SELECT node FROM losers)
    """


@workload(
    "q_dedup_image_e2e",
    oracle=_IMG_E2E_ORACLE,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_image_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END perceptual image dedup certification
    (operators/image_dedup.py dedup_by_image_hash): planted corpus →
    dHash-64 → pigeonhole chunk join (radius 4) → connected components
    → min-id survivor per cluster — the full pipeline including the
    CLUSTERING step, which pairwise certification (q_dedup_image_dhash)
    can't see: transitive chains must collapse to one survivor. The
    oracle replays the whole thing — signature rebuild, all-pairs
    Hamming edges, and the recursive reachability closure (the
    q_dedup_text_e2e _CC_SQL pattern) — so the driver hash certifies
    survivor selection, not just pair discovery."""
    from etl_demos_spark.operators.image_dedup import dedup_by_image_hash

    return dedup_by_image_hash(
        _planted_image_corpus(spark, sf_dir), "dhash", max_hamming=4
    ).select("id")


_IMG_INCR_ORACLE = f"""
    WITH {_dhash_sigs_cte()}
    SELECT id FROM (
        SELECT id,
               row_number() OVER (PARTITION BY sig ORDER BY id % 3, id) AS rn
        FROM sigs
    ) WHERE rn = 1
    """


@workload(
    "q_dedup_image_incremental",
    oracle=_IMG_INCR_ORACLE,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_image_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual dedup replay certification
    (operators/image_dedup.py incremental_image_dedup): the planted
    image corpus split into three increments (id % 3, processed in
    order), each batch deduped against itself AND the persisted
    signature store from the previous increments — the existing corpus
    is never re-decoded, only 8-byte signatures and their banded chunk
    keys ship. At max_hamming=0 the match relation (identical dHash)
    is transitive, so the sequential replay must equal one global
    first-seen-wins pass — which the oracle states directly: the
    winner per signature is the member first in processing order
    (ORDER BY id % 3, id)."""
    from etl_demos_spark.operators.image_dedup import incremental_image_dedup

    corpus = _planted_image_corpus(spark, sf_dir)
    store = None
    kept_frames = []
    for m in range(3):
        inc = corpus.filter(F.col("id") % 3 == m)
        kept, store = incremental_image_dedup(inc, store, "dhash", max_hamming=0)
        # NO outer materialization of kept/store (r12,
        # perf/ab_imgincr_cadence_r12.json: 5.14 → 4.06 s median
        # interleaved, identical output): the operator already
        # checkpoints the expensive stages internally (decoded
        # new_sigs, the probed fresh set), so kept/store are cheap
        # anti-join projections over checkpointed frames — freezing
        # them again cost 2 extra eager jobs per increment. The union/
        # probe plans stay linear in increments because their
        # constituents are those internal checkpoints.
        kept_frames.append(kept)
    out = kept_frames[0]
    for f in kept_frames[1:]:
        out = out.unionByName(f)
    return out


# Planted WAV corpus: even docs 8-bit mono @8 kHz, odd docs 16-bit
# stereo @16 kHz; PCM payload = the doc's sha256-hex chars (ASCII
# 48-102, so 16-bit LE pairs stay positive and every sample value is
# reconstructible in SQL via ascii(substr(...))). Payload length L =
# 64 + (doc_id % 16) * 4 — multiple of 4, so stereo-16 frames divide
# exactly. The RIFF container is assembled by a tiny Arrow-batch
# builder (test scaffolding); the OPERATOR does a real header parse, so
# the driver hash certifies the codec, not the plumbing — the
# q_multimodal_decode pattern, now for audio.
_WAV_LEN_SQL = "64 + (doc_id % 16) * 4"


# the audio-DEDUP corpus uses longer payloads: the energy-gradient
# fingerprint needs >= N_FRAMES (64) mono samples to discriminate, and
# 16-bit stereo consumes 4 bytes per mono sample — L2 yields 64-95
# stereo frames / 256-383 mono samples (repeat(sha,6) = 384 chars)
_WAV_LEN2_SQL = "256 + (doc_id % 32) * 4"


def _planted_audio_corpus(
    spark: SparkSession,
    sf_dir: str,
    len_sql: str = _WAV_LEN_SQL,
    mutants: bool = False,
) -> DataFrame:
    import struct

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    d = T(spark, sf_dir, "documents")
    raster_sql = (
        "substring(repeat(sha2(encode(text, 'UTF-8'), 256), 6), 1, "
        f"cast({len_sql} as int))"
    )
    base = d.selectExpr("doc_id", f"{raster_sql} as raster")

    schema = StructType(
        [StructField("id", LongType()), StructField("content", BinaryType())]
    )

    def build(batches):
        def wav(doc_id: int, payload: bytes) -> bytes:
            if doc_id % 2 == 0:
                rate, ch, bits = 8000, 1, 8
            else:
                rate, ch, bits = 16000, 2, 16
            block = ch * bits // 8
            fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
            chunks = (
                b"fmt "
                + struct.pack("<I", len(fmt))
                + fmt
                + b"data"
                + struct.pack("<I", len(payload))
                + payload
            )
            return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

        for pdf in batches:
            ids, blobs = [], []
            for doc_id, raster in zip(pdf["doc_id"], pdf["raster"]):
                doc_id = int(doc_id)
                payload = raster.encode("ascii")
                ids.append(doc_id)
                blobs.append(wav(doc_id, payload))
                if mutants:
                    # near-dup twin: first payload byte flipped to 'z'
                    # under id+10^6 — one raster read builds both
                    # (the image corpus read-once discipline)
                    ids.append(doc_id + 1_000_000)
                    blobs.append(wav(doc_id, b"z" + payload[1:]))
            import pandas as pd

            yield pd.DataFrame({"id": ids, "content": blobs})

    return base.mapInPandas(build, schema)


_AUDIO_FEATURES_ORACLE = f"""
    WITH wav AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sample_rate,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
               CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bits,
               CAST({_WAV_LEN_SQL} AS INT) AS len,
               substr(repeat(sha256(text), 2), 1, CAST({_WAV_LEN_SQL} AS INT))
                   AS raster
        FROM documents
    ),
    samples AS (
        -- 8-bit: one unsigned byte per sample, centered (-128);
        -- 16-bit LE pairs of hex chars are always positive (< 32768)
        SELECT w.id,
               CASE WHEN w.bits = 8
                    THEN ascii(substr(w.raster, t.i + 1, 1)) - 128
                    ELSE ascii(substr(w.raster, t.i * 2 + 1, 1))
                         + 256 * ascii(substr(w.raster, t.i * 2 + 2, 1))
               END AS s
        FROM wav w, range(124) t(i)
        WHERE t.i < CASE WHEN w.bits = 8 THEN w.len ELSE w.len // 2 END
    ),
    agg AS (
        SELECT id,
               CAST(MAX(abs(s)) AS BIGINT) AS peak,
               CAST(SUM(s * s) AS BIGINT) AS sumsq,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM samples GROUP BY id
    )
    SELECT w.id, w.sample_rate, w.channels, w.bits,
           CAST(CASE WHEN w.bits = 8 THEN w.len
                     ELSE w.len // 4 END AS BIGINT) AS n_frames,
           CAST((CASE WHEN w.bits = 8 THEN w.len ELSE w.len // 4 END)
                * 1000 // w.sample_rate AS BIGINT) AS duration_ms,
           a.peak, a.sumsq,
           round(sqrt(CAST(a.sumsq AS DOUBLE) / a.n), 6) AS rms
    FROM wav w JOIN agg a ON w.id = a.id
    """


_AUDIO_FP_ORACLE = f"""
    WITH wav AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bits,
               CAST({_WAV_LEN2_SQL} AS INT) AS len,
               substr(repeat(sha256(text), 6), 1, CAST({_WAV_LEN2_SQL} AS INT))
                   AS raster
        FROM documents
    ),
    wavs AS (
        SELECT doc_id AS id, bits, len, raster FROM wav
        UNION ALL
        SELECT doc_id + 1000000, bits, len, 'z' || substr(raster, 2) FROM wav
    ),
    mono AS (
        -- mono sample stream: 8-bit = centered bytes; 16-bit stereo =
        -- floor-mean of the interleaved LE pair (both positive here)
        SELECT b.id,
               CASE WHEN b.bits = 8 THEN b.len ELSE b.len // 4 END AS n,
               t.i,
               CASE WHEN b.bits = 8
                    THEN ascii(substr(b.raster, t.i + 1, 1)) - 128
                    ELSE ((ascii(substr(b.raster, t.i * 4 + 1, 1))
                           + 256 * ascii(substr(b.raster, t.i * 4 + 2, 1)))
                        + (ascii(substr(b.raster, t.i * 4 + 3, 1))
                           + 256 * ascii(substr(b.raster, t.i * 4 + 4, 1)))) // 2
               END AS m
        FROM wavs b, range(384) t(i)
        WHERE t.i < CASE WHEN b.bits = 8 THEN b.len ELSE b.len // 4 END
    ),
    framed AS (
        -- frame f covers mono indices [f*n//64, (f+1)*n//64)
        SELECT mo.id, fr.f, mo.m
        FROM mono mo JOIN range(64) fr(f)
          ON fr.f * mo.n // 64 <= mo.i AND mo.i < (fr.f + 1) * mo.n // 64
    ),
    energy AS (
        SELECT g.id, g.f, COALESCE(SUM(fr.m * fr.m), 0) AS e
        FROM (SELECT b.id, frm.f FROM wavs b, range(64) frm(f)) g
        LEFT JOIN framed fr ON fr.id = g.id AND fr.f = g.f
        GROUP BY g.id, g.f
    ),
    sigs AS (
        SELECT a.id,
               CAST(SUM(CASE WHEN b.e > a.e
                             THEN (1::BIGINT << CAST(a.f AS INT))
                             ELSE 0 END) AS BIGINT) AS sig
        FROM energy a JOIN energy b ON a.id = b.id AND b.f = a.f + 1
        GROUP BY a.id
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= 4
    """


@workload(
    "q_dedup_audio_fp",
    oracle=_AUDIO_FP_ORACLE,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup via the energy-gradient fingerprint
    (operators/audio_dedup.py — decode WAV, floor-mean mono mix, 64
    equal frames, bit = energy gradient sign; 63 bits, all exact
    integer) + the shared pigeonhole chunk join at radius 4 — the third
    modality in the dedup matrix (text: 5 granularities; image:
    dHash/pHash; audio: this). Corpus = the longer-payload planted WAVs
    (gradient needs ≥64 mono samples; stereo consumes 4 bytes per) plus
    one near-dup mutant each (first payload byte flipped under id+10⁶ —
    a one-byte edit moves only the two gradient comparisons that see
    frame 0). The oracle rebuilds the whole fingerprint in SQL — mono
    mix, floor frame boundaries, energy sums, gradient bits — and
    certifies pairs with the plain all-pairs Hamming filter, the
    SimHash/dHash pattern."""
    from etl_demos_spark.operators.audio_dedup import audio_near_dup_pairs

    corpus = _planted_audio_corpus(
        spark, sf_dir, len_sql=_WAV_LEN2_SQL, mutants=True
    )
    return audio_near_dup_pairs(corpus, max_hamming=4)


@workload(
    "q_audio_features",
    oracle=_AUDIO_FEATURES_ORACLE,
    tags=("ext-multimodal",),
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode→featurize (operators/multimodal.py decode_wav +
    audio_features): real RIFF/WAVE PCM header parse (8-bit unsigned
    mono and 16-bit signed-LE stereo variants both planted), exact
    integer aggregates (peak, Σ sample²), integer-floor duration, one
    deterministic double at the edge (rms, sqrt-ulp-guarded by round —
    the image-features precedent). The oracle recomputes every sample
    from the planted definition via ascii(substr(...)), so the driver
    hash certifies the CODEC (chunk walk, fmt parse, sample decode) —
    the q_multimodal_decode pattern extended to the audio modality."""
    from etl_demos_spark.operators.multimodal import audio_features

    feats = audio_features(_planted_audio_corpus(spark, sf_dir))
    return feats.select(
        "id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("channels").cast("int").alias("channels"),
        F.col("bits").cast("int").alias("bits"),
        "n_frames",
        "duration_ms",
        "peak",
        "sumsq",
        "rms",
    )


# Planted AVI corpus: per doc, an avih header (frame period, frame
# count, dimensions derived from doc_id) + a movi LIST with
# total_frames '00dc' chunks whose payload lengths vary per frame
# (8 + (doc_id+i) % 5, zero-filled — frame PAYLOAD decode stays the
# declared codec boundary; the certified surface is the nested RIFF
# container walk itself).
def _planted_video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    d = T(spark, sf_dir, "documents").select("doc_id")
    schema = StructType(
        [StructField("id", LongType()), StructField("content", BinaryType())]
    )

    def build(batches):
        import pandas as pd

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                usec = 33333 + (doc_id % 5) * 1000
                frames = 4 + doc_id % 7
                w, h = 16 + doc_id % 9, 8
                avih = struct.pack(
                    "<14I", usec, 0, 0, 0, frames, 0, 1, 0, w, h, 0, 0, 0, 0
                )
                hdrl_body = b"hdrl" + chunk(b"avih", avih)
                movi_body = b"movi" + b"".join(
                    chunk(b"00dc", b"\x00" * (8 + (doc_id + i) % 5))
                    for i in range(frames)
                )
                payload = (
                    b"AVI "
                    + chunk(b"LIST", hdrl_body)
                    + chunk(b"LIST", movi_body)
                )
                ids.append(doc_id)
                blobs.append(b"RIFF" + struct.pack("<I", len(payload)) + payload)
            yield pd.DataFrame({"id": ids, "content": blobs})

    return d.mapInPandas(build, schema)


@workload(
    "q_video_meta",
    oracle="""
    WITH v AS (
        SELECT doc_id AS id,
               CAST(33333 + (doc_id % 5) * 1000 AS BIGINT) AS usec_per_frame,
               CAST(4 + doc_id % 7 AS BIGINT) AS total_frames,
               CAST(1 AS BIGINT) AS n_streams,
               CAST(16 + doc_id % 9 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height
        FROM documents
    ),
    fb AS (
        SELECT v.id, CAST(SUM(8 + (v.id + t.i) % 5) AS BIGINT) AS movi_bytes
        FROM v, range(10) t(i) WHERE t.i < v.total_frames GROUP BY v.id
    )
    SELECT v.id, v.usec_per_frame, v.total_frames, v.n_streams,
           v.width, v.height, v.total_frames AS movi_frames, fb.movi_bytes
    FROM v JOIN fb ON v.id = fb.id
    """,
    tags=("ext-multimodal",),
)
def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container metadata via a real nested RIFF walk
    (operators/multimodal.py decode_avi + video_meta): LIST hdrl →
    avih (frame period, count, dimensions, stream count) and LIST movi
    → per-frame chunk census with word-alignment handling — the parsed
    truth that frame_sample_plan previously took on faith as an
    n_frames column. Frame payloads stay the declared codec boundary;
    the oracle recomputes every planted header field and the
    variable-length movi byte census, so the driver hash certifies the
    container walk itself."""
    from etl_demos_spark.operators.multimodal import video_meta

    return video_meta(_planted_video_corpus(spark, sf_dir))


# Planted video-dedup corpus: per doc, an AVI whose 00db frames are
# complete P5 (grayscale netpbm) images — w = 4 + doc_id % 9, height 8,
# nf = 2 + doc_id % 3 frames, frame i's raster = chars [i*w*8,
# (i+1)*w*8) of repeat(sha256(text), 6) (384 chars = the 4-frame,
# w=12 maximum). Each doc reappears under id+10⁶ as a mutant:
# mode='perceptual' edits frame 0's first raster byte to 'z' for EVERY
# doc (a near-dup the Hamming join must find); mode='exact' plants a
# byte-identical copy for even doc_ids and the 'z' edit for odd ones
# (so the exact-fingerprint join has both positives and negatives).
# The builder is test scaffolding (same stance as
# _planted_video_corpus); the OPERATOR does the real container walk,
# frame decode and signature math the oracle replays char-by-char.
def _planted_video_dedup_corpus(
    spark: SparkSession, sf_dir: str, mode: str
) -> DataFrame:
    import struct

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    d = T(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "repeat(sha2(encode(text, 'UTF-8'), 256), 6) as slab",
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("content", BinaryType())]
    )

    def build(batches):
        import pandas as pd

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        def avi(frames):
            avih = struct.pack(
                "<14I", 33333, 0, 0, 0, len(frames), 0, 1, 0, 0, 0, 0, 0, 0, 0
            )
            payload = (
                b"AVI "
                + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
                + chunk(
                    b"LIST",
                    b"movi" + b"".join(chunk(b"00db", f) for f in frames),
                )
            )
            return b"RIFF" + struct.pack("<I", len(payload)) + payload

        for pdf in batches:
            ids, blobs = [], []
            for doc_id, slab in zip(pdf["doc_id"], pdf["slab"]):
                doc_id = int(doc_id)
                w, nf = 4 + doc_id % 9, 2 + doc_id % 3
                hdr = f"P5\n{w} 8\n255\n".encode()
                rasters = [
                    slab[i * w * 8 : (i + 1) * w * 8].encode()
                    for i in range(nf)
                ]
                frames = [hdr + r for r in rasters]
                if mode == "perceptual" or doc_id % 2 == 1:
                    mut0 = hdr + b"z" + rasters[0][1:]
                else:  # exact mode, even doc: byte-identical copy
                    mut0 = frames[0]
                ids += [doc_id, doc_id + 1000000]
                blobs += [avi(frames), avi([mut0] + frames[1:])]
            yield pd.DataFrame({"id": ids, "content": blobs})

    return d.mapInPandas(build, schema)


# Shared oracle scaffolding: rebuild every (video, frame) raster —
# originals + mutants — from the planted definition. ``mut_frame0``
# is the mutant's frame-0 raster expression in terms of r0 (the
# original frame-0 raster).
def _video_frames_duck(mut_frame0: str) -> str:
    return f"""
    vid AS (
        SELECT doc_id,
               CAST(4 + doc_id % 9 AS INT) AS w,
               CAST(2 + doc_id % 3 AS INT) AS nf,
               repeat(sha256(text), 6) AS slab
        FROM documents
    ),
    vf0 AS (
        SELECT doc_id, w, nf, f.i AS frame_idx,
               substr(slab, f.i * w * 8 + 1, w * 8) AS raster
        FROM vid, range(4) f(i) WHERE f.i < nf
    ),
    vf AS (
        SELECT doc_id AS id, w, nf, frame_idx, raster FROM vf0
        UNION ALL
        SELECT doc_id + 1000000, w, nf, frame_idx,
               CASE WHEN frame_idx = 0 THEN {mut_frame0}
                    ELSE raster END
        FROM vf0 r0
    )"""


# Per-frame dHash chain + aligned-frame Hamming matches over the
# planted video corpus — shared by the pairs oracle
# (q_dedup_video_dhash) and the e2e keep-one oracle
# (q_dedup_video_e2e) so the per-frame signature rule cannot fork.
_VIDEO_DHASH_FM_CTE = f"""{_video_frames_duck("'z' || substr(r0.raster, 2)")},
    grid AS (
        SELECT v.id, v.frame_idx, t1.r, t2.c,
               ascii(substr(v.raster,
                            (t1.r * v.w + (t2.c * v.w) // 9) + 1, 1)) AS g
        FROM vf v, range(8) t1(r), range(9) t2(c)
    ),
    bits AS (
        SELECT a.id, a.frame_idx, a.r, a.c,
               CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
        FROM grid a JOIN grid b
          ON a.id = b.id AND a.frame_idx = b.frame_idx
         AND a.r = b.r AND b.c = a.c + 1
        WHERE a.c < 8
    ),
    sigs AS (
        SELECT id, frame_idx,
               CAST(SUM(CASE WHEN bit = 1 AND r * 8 + c < 63
                             THEN (1::BIGINT << CAST(r * 8 + c AS INT))
                             ELSE 0 END) AS BIGINT)
               + CASE WHEN MAX(CASE WHEN r * 8 + c = 63
                                    THEN bit ELSE 0 END) = 1
                      THEN (-9223372036854775807 - 1)::BIGINT
                      ELSE 0::BIGINT END AS sig
        FROM bits GROUP BY id, frame_idx
    ),
    vmeta AS (SELECT DISTINCT id, nf FROM vf),
    fm AS (
        SELECT a.id AS id_a, b.id AS id_b, a.frame_idx,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS h
        FROM sigs a JOIN sigs b
          ON a.id < b.id AND a.frame_idx = b.frame_idx
        WHERE bit_count(xor(a.sig, b.sig)) <= 4
    )"""


@workload(
    "q_dedup_video_dhash",
    oracle=f"""
    WITH {_VIDEO_DHASH_FM_CTE}
    SELECT fm.id_a, fm.id_b, CAST(ma.nf AS INT) AS n_frames,
           CAST(SUM(fm.h) AS INT) AS total_hamming
    FROM fm
    JOIN vmeta ma ON fm.id_a = ma.id
    JOIN vmeta mb ON fm.id_b = mb.id AND mb.nf = ma.nf
    GROUP BY fm.id_a, fm.id_b, ma.nf
    HAVING COUNT(*) = ma.nf
    """,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_video_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video near-dup pairs (operators/video_dedup.py):
    real AVI container walk → per-frame netpbm decode → per-frame
    dHash-64 → frame-aligned pigeonhole chunk join → all-frames-within-
    radius gate. Candidates are banded per (frame_idx, chunk, val) —
    never all-pairs — and the full-coverage chunking keeps recall 1
    within the ball, so the oracle is the plain all-pairs replay: it
    rebuilds every frame raster char-by-char, recomputes each dHash in
    SQL, and re-derives exactly the same-frame-count,
    every-aligned-frame ≤ 4 bit pairs. Closes the dedup matrix's video
    row (VERDICT r10 rec 6)."""
    from etl_demos_spark.operators.video_dedup import video_near_dup_pairs

    return video_near_dup_pairs(
        _planted_video_dedup_corpus(spark, sf_dir, "perceptual"),
        "dhash",
        max_hamming=4,
    )


# Container fingerprints over the exact-mode planted corpus (even docs
# get byte-identical mutants, odd docs perturbed ones) — shared by the
# exact-pairs oracle and the incremental replay oracle so the
# fingerprint rule cannot fork.
_VIDEO_FPS_CTE = f"""{_video_frames_duck(
        "CASE WHEN r0.doc_id % 2 = 1 THEN 'z' || substr(r0.raster, 2) "
        "ELSE r0.raster END"
    )},
    payloads AS (
        SELECT id, nf, frame_idx,
               concat('P5', chr(10), CAST(w AS VARCHAR), ' 8', chr(10),
                      '255', chr(10), raster) AS payload
        FROM vf
    ),
    fps AS (
        SELECT id, nf,
               sha256(string_agg(sha256(payload), '' ORDER BY frame_idx))
                   AS fp
        FROM payloads GROUP BY id, nf
    )"""


@workload(
    "q_dedup_video_exact",
    oracle=f"""
    WITH {_VIDEO_FPS_CTE}
    SELECT a.id AS id_a, b.id AS id_b, CAST(a.nf AS INT) AS n_frames
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
    """,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_video_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact container-level video dup pairs — the opaque-codec
    fallback of the video dedup family (frame payloads that the image
    codecs can't decode are signed by SHA-256; the video fingerprint is
    the SHA-256 of the ordered frame-digest concatenation, so frame
    ORDER is part of the identity). The planted corpus copies each even
    doc's container byte-for-byte (a true dup) and perturbs frame 0 of
    each odd doc's copy (a near-dup the EXACT join must NOT pair); the
    oracle replays both fingerprint layers in SQL."""
    from etl_demos_spark.operators.video_dedup import video_exact_dup_pairs

    return video_exact_dup_pairs(
        _planted_video_dedup_corpus(spark, sf_dir, "exact")
    )


@workload(
    "q_dedup_video_e2e",
    oracle=f"""
    WITH RECURSIVE {_VIDEO_DHASH_FM_CTE},
    vpairs AS (
        SELECT fm.id_a, fm.id_b
        FROM fm
        JOIN vmeta ma ON fm.id_a = ma.id
        JOIN vmeta mb ON fm.id_b = mb.id AND mb.nf = ma.nf
        GROUP BY fm.id_a, fm.id_b, ma.nf
        HAVING COUNT(*) = ma.nf
    ),
    edges AS (SELECT id_a, id_b FROM vpairs),
    {_CC_SQL}
    SELECT id FROM vmeta WHERE id NOT IN (SELECT node FROM losers)
    """,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_video_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END perceptual video dedup certification
    (operators/video_dedup.py dedup_videos): planted corpus →
    per-frame dHash → frame-aligned pigeonhole pairs → connected
    components → min-id survivor per cluster — the survivor-SELECTION
    step that pairwise certification (q_dedup_video_dhash) can't see
    (the q_dedup_image_e2e / q_dedup_text_e2e precedent, now at the
    video granularity). The oracle replays the whole pipeline: shared
    per-frame signature chain (_VIDEO_DHASH_FM_CTE — literally the
    same CTEs as the pairs oracle, so the rules cannot fork), the
    all-frames-aligned pair gate, and the recursive reachability
    closure (_CC_SQL)."""
    from etl_demos_spark.operators.video_dedup import dedup_videos

    return dedup_videos(
        _planted_video_dedup_corpus(spark, sf_dir, "perceptual"),
        "dhash",
        max_hamming=4,
    ).select("id")


@workload(
    "q_dedup_video_incremental",
    oracle=f"""
    WITH {_VIDEO_FPS_CTE}
    SELECT id FROM (
        SELECT id,
               row_number() OVER (PARTITION BY fp ORDER BY id % 3, id) AS rn
        FROM fps
    ) WHERE rn = 1
    """,
    tags=("ext-multimodal", "ext-dedup"),
)
def q_dedup_video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental video dedup replay certification
    (operators/video_dedup.py incremental_video_dedup): the exact-mode
    planted corpus split into three increments (id % 3, processed in
    order), each batch fingerprinted once and probed against the
    persisted store — prior payloads are never re-walked, only
    64-hex-char fingerprints ship. Exact fingerprint equality is
    transitive, so the sequential replay must equal one global
    first-seen-wins pass — which the oracle states directly: the
    winner per fingerprint is the member first in PROCESSING order
    (ORDER BY id % 3, id) — and since mutant ids sit at +10⁶ ≡ +1
    (mod 3), a doc with id % 3 = 2 is OUTLIVED by its own copy (the
    copy's increment processes first), so the certified winner set is
    not simply min-id: the driver hash pins the order-dependence of
    first-seen-wins itself (the q_dedup_image_incremental pattern at
    the container granularity)."""
    from etl_demos_spark.operators.matutil import materialize_reused
    from etl_demos_spark.operators.video_dedup import incremental_video_dedup

    corpus = _planted_video_dedup_corpus(spark, sf_dir, "exact")
    store = None
    kept_frames = []
    for m in range(3):
        inc = corpus.filter(F.col("id") % 3 == m)
        kept, store = incremental_video_dedup(inc, store)
        # the kept frame feeds the final union and (via the store) the
        # next increment's probe — freeze both so increment m+1 never
        # recomputes increment m's pipeline
        kept = materialize_reused(kept)
        store = materialize_reused(store)
        kept_frames.append(kept)
    out = kept_frames[0]
    for f in kept_frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# Event-time windows (streaming surface, batch-checkable analogs)
# ---------------------------------------------------------------------------


@workload(
    "q_event_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS decimal(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext-stream",),
)
def q_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows via native F.window — the identical
    transformation runs under readStream with a watermark
    (streaming.windows.stream_tumbling_counts)."""
    ev = T(spark, sf_dir, "events")
    out = win.tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ("event_type",),
        (
            F.count(F.lit(1)).alias("n_events"),
            money_sum(money("value")).alias("total_value"),
        ),
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@workload(
    "q_event_response",
    oracle="""
    SELECT a.user_id,
           strftime(a.a_ts, '%Y-%m-%d %H:%M:%S.%f') AS a_ts,
           strftime(min(b.b_ts), '%Y-%m-%d %H:%M:%S.%f') AS b_ts
    FROM (SELECT user_id, make_timestamp(epoch_us(ts)) AS a_ts
          FROM events WHERE event_type = 'view') a
    JOIN (SELECT user_id, make_timestamp(epoch_us(ts)) AS b_ts
          FROM events WHERE event_type = 'purchase') b
      USING (user_id)
    WHERE b.b_ts > a.a_ts AND b.b_ts <= a.a_ts + INTERVAL 2 HOUR
    GROUP BY 1, a.a_ts
    """,
    tags=("ext-stream",),
)
def q_event_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal pattern join — "view followed by purchase within 2h",
    one row per matched view with its FIRST qualifying purchase
    (asof.first_response_join). The conversion-latency primitive the
    first-occurrence funnel can't express; the same semantics run
    incrementally per key under Structured Streaming
    (streaming.stateful.stream_first_response, equality-tested against
    this batch form). Timestamps surface with microsecond precision —
    the events table carries sub-second values and a seconds-truncated
    format would collide distinct views into one group."""
    from etl_demos_spark.operators.asof import first_response_join

    ev = T(spark, sf_dir, "events")
    out = first_response_join(
        ev, ("user_id",), "ts", "event_type", "view", "purchase", "2 hours"
    )
    return out.select(
        "user_id",
        F.date_format("a_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("a_ts"),
        F.date_format("b_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("b_ts"),
    )


@workload(
    "q_event_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                    - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    GROUP BY 1, 2
    """,
    tags=("ext-stream",),
)
def q_event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h width, 30m slide): every event lands in exactly
    two windows; the oracle spells that out with the bucket arithmetic."""
    ev = T(spark, sf_dir, "events")
    out = win.sliding_agg(
        ev, "ts", "1 hour", "30 minutes", ("event_type",),
        (F.count(F.lit(1)).alias("n_events"),),
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


@workload(
    "q_event_sessions",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN ts > lag(ts) OVER w + INTERVAL '30 minutes' THEN 1
                    ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS start_us,
           epoch_us(MAX(ts)) AS end_us
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    tags=("ext-stream",),
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap), batch formulation (lag → cumsum) —
    ANSI-expressible, hence oracle-checked; the native session_window
    streaming form is equivalence-tested in tests/test_streaming.py."""
    ev = T(spark, sf_dir, "events")
    agg = win.session_agg_batch(ev, "ts", "user_id", "30 minutes")
    return agg.select(
        "user_id",
        "session_seq",
        "n_events",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )


# ---------------------------------------------------------------------------
# Misc relational ops the reference lacks but the engine exposes
# ---------------------------------------------------------------------------



_ATTRIBUTION_ORACLE = """
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type IN ('click', 'view', 'signup')
                    THEN event_type END AS touch,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,2)) END AS rev
        FROM events
    ), carried AS (
        SELECT user_id, rev,
               first_value(touch IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_touch,
               last_value(touch IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_touch
        FROM ev
    ), purch AS (
        SELECT coalesce(first_touch, 'none') AS first_touch,
               coalesce(last_touch, 'none') AS last_touch,
               rev
        FROM carried WHERE rev IS NOT NULL
    )
    SELECT role, touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM (
        SELECT 'first' AS role, first_touch AS touch, rev FROM purch
        UNION ALL
        SELECT 'last' AS role, last_touch AS touch, rev FROM purch
    )
    GROUP BY role, touch
"""


@workload("q_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("ext-events",))
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution in ONE window pass
    (the union-and-carry as-of discipline of operators/asof.py, applied
    to marketing attribution): touches (click/view/signup) and
    purchases interleave per user ordered by (ts, event_id); first/last
    ignorenulls carries attribute every purchase without any join —
    at 100 TB this is one user-keyed shuffle, versus the naive
    purchase×touch range join. Revenue sums are DECIMAL(18,2)-exact
    (order-independent), cast to double only at output (money_sum
    convention); purchases before any touch attribute to 'none'."""
    e = T(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"),
        F.col("event_type"),
    )
    rev = F.when(
        F.col("event_type") == "purchase",
        F.col("value").cast("decimal(18,2)"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = e.select(
        "user_id",
        rev.alias("rev"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).filter(F.col("rev").isNotNull())
    purch = carried.select(
        F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        "rev",
    )
    roles = purch.select(
        F.lit("first").alias("role"), F.col("first_touch").alias("touch"), "rev"
    ).unionByName(
        purch.select(
            F.lit("last").alias("role"), F.col("last_touch").alias("touch"), "rev"
        )
    )
    return roles.groupBy("role", "touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("rev").cast("double").alias("revenue"),
    )


@workload(
    "q_topk",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(CAST(o_totalprice AS decimal(12,2)) AS DOUBLE) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("ext-rel",),
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (TakeOrderedAndProject — no full
    sort at scale)."""
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            money("o_totalprice").cast("double").alias("total_price"),
        )
    )


@workload(
    "q_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("ext-rel",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expand+two-phase agg under the hood);
    approx_count_distinct is the scale alternative (rows-only twin below)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@workload("q_approx_distinct", oracle=None, tags=("ext-rel",))
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type — the
    fixed-memory path for 100 TB cardinality estimation (no exact twin:
    HLL sketches differ across engines by construction)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("n_users_approx")
    )


@workload(
    "q_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum
    FROM events
    GROUP BY k_mod
    """,
    tags=("ext-rel",),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the events props JSON column."""
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select((k % 10).alias("k_mod"), k.alias("k")).groupBy("k_mod").agg(
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum")
    )


@workload(
    "q_variant_shred",
    oracle="""
    SELECT o_orderpriority AS tag0,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt_sum,
           CAST(0 AS BIGINT) AS n_bad_coerce
    FROM orders
    GROUP BY 1
    """,
    tags=("ext-semistructured",),
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT round-trip: orders rows encode to nested JSON →
    ``parse_json`` into the binary VARIANT type → typed path extraction
    (nested object, array subscript, decimal coercion) → shred back to
    columns and aggregate. The oracle aggregates the RAW columns, so
    the driver hash certifies the entire encode→parse→extract loop is
    LOSSLESS — ids, decimal amounts, array elements all survive. The
    ``try_variant_get`` mis-coercion column (a date string asked for as
    bigint) must be NULL on every row — counted and certified 0. At
    scale VARIANT is the semi-structured ingest path: binary shredded
    storage, no per-query JSON re-parse, pushdown-friendly typed
    extraction."""
    o = T(spark, sf_dir, "orders")
    payload = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_orderdate").cast("string").alias("d"),
                F.col("o_totalprice").alias("amt"),
            ).alias("meta"),
            F.array(
                F.col("o_orderpriority"), F.col("o_orderstatus")
            ).alias("tags"),
        )
    )
    v = o.select(F.parse_json(payload).alias("v"))
    shredded = v.select(
        F.variant_get("v", "$.id", "bigint").alias("id"),
        F.variant_get("v", "$.meta.amt", "decimal(18,2)").alias("amt"),
        F.variant_get("v", "$.tags[0]", "string").alias("tag0"),
        F.try_variant_get("v", "$.meta.d", "bigint").alias("bad"),
    )
    return shredded.groupBy("tag0").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("id").cast("long").alias("id_sum"),
        F.sum("amt").cast("double").alias("amt_sum"),
        F.sum(F.col("bad").isNotNull().cast("long")).cast("long").alias(
            "n_bad_coerce"
        ),
    )


@workload(
    "q_age_band",
    oracle="""
    SELECT (1998 - year(o_orderdate)) AS order_age,
           CASE WHEN (1998 - year(o_orderdate)) <= 1 THEN 'recent'
                WHEN (1998 - year(o_orderdate)) <= 4 THEN 'mid'
                ELSE 'old' END AS age_band,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("F2", "F3"),
)
def q_age_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: BigQuery date_diff(..., year) = calendar-year subtraction
    (dim_customer.sql:22-24), banded — against a fixed reference date so
    the oracle is reproducible."""
    o = T(spark, sf_dir, "orders")
    age = year_diff(F.lit("1998-06-30").cast("date"), "o_orderdate")
    band = (
        F.when(age <= 1, "recent").when(age <= 4, "mid").otherwise("old")
    )
    return (
        o.select(age.alias("order_age"), band.alias("age_band"))
        .groupBy("order_age", "age_band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Sources / sinks / pipeline utilities (§2.1 S1-S6, incremental, skew)
# ---------------------------------------------------------------------------

_SCRATCH = "/root/repo/.scratch"


@workload(
    "q_csv_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           COUNT(DISTINCT n_regionkey) AS n_regions
    FROM nation
    """,
    tags=("S1", "S2", "S4"),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4: CSV sink + scan round-trip (load_raw_to_bq.py:33-78 semantics:
    header, inferred schema, truncate-on-write) — parquet → csv → read back
    with inference → aggregate; the oracle sees the original table, so the
    round-trip must be lossless."""
    n = T(spark, sf_dir, "nation")
    # fixed per-sf path, overwritten each run (bounded scratch growth)
    path = f"{_SCRATCH}/csv_roundtrip_{sf_dir.strip('/').split('/')[-1]}"
    n.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.countDistinct("n_regionkey").alias("n_regions"),
    )


@workload(
    "q_pyds_scan",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("S3", "S5"),
)
def q_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API (sources/pyds.py): the customer
    table read through the registered ``arrow_parquet`` source — one
    InputPartition per parquet row group, Arrow RecordBatches end to
    end — then aggregated. The oracle reads the same file natively, so
    the driver hash certifies the custom-source machinery is LOSSLESS
    (schema, values, decimals). This is the idiomatic Spark-4 port of
    the reference's hand-rolled Python ingest
    (include/auto_data_adapter.py:16-172, exampledag.py:49-75): driver
    plans partitions from metadata, executors fetch pages/row-groups in
    parallel; swap the pyarrow call for any in-house format or paged
    API and the scale shape is unchanged."""
    from etl_demos_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    c = (
        spark.read.format("arrow_parquet")
        .option("path", f"{sf_dir}/customer.parquet")
        .load()
    )
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_sum"),
    )


@workload(
    "q_rest_json",
    oracle="""
    SELECT * FROM (VALUES
        ('ISS', 'Nikolai Chub'),
        ('ISS', 'Oleg Kononenko'),
        ('ISS', 'Tracy Caldwell Dyson')
    ) t(craft, name)
    """,
    tags=("S5",),
)
def q_rest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: REST/JSON source (exampledag.py:49-75). No network in this
    environment → the reference's own hardcoded-fallback path (:60-66) is
    exercised: payload list → createDataFrame → standard projection."""
    fallback = [
        {"craft": "ISS", "name": "Oleg Kononenko"},
        {"craft": "ISS", "name": "Nikolai Chub"},
        {"craft": "ISS", "name": "Tracy Caldwell Dyson"},
    ]
    df = spark.createDataFrame(fallback)
    return df.select("craft", "name").orderBy("name")


@workload(
    "q_schema_report",
    oracle="""
    SELECT 'customer' AS table_name, COUNT(*) AS n_rows, 5 AS n_cols FROM customer
    UNION ALL
    SELECT 'documents', COUNT(*), 5 FROM documents
    UNION ALL
    SELECT 'lineitem', COUNT(*), 11 FROM lineitem
    """,
    tags=("S6",),
)
def q_schema_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: schema sniff + row/col report (auto_data_adapter.py:60,187-203).
    Spark computes n_cols from the actual schema; the oracle pins the
    expected values."""
    rows = []
    for t in ("customer", "documents", "lineitem"):
        df = T(spark, sf_dir, t)
        rows.append((t, df.count(), len(df.columns)))
    return spark.createDataFrame(rows, "table_name string, n_rows long, n_cols int")


@workload(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag AS return_flag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS decimal(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext-skew",),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators.skew.salted_sum) must be
    value-identical to the plain groupBy the oracle runs — decimal sums
    make the salted partial/final split exact."""
    from etl_demos_spark.operators.skew import salted_sum

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("return_flag"), money("l_quantity").alias("qty")
    )
    out = salted_sum(li, ["return_flag"], {"sum_qty": F.sum("qty")}, buckets=16)
    return out.select(
        "return_flag", "n_rows", F.col("sum_qty").cast("double").alias("sum_qty")
    )


@workload(
    "q_incremental_merge",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0
                              THEN o_totalprice + 1000
                              ELSE o_totalprice END AS decimal(12,2)))
                AS DOUBLE) AS total_value
    FROM orders
    """,
    tags=("ext-incremental",),
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental key-merge upsert (plans.incremental.merge_upsert): write
    the base table, upsert a modified subset (+1000 on every 5th key), and
    verify the merged state against the closed-form oracle."""
    import shutil

    from etl_demos_spark.plans.incremental import merge_upsert

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", money("o_totalprice").alias("price")
    )
    path = f"{_SCRATCH}/inc_merge_{sf_dir.strip('/').split('/')[-1]}"
    shutil.rmtree(path, ignore_errors=True)
    merge_upsert(spark, o, path, ["o_orderkey"])
    updates = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "price", (F.col("price") + F.lit(1000)).cast("decimal(12,2)")
    )
    merged = merge_upsert(spark, updates, path, ["o_orderkey"])
    base = T(spark, sf_dir, "orders").select("o_orderkey")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0)).alias("n_updated"),
        F.sum("price").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Relational surface beyond the reference (SURVEY §2.3/§2.4/§2.5/§2.6 notes:
# joins beyond left-equi, grouping sets, set ops, analytic windows — Spark
# built-ins the engine exposes as first-class operators)
# ---------------------------------------------------------------------------


@workload(
    "q_semi_anti_join",
    oracle="""
    SELECT
        (SELECT COUNT(*) FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
            AS n_with_orders,
        (SELECT COUNT(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
            AS n_without_orders
    """,
    tags=("ext-rel",),
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi and left-anti joins (EXISTS / NOT EXISTS) — customers with
    and without orders; the two counts must partition the customer table."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").count()
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").count()
    return spark.createDataFrame(
        [(semi, anti)], "n_with_orders long, n_without_orders long"
    )


@workload(
    "q_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2))) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("ext-rel",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grouping sets (rollup) with NULL-marker normalization
    so the subtotal rows compare across engines."""
    o = T(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(money("o_totalprice")).alias("total_value"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_value",
        )
    )


@workload(
    "q_set_ops",
    oracle="""
    SELECT 'both' AS which, COUNT(*) AS n FROM (
        SELECT c_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only', COUNT(*) FROM (
        SELECT c_nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'union_distinct', COUNT(*) FROM (
        SELECT c_nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier)
    """,
    tags=("ext-rel",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT over nation keys."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    rows = [
        ("both", c.intersect(s).count()),
        ("customer_only", c.subtract(s).count()),  # EXCEPT (distinct)
        ("union_distinct", c.union(s).distinct().count()),
    ]
    return spark.createDataFrame(rows, "which string, n long")


@workload(
    "q_window_analytics",
    oracle="""
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           ROW_NUMBER() OVER w AS order_seq,
           RANK() OVER (PARTITION BY o_custkey
                        ORDER BY CAST(o_totalprice AS decimal(12,2)) DESC,
                                 o_orderkey) AS price_rank,
           strftime(lag(o_orderdate) OVER w, '%Y-%m-%d') AS prev_orderdate,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS moving_spend_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("ext-rel", "W-extra"),
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows beyond the reference's row_number: rank, lag,
    running and moving frame aggregates — decimal-exact frames so the
    running sums hash identically."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = money("o_totalprice")
    wrank = Window.partitionBy("o_custkey").orderBy(price.desc(), F.col("o_orderkey"))
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.rank().over(wrank).cast("long").alias("price_rank"),
        F.date_format(F.lag("o_orderdate").over(w), "yyyy-MM-dd").alias("prev_orderdate"),
        F.sum(price).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double").alias("running_spend"),
        F.sum(price).over(w.rowsBetween(-2, 0)).cast("double").alias("moving_spend_3"),
    )


@workload(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("ext-rel",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation) — the general form of the
    reference's A3 conditional sums, via the native pivot operator with
    pinned pivot values (no extra discovery pass over the data)."""
    o = T(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


_IVF_ORACLE = """
    WITH e2 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, v AS cv FROM e2 WHERE vec_id < 8
    ),
    dist AS (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, e.v)
                            - 2 * list_dot_product(e.v, c.cv)
                            + list_dot_product(c.cv, c.cv),
                            c.cid
               ) AS rnk
        FROM e2 e CROSS JOIN cents c
    ),
    corpus AS (
        SELECT vec_id, v, cid AS cell FROM dist WHERE rnk = 1
    ),
    qcells AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell
        FROM dist WHERE vec_id < 5 AND rnk <= 4
    ),
    scored AS (
        SELECT q.query_id, c.vec_id,
               list_cosine_similarity(c.v, q.qv) AS cs
        FROM corpus c JOIN qcells q ON c.cell = q.cell
    ),
    ranked AS (
        SELECT query_id, vec_id, cs,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, vec_id) AS rn
        FROM scored
    )
    SELECT query_id, vec_id, round(cs, 6) AS cos_sim
    FROM ranked WHERE rn <= 10
    """


@workload("q_ann_ivf", oracle=_IVF_ORACLE, tags=("ext-sim",))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, nprobe=4 of 8 cells scored — the
    partition-pruning ANN path. The coarse quantizer is sample-seeded
    from the data itself (the embeddings of vec_id < 8; an 8-row bounded
    driver fetch, the same contract as the centroid fit), which makes
    the whole assign→probe→score pipeline deterministic and
    hash-certified against a DuckDB twin — nearest-cell assignment
    tiebreaks to the lowest centroid index in both engines. The trained
    (sampled-k-means, ivf_build_centroids) quantizer variant remains
    recall-tested in tests/test_similarity.py; k-means training itself
    is driver-checked via q_kmeans_assign/q_kmeans."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = [
        [float(x) for x in r[0]]
        for r in e.filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    topk = similarity.ivf_topk(e, q, cents, k=10, nprobe=4)
    return topk.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    )


@workload(
    "q_extract_parts",
    oracle="""
    SELECT DISTINCT
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(year(o_orderdate) AS BIGINT) AS year,
           CAST(quarter(o_orderdate) AS BIGINT) AS quarter,
           CAST(month(o_orderdate) AS BIGINT) AS month,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS day_of_week,
           dayofweek(o_orderdate) IN (0, 6) AS is_weekend
    FROM orders
    """,
    tags=("F5", "F6"),
)
def q_extract_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6: extract(year/quarter/month/dayofweek) + weekend flag over
    real data dates (dim_date.sql:11-16); week numbering is covered by
    q_date_spine's bq_week."""
    from etl_demos_spark.functions.bqcompat import weekend_flag
    from etl_demos_spark.workload import iso_date

    o = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        iso_date(d).alias("order_date"),
        F.year(d).cast("long").alias("year"),
        F.quarter(d).cast("long").alias("quarter"),
        F.month(d).cast("long").alias("month"),
        F.dayofweek(d).cast("long").alias("day_of_week"),
        weekend_flag(d).alias("is_weekend"),
    ).distinct()


@workload(
    "q_asof_join",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts, event_type
        FROM events
    )
    SELECT c.event_id AS click_id,
           c.user_id AS user_id,
           v.event_id AS view_id,
           CASE WHEN v.ts IS NULL THEN NULL
                ELSE epoch_us(c.ts) - epoch_us(v.ts) END AS lag_us
    FROM (SELECT * FROM ev WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    tags=("ext-asof",),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): each click matched to the
    user's most recent view at-or-before it — one keyed shuffle via the
    union-and-carry formulation; the oracle is DuckDB's native ASOF JOIN.
    """
    from etl_demos_spark.operators.asof import asof_join_backward

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    views = ev.filter(F.col("event_type") == "view").drop("event_type")
    out = asof_join_backward(clicks, views, on=["user_id"], ts_col="ts", carry=["event_id"])
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("event_id_asof").alias("view_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_asof").cast("timestamp"))
        ).alias("lag_us"),
    )


@workload(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)
               AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.8
    """,
    tags=("ext-dedup", "ext-sim"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact, via blocked GEMM
    (operators/embedding_dedup.py) — numpy matmul per Arrow batch against
    the broadcast corpus matrix; oracle is DuckDB's pairwise cross join.
    Threshold 0.8 keeps the oracle's n^2 scan honest while the testdata's
    random embeddings still yield matches."""
    from etl_demos_spark.operators.embedding_dedup import cosine_pairs_gemm

    e = T(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_gemm(e, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@workload(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag AS return_flag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext-rel", "A-extra"),
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev, Pearson correlation, exact
    interpolated median (Spark `percentile` == DuckDB `quantile_cont`).
    Both engines use numerically-stable merge formulas; outputs are
    rounded well above the accumulated-ulp noise floor (~1e-11) so the
    hash is partition-order-proof."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
    )


@workload(
    "q_winnow_fingerprint",
    oracle="""
    WITH norm AS (
        SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN length(t) >= 7 THEN
                   list_transform(range(1, length(t) - 5),
                                  i -> md5(substring(t, i, 7)))
               ELSE [] END AS hs
        FROM norm
    ), winnowed AS (
        SELECT doc_id, hs,
               CASE WHEN len(hs) >= 8 THEN
                   list_distinct(list_transform(range(1, len(hs) - 6),
                                 i -> list_aggregate(hs[i:i+7], 'min')))
               ELSE [] END AS fps
        FROM grams
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints
    FROM winnowed
    """,
    tags=("ext-text", "ext-dedup"),
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (SIGMOD'03): per-doc selected
    k-gram minima — the plagiarism/near-dup fingerprint that localizes
    matches (unlike whole-doc md5). Selection is fully deterministic, so
    the md5-hex gram variant gets an exact DuckDB twin (sliding-window
    lexicographic minima match across engines); the xxhash64 form
    (char_ngram_hashes) stays the cheaper scale path, property-tested in
    tests/test_text_extra.py. Normalization is projected once before the
    per-gram pass (two-projection shingling; see operators/dedup.py)."""
    d = T(spark, sf_dir, "documents")
    norm = d.select("doc_id", text.normalize_text("text").alias("t"))
    grams = norm.select("doc_id", text.md5_gram_hashes(F.col("t"), 7).alias("hs"))
    return grams.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_grams"),
        F.size(text.winnow_fingerprints(F.col("hs"), 8)).cast("long").alias("n_fingerprints"),
    )


@workload(
    "q_top_terms",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    counted AS (
        SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, tok, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        FROM counted
    )
    SELECT lang, tok, n, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= 5
    """,
    tags=("ext-text",),
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: top-5 terms per language — explode tokens,
    count, windowed top-k (WindowGroupLimit keeps it from materializing
    full per-language rankings)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode_outer(text_tokenize("text")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    counted = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


# ---------------------------------------------------------------------------
# Scalar-function families (string / date / null-handling) — the everyday
# surface a reference user expects from any engine
# ---------------------------------------------------------------------------


@workload(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey AS custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS segment_lower,
           concat_ws('|', c_name, c_mktsegment) AS joined,
           substring(c_name, 1, 8) AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           replace(c_name, '#', '-') AS name_dashed,
           CAST(length(c_name) AS BIGINT) AS name_len,
           contains(c_mktsegment, 'AUTO') AS is_auto
    FROM customer
    """,
    tags=("ext-func",),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family: upper/lower/concat_ws/substring/lpad/
    replace/length/contains — all codegen'd built-ins with identical
    semantics in DuckDB."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.length("c_name").cast("long").alias("name_len"),
        F.contains(F.col("c_mktsegment"), F.lit("AUTO")).alias("is_auto"),
    )


@workload(
    "q_date_arithmetic",
    oracle="""
    SELECT o_orderkey AS orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d')
               AS due_date,
           strftime(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY, '%Y-%m-%d')
               AS week_before,
           datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
               AS days_to_ref,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_start
    FROM orders
    """,
    tags=("ext-func", "F3"),
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family: date_add/date_sub/datediff/last_day/trunc
    (F3's date_add among them), ISO-string outputs per the parity
    conventions."""
    from etl_demos_spark.workload import iso_date

    o = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        iso_date(F.date_add(d, 30)).alias("due_date"),
        iso_date(F.date_sub(d, 7)).alias("week_before"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias("days_to_ref"),
        iso_date(F.last_day(d)).alias("month_end"),
        iso_date(F.trunc(d, "month")).alias("month_start"),
    )


@workload(
    "q_null_funcs",
    oracle="""
    SELECT o_orderkey AS orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_display,
           CASE WHEN o_totalprice > 300000 THEN NULL
                ELSE CAST(CAST(o_totalprice AS decimal(12,2)) AS DOUBLE)
           END AS capped_price,
           ifnull(CASE WHEN o_totalprice > 300000 THEN NULL
                       ELSE CAST(CAST(o_totalprice AS decimal(12,2)) AS DOUBLE)
                  END, -1.0) AS capped_or_default
    FROM orders
    """,
    tags=("ext-func",),
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: nullif/coalesce/ifnull over a derived
    nullable column."""
    o = T(spark, sf_dir, "orders")
    capped = F.when(
        F.col("o_totalprice") > 300000, F.lit(None)
    ).otherwise(money("o_totalprice").cast("double"))
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_display"
        ),
        capped.alias("capped_price"),
        F.ifnull(capped, F.lit(-1.0)).alias("capped_or_default"),
    )


# ---------------------------------------------------------------------------
# Analytical query shapes (TPC-H-style) — multi-join + agg + top-k plans
# ---------------------------------------------------------------------------


@workload(
    "q_top_unshipped",
    oracle="""
    SELECT l_orderkey AS orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(CAST(l_extendedprice AS decimal(12,2))
                    * CAST(1 - l_discount AS decimal(4,2)) AS decimal(16,4)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY SUM(CAST(CAST(l_extendedprice AS decimal(12,2))
                 * CAST(1 - l_discount AS decimal(4,2)) AS decimal(16,4))) DESC,
             l_orderkey
    LIMIT 10
    """,
    tags=("ext-analytics",),
)
def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: orders placed before a date with lines shipped after
    it, ranked by outstanding revenue — join + decimal-exact agg + top-k
    (TakeOrderedAndProject; ties broken on the key)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    cutoff = F.lit("1995-03-15").cast("date")
    rev = (
        money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC42)
    ).cast("decimal(16,4)")
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).filter(
        (F.col("o_orderdate").cast("date") < cutoff)
        & (F.col("l_shipdate").cast("date") > cutoff)
    )
    agg = joined.groupBy(
        F.col("l_orderkey").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    ).agg(F.sum(rev).alias("__rev"))
    return (
        agg.orderBy(F.col("__rev").desc(), F.col("orderkey"))
        .limit(10)
        .select("orderkey", "order_date", F.col("__rev").cast("double").alias("revenue"))
    )


@workload(
    "q_returned_revenue",
    oracle="""
    SELECT c_custkey AS custkey,
           n_name AS nation_name,
           COUNT(*) AS n_returned_items,
           CAST(SUM(CAST(CAST(l_extendedprice AS decimal(12,2))
                    * CAST(1 - l_discount AS decimal(4,2)) AS decimal(16,4)))
                AS DOUBLE) AS lost_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, n_name
    ORDER BY SUM(CAST(CAST(l_extendedprice AS decimal(12,2))
                 * CAST(1 - l_discount AS decimal(4,2)) AS decimal(16,4))) DESC,
             c_custkey
    LIMIT 20
    """,
    tags=("ext-analytics",),
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    selective filter pushed to the fact scan, three joins (scaling sides
    left to AQE, nation broadcast), decimal-exact agg, top-20."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC42)
    ).cast("decimal(16,4)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    agg = joined.groupBy(
        F.col("c_custkey").alias("custkey"), F.col("n_name").alias("nation_name")
    ).agg(F.count(F.lit(1)).alias("n_returned_items"), F.sum(rev).alias("__rev"))
    return (
        agg.orderBy(F.col("__rev").desc(), F.col("custkey"))
        .limit(20)
        .select(
            "custkey",
            "nation_name",
            "n_returned_items",
            F.col("__rev").cast("double").alias("lost_revenue"),
        )
    )


@workload(
    "q_math_funcs",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(abs(CAST(o_totalprice AS decimal(12,2))
                    - CAST(200000 AS decimal(12,2))) AS DOUBLE) AS abs_dev,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_kband,
           CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_kband_hi,
           round(sqrt(o_totalprice), 6) AS sqrt_price,
           round(ln(o_totalprice), 10) AS ln_price,
           o_orderkey % 7 AS key_mod,
           CAST(sign(o_totalprice - 200000) AS BIGINT) AS over_under
    FROM orders
    """,
    tags=("ext-func",),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function family. sqrt is IEEE-correctly-rounded (exact parity);
    ln is library-dependent by ±1 ulp → rounded at 1e-10, far above the
    noise floor; decimal abs is exact."""
    o = T(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.abs(money(p) - F.lit(200000).cast(DEC2)).cast("double").alias("abs_dev"),
        F.floor(p / 1000).cast("long").alias("price_kband"),
        F.ceil(p / 1000).cast("long").alias("price_kband_hi"),
        F.round(F.sqrt(p), 6).alias("sqrt_price"),
        F.round(F.log(p), 10).alias("ln_price"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.signum(p - 200000).cast("long").alias("over_under"),
    )


@workload(
    "q_cube",
    oracle="""
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS decimal(12,2))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
    tags=("ext-rel",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-sets cube (all 4 combinations of the two dims) with
    NULL-marker normalization — complements q_rollup's hierarchy."""
    c = T(spark, sf_dir, "customer")
    return (
        c.cube("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(money("c_acctbal")).alias("total_balance"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("string"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_balance",
        )
    )


@workload(
    "q_profile_table",
    oracle="""
    SELECT 'c_custkey' AS col, COUNT(c_custkey) AS n_non_null,
           COUNT(DISTINCT c_custkey) AS n_distinct,
           CAST(MIN(c_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(c_custkey) AS VARCHAR) AS max_val
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment),
           MIN(c_mktsegment), MAX(c_mktsegment)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', COUNT(c_nationkey), COUNT(DISTINCT c_nationkey),
           CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
    FROM customer
    """,
    tags=("ext-quality", "S6"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality report behind auto-adaptation):
    non-null/distinct counts and min/max per column, computed in ONE pass
    over the table (single aggregate, no per-column scans) and unpivoted.
    """
    from etl_demos_spark.plans.quality import profile_table

    c = T(spark, sf_dir, "customer")
    return profile_table(c, ["c_custkey", "c_mktsegment", "c_nationkey"])


@workload(
    "q_hash_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id
    FROM assigned
    GROUP BY split
    """,
    tags=("ext-sampling",),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash buckets
    (operators/sampling.py) — a document's assignment never changes across
    re-runs, backfills, or engines (md5 hex parsed identically both sides).
    """
    from etl_demos_spark.operators.sampling import split_by_hash

    d = T(spark, sf_dir, "documents")
    out = split_by_hash(d, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


@workload(
    "q_stratified_sample",
    oracle="""
    WITH kept AS (
        SELECT lang FROM documents
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  % 100
              < CASE WHEN lang = 'en' THEN 30 ELSE 100 END
    )
    SELECT lang, COUNT(*) AS n_docs FROM kept GROUP BY lang
    """,
    tags=("ext-sampling",),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample English to ~30% by content-stable
    hash bucket, keep other languages whole. Hash-based (not RNG) so the
    kept set is identical across runs, backfills, AND engines — which is
    both the leakage-safe production behavior and what lets DuckDB verify
    it exactly. No driver-side distinct-langs pass: the fraction map is
    one CASE threshold. (``stratified_sample`` keeps the seeded-Bernoulli
    ``sampleBy`` form for when statistical, not deterministic, sampling
    is wanted.)"""
    from etl_demos_spark.operators.sampling import stratified_sample_by_hash

    d = T(spark, sf_dir, "documents")
    sampled = stratified_sample_by_hash(d, "lang", "doc_id", {"en": 0.3})
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@workload(
    "q_pandas_udf",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                AS BIGINT) AS norm_len,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
               AS n_tokens_udf
    FROM documents
    """,
    tags=("ext-udf",),
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 surface: Arrow-vectorized pandas_udf (batch pandas.Series in/
    out — the sanctioned Python escape hatch, ~10-100x row-at-a-time
    Python UDFs). Deterministic string ops so the DuckDB oracle can verify
    the UDF output exactly. Built-ins are still preferred for THESE
    particular ops (see operators/text.py) — this query exists to prove
    the UDF plumbing against the correctness gate."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies them
    # and the UDF type-hint resolver rejects unresolvable strings
    @pandas_udf("long")
    def norm_len(s):
        return (
            s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True).str.len()
        ).astype("int64")

    @pandas_udf("long")
    def n_tokens_udf(s):
        return s.str.lower().str.count(r"[a-z0-9]+").astype("int64")

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        norm_len("text").alias("norm_len"),
        n_tokens_udf("text").alias("n_tokens_udf"),
    )


@workload(
    "q_event_funnel",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, make_timestamp(epoch_us(ts)) AS ts
        FROM events
    ),
    firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM ev GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                              AND first_click > first_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                              AND first_click > first_view
                              AND first_purchase > first_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM firsts
    """,
    tags=("ext-analytics", "ext-stream"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click → purchase conversion): one
    conditional-min aggregation pass per user, then stage predicates —
    no joins, no windows, scales as a single keyed shuffle."""
    ev = T(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    viewed = F.col("first_view").isNotNull()
    clicked = viewed & (F.col("first_click") > F.col("first_view"))
    converted = clicked & (F.col("first_purchase") > F.col("first_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("n_clicked_after_view"),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
    )


# ---------------------------------------------------------------------------
# Training-data preparation (operators/trainprep.py)
# ---------------------------------------------------------------------------


@workload(
    "q_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 10 AS bucket,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, bucket,
               unnest(list_distinct(list_transform(
                   range(greatest(len(t) - 7, 0)),
                   i -> concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                                       t[i+5], t[i+6], t[i+7], t[i+8])))) AS g
        FROM toks WHERE len(t) >= 8
    ), test_grams AS (
        SELECT DISTINCT g FROM grams WHERE bucket >= 8
    )
    SELECT grams.doc_id AS train_id,
           CAST(COUNT(DISTINCT grams.g) AS BIGINT) AS n_shared_grams
    FROM grams JOIN test_grams USING (g)
    WHERE grams.bucket < 8
    GROUP BY grams.doc_id
    """,
    tags=("ext-trainprep",),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3-style n-gram overlap): hash-split
    the corpus 80/20 into train/test, report every train doc sharing a
    word 8-gram with the test side (8-13 is the standard window — short
    grams over-trigger on boilerplate). Inverted-index equi-join on the
    gram — work ∝ collisions, and the (tiny) eval gram set broadcasts at
    scale; never |train|×|test|."""
    from etl_demos_spark.operators.sampling import hash_bucket
    from etl_demos_spark.operators.trainprep import contamination_report_split

    d = T(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), 10)
    return contamination_report_split(d, b >= 8, "doc_id", "text", n=8).select(
        "train_id", F.col("n_shared_grams").cast("long").alias("n_shared_grams")
    )


@workload(
    "q_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 8 AS bucket,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT bucket, doc_id, n_tokens,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY bucket ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 128) AS BIGINT) AS seq_id
        FROM d
    )
    SELECT bucket, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY bucket, seq_id
    """,
    tags=("ext-trainprep",),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training export: documents pack greedily into
    ~128-token sequences inside 8 parallel hash-bucket streams (window
    cumsum per bucket — no global sort; see operators/trainprep.py).
    Output: per-sequence document count and token total."""
    from etl_demos_spark.operators.trainprep import pack_sequences

    d = T(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(d, "doc_id", "n_tokens", target=128, n_buckets=8)
    return packed.groupBy("bucket", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


@workload(
    "q_corpus_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
                ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS shuffle_rank
    FROM documents
    """,
    tags=("ext-trainprep",),
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: rank over md5(seed||id),
    reproducible across runs AND engines (RNG shuffles are neither).
    Ranks come from the distributed dense_ids path (range exchange +
    broadcast offsets), not a single-partition window."""
    from etl_demos_spark.operators.trainprep import deterministic_shuffle

    d = T(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed="s0")


@workload(
    "q_pii_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   'contact u' || CAST(doc_id AS VARCHAR)
                     || '@ex.com or https://ex.io/u?id=' || CAST(doc_id AS VARCHAR)
                     || ' tel 555-123-4567 ssn 123-45-6789 :: ' || text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 'https?://[^ \\t\\n\\r\\f\\x0B]+', '[URL]', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g') AS redacted
    FROM documents
    """,
    tags=("ext-trainprep",),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/URL/phone/SSN shapes → typed placeholders,
    chained JVM regexp_replace (patterns restricted to Java-regex ∩ RE2
    so the oracle mirrors bit-for-bit). PII is planted per row so the
    redaction path is actually exercised."""
    planted = F.concat(
        F.lit("contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com or https://ex.io/u?id="),
        F.col("doc_id").cast("string"),
        F.lit(" tel 555-123-4567 ssn 123-45-6789 :: "),
        F.col("text"),
    )
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", text.redact_pii(planted).alias("redacted"))


@workload(
    "q_dedup_text_e2e",
    oracle=_dedup_e2e_sql(),
    tags=("ext-dedup", "ext-trainprep"),
)
def q_dedup_text_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text near-dedup: MinHash-LSH pairs → connected
    components → one survivor per cluster (operators/dedup.py:
    dedup_by_minhash). The md5-portable signatures plus a recursive-CTE
    reachability closure in the oracle hash-certify the whole chain,
    clustering included; cluster-collapse semantics additionally pinned
    in tests/test_dedup.py."""
    d = T(spark, sf_dir, "documents")
    kept = dedup.dedup_by_minhash(d, "doc_id", "text", n=3, threshold=0.4)
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# ---------------------------------------------------------------------------
# Embedding preparation (operators/embeddings.py)
# ---------------------------------------------------------------------------


@workload(
    "q_embed_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(
               embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
               AS l2
    FROM embeddings
    """,
    tags=("ext-embed",),
)
def q_embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (the ingest-side normalization pass): one
    narrow projection, sequential in-array summation (deterministic —
    no cross-row float accumulation)."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.round(emb.l2_norm_col("embedding"), 6).alias("l2"))


@workload(
    "q_embed_quantize",
    oracle="""
    WITH scaled AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   / 127.0 AS scale,
               embedding
        FROM embeddings
    ), quant AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
               END AS q
        FROM scaled
    )
    SELECT vec_id,
           CAST(list_min(q) AS BIGINT) AS q_min,
           CAST(list_max(q) AS BIGINT) AS q_max,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           round(scale, 6) AS scale_r
    FROM quant
    """,
    tags=("ext-embed",),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization for embedding storage (4× smaller than
    float32). floor(x/scale + 0.5) — identical IEEE ops in every engine,
    no round-half ambiguity. Output: per-vector code stats + scale."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    q, scale = emb.quantize_symmetric_int8("embedding")
    out = e.select("vec_id", q.alias("q"), scale.alias("scale"))
    return out.select(
        "vec_id",
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")).alias("q_sum"),
        F.round("scale", 6).alias("scale_r"),
    )


@workload(
    "q_embed_centroid",
    oracle="""
    WITH expl AS (
        SELECT vec_id % 8 AS grp,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS x
        FROM embeddings
    )
    SELECT grp, pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(16,6)))
                AS DOUBLE) AS dim_sum
    FROM expl
    GROUP BY grp, pos
    """,
    tags=("ext-embed",),
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(group, dimension) exact centroid sums (IVF coarse-quantizer /
    corpus-statistics build): posexplode → ONE keyed partial-agg shuffle;
    decimal sums of 1e-6-rounded elements are order-independent, so the
    result is identical under any task scheduling."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    return emb.centroid_sums(e, F.col("vec_id") % 8, "embedding")


_EMBED_DIM = 64

_COV_ORACLE = """
    WITH e AS (
        -- unnest and generate_subscripts in the SAME select zip
        -- positionally (one row per element); nesting them across
        -- levels would cross-product every element with every index
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings
    ), p AS (
        SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
        FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    ), m AS (
        -- mirror Spark's rowsum = double(1e6 * sum(q)) / 1e6 exactly:
        -- Spark reads the augmented Gram row s(i,d) = 1e6*sum(q_i),
        -- casts to double, then divides by the double literal 1e6
        SELECT i, CAST(SUM(q) * 1000000 AS DOUBLE) / 1000000.0 AS rowsum
        FROM e GROUP BY i
    ), n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM embeddings
    )
    SELECT p.i, p.j,
           ROUND((CAST(p.s AS DOUBLE) / n.nn
                  - (ma.rowsum / n.nn) * (mb.rowsum / n.nn)) / 1e12,
                 6) + 0.0 AS cov  -- -0.0 + 0.0 = +0.0 on both engines
    FROM p
    JOIN m ma ON ma.i = p.i
    JOIN m mb ON mb.i = p.j
    CROSS JOIN n
    """


@workload("q_embed_covariance", oracle=_COV_ORACLE, tags=("ext-embed",))
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix (operators/embeddings.py
    gram_matrix + covariance_from_gram) — the moment pass behind PCA:
    elements quantized to 1e-6, ONE augmented int64 GEMM per Arrow
    batch, exact DECIMAL(38,0) merge keyed on ~d²/2 cells, then the
    identical IEEE double expression both engines evaluate — so the
    driver hash certifies all 2080 covariance entries of the 64-dim
    corpus, not a sample. Cost ∝ batches (never rows²); only d² cells
    shuffle or reach downstream."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    gram = emb.gram_matrix(e, "embedding")
    return emb.covariance_from_gram(gram, _EMBED_DIM)


@workload("q_pca_project", oracle=None, tags=("ext-embed",))
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit + project (operators/embeddings.py pca_components /
    pca_project): the covariance comes from the exact distributed Gram
    pass (only (d+1)² integer cells reach the driver), eigh runs on the
    bounded d×d matrix, and projection is one dgemm per Arrow batch
    against the broadcast k×d components. Rows-only: eigendecomposition
    is not SQL-expressible — numpy-pinned end-to-end in
    tests/test_embeddings.py instead. Registered _LATE (rows-only);
    the family's driver slot is q_embed_covariance."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    comps, _, mean = emb.pca_components(e, k=8, vec_col="embedding")
    # center on the fitted mean: projecting UNcentered data onto
    # centered-covariance eigenvectors offsets every score by mu.W^T
    proj = emb.pca_project(e, comps, center=mean)
    return proj.select(
        "vec_id", F.round(F.element_at("proj", 1), 4).alias("pc1_r")
    )


@workload(
    "q_kmeans_assign",
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cvec
        FROM embeddings WHERE vec_id < 4
    ), pairs AS (
        SELECT e.vec_id, c.cell,
               list_sum(list_transform(list_zip(e.embedding, c.cvec),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        FROM embeddings e CROSS JOIN cents c
    ), ranked AS (
        SELECT vec_id, cell, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM pairs
    )
    SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(dist, 6) AS dist_r
    FROM ranked WHERE rn = 1
    """,
    tags=("ext-embed",),
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (embeddings.kmeans_assign) — the
    E-step every IVF build / k-means / cell-routing pass runs. Centroids
    here are the first-k vectors (deterministic and SQL-expressible, so
    the oracle certifies the assignment semantics end-to-end); the
    corpus-scale path is the Arrow GEMM form, pinned row-identical in
    tests/test_embeddings.py. Broadcast crossJoin — the corpus never
    shuffles; sequential in-array distance sums match DuckDB's
    element order bit-for-bit."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    a = emb.kmeans_assign(e, cents)
    return a.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.round("dist", 6).alias("dist_r"),
    )


_PR_EDGE_SQL = """
    WITH nd AS (SELECT COUNT(*) AS n FROM documents),
    e0 AS (
        SELECT doc_id AS src, hj AS dst FROM (
            SELECT d.doc_id,
                   CAST('0x' || substr(md5('e' || CAST(h.j AS VARCHAR) || ':' ||
                       CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % nd.n AS hj
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) h
            CROSS JOIN nd
        ) WHERE doc_id <> hj
    ),
    ed0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM ed0 GROUP BY src),
    ed AS MATERIALIZED (
        SELECT e.src, e.dst, g.deg FROM ed0 e JOIN deg g USING (src)
    ),
    nodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM ed0 UNION ALL SELECT dst FROM ed0
        )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS MATERIALIZED (
        SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn
    )
"""

# One unrolled power-iteration round, replaying graph.pagerank()'s exact
# float quantization: floor((rank * 1e12) / deg) summed as BIGINT, the
# dangling mass as floor(rank * 1e12) summed, and the identical IEEE
# operation tree for the rank update — see operators/graph.py docstring.
# r{i} MUST be MATERIALIZED: each round reads its predecessor twice
# (dangling scan + contribution join), and DuckDB inlines plain CTEs,
# which would re-expand the whole upstream pipeline 2^rounds times.
_PR_ROUND = """
    , d{i} AS (
        SELECT COALESCE(SUM(CAST(FLOOR(r.rank * 1e12) AS BIGINT)), 0) AS dq
        FROM r{p} r LEFT JOIN deg g ON g.src = r.node
        WHERE g.src IS NULL
    ), c{i} AS (
        SELECT e.dst AS node,
               CAST(SUM(CAST(FLOOR(r.rank * 1e12 / e.deg) AS BIGINT)) AS DOUBLE)
                   / 1e12 AS contrib
        FROM ed e JOIN r{p} r ON r.node = e.src
        GROUP BY e.dst
    ), r{i} AS MATERIALIZED (
        SELECT n.node,
               (((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n)
                + ((CAST(0.85 AS DOUBLE) * (CAST(d.dq AS DOUBLE) / 1e12)) / nn.n))
               + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, CAST(0 AS DOUBLE))
                   AS rank
        FROM nodes n
        CROSS JOIN nn
        CROSS JOIN d{i} d
        LEFT JOIN c{i} c ON c.node = n.node
    )
"""

_PR_ORACLE = (
    _PR_EDGE_SQL
    + "".join(_PR_ROUND.format(i=i, p=i - 1) for i in range(1, 9))
    + """
    SELECT node AS doc_id, round(rank, 6) AS rank_r FROM (
        SELECT node, rank,
               row_number() OVER (ORDER BY rank DESC, node) AS rn
        FROM r8
    ) WHERE rn <= 10
"""
)


@workload("q_pagerank", oracle=_PR_ORACLE, tags=("ext-graph",))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (operators/graph.py) — the web-curation
    quality prior: rank pages before sampling training data from them.
    The corpus carries no real hyperlinks, so the edge list is
    deterministically synthesized (3 md5-derived out-links per doc, the
    q_url_curation approach). Per iteration ONE |V|-sized keyed shuffle;
    contributions quantized as floor(rank*1e12/deg) exact-BIGINT sums —
    order-independent AND engine-portable, which is what lets the
    DuckDB oracle replay all 8 damped power-iteration rounds as
    unrolled CTEs (the q_label_prop treatment, extended from integer
    label counts to IEEE-double rank arithmetic) and the driver hash
    certify ranks end-to-end. Also numpy-pinned in tests/test_graph.py.
    Output: top-10 docs by rank."""
    from etl_demos_spark.operators.graph import pagerank

    d = T(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    links = []
    for j in range(3):
        dst = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"e{j}:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n
        )
        links.append(
            d.select(F.col("doc_id").alias("src"), dst.alias("dst"))
        )
    edges = links[0].unionByName(links[1]).unionByName(links[2]).filter(
        F.col("src") != F.col("dst")
    )
    ranks = pagerank(edges, iters=8)
    # top-10 via TakeOrderedAndProject (per-partition partial top-k),
    # NOT a partitionless row_number over all |V| nodes — the same
    # single-task funnel dsir_select shed in r5; the (rank, node) order
    # is total so the selected set is identical
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(10)
        .select(F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank_r"))
    )


@workload("q_kmeans", oracle=None, tags=("ext-embed",))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (embeddings.kmeans_lloyd, k=8, 3
    iterations): per-iteration one Arrow argmin pass + one decimal-exact
    keyed shuffle; only k×d floats reach the driver. Rows-only (an
    iterative fixpoint has no single-statement SQL twin); convergence
    and numpy-reference equivalence pinned in tests/test_embeddings.py.
    Output: per-cell population of the final clustering."""
    from etl_demos_spark.operators import embeddings as emb

    e = T(spark, sf_dir, "embeddings")
    _, assigned = emb.kmeans_lloyd(e, k=8, iters=3)
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))


@workload(
    "q_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)-1),
                                     i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM t WHERE len(toks) >= 2
    ), c AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           CAST(MAX(cnt) AS BIGINT) AS top_gram_count,
           ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_gram_frac,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(cnt), 6) AS dup_gram_frac
    FROM c GROUP BY doc_id
    """,
    tags=("ext-text",),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics (Gopher/RefinedWeb quality-rule
    family): per-doc top-bigram coverage and duplicate-gram fraction for
    boilerplate/template-spam filtering. Explode + two partial-agg
    shuffles — work ∝ token count (see operators/text.py
    repetition_stats)."""
    d = T(spark, sf_dir, "documents")
    return text.repetition_stats(d, "doc_id", "text", n=2)


@workload(
    "q_mixture_sample",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
                           WHEN 'src2' THEN 0.4 WHEN 'src3' THEN 0.0
                           ELSE 1.0 END AS rate
        FROM documents
    ), e AS (
        SELECT doc_id, source, rate,
               unnest(generate_series(1, CAST(ceil(rate) AS INT))) AS copy_id
        FROM r WHERE rate > 0
    ), k AS (
        SELECT * FROM e
        WHERE copy_id <= floor(rate)
           OR (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000) < CAST(round((rate - floor(rate)) * 10000) AS BIGINT)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM k GROUP BY source
    """,
    tags=("ext-trainprep",),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-style source mixture: upsample src0 2.5x and src1
    1.25x, downsample src2 to 0.4, drop src3, pass the rest through.
    Deterministic fractional replication (content-hash, no RNG) — see
    operators/trainprep.py mixture_sample. Output: per-source row and
    distinct-doc counts of the mixed corpus."""
    from etl_demos_spark.operators.trainprep import mixture_sample

    d = T(spark, sf_dir, "documents")
    mixed = mixture_sample(
        d, "source", "doc_id",
        {"src0": 2.5, "src1": 1.25, "src2": 0.4, "src3": 0.0},
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )


@workload(
    "q_scd2_dim",
    oracle="""
    WITH ch AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               LAG(o_orderpriority) OVER w AS prev_p
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), v AS (
        SELECT * FROM ch WHERE prev_p IS NULL OR o_orderpriority <> prev_p
    )
    SELECT o_custkey, o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(o_orderdate) OVER w2, '%Y-%m-%d') AS valid_to,
           LEAD(o_orderdate) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("ext-warehouse",),
)
def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing customer dimension built from the orders
    change log (order priority as the tracked attribute): consecutive
    identical states collapse, each version carries valid_from/valid_to/
    is_current. One keyed window shuffle — see operators/scd.py."""
    from etl_demos_spark.operators.scd import scd2_build
    from etl_demos_spark.workload import iso_date

    o = T(spark, sf_dir, "orders")
    dim = scd2_build(o, "o_custkey", "o_orderdate", ["o_orderpriority"], seq_col="o_orderkey")
    return dim.select(
        "o_custkey",
        "o_orderpriority",
        iso_date("valid_from").alias("valid_from"),
        iso_date("valid_to").alias("valid_to"),
        "is_current",
    )


@workload(
    "q_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6)
               AS l_extendedprice_p5,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 6)
               AS l_extendedprice_p95,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 6)
               AS l_extendedprice_p99,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6)
               AS l_quantity_p5,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.95), 6)
               AS l_quantity_p95,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6)
               AS l_quantity_p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext-quality",),
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile profile (linear-interpolation percentile,
    identical definition in Spark and DuckDB). The approx/sketch variant
    for full-corpus scale is quantile_profile(exact=False) — see
    plans/quality.py."""
    from etl_demos_spark.plans.quality import quantile_profile

    li = T(spark, sf_dir, "lineitem")
    return quantile_profile(
        li, ["l_extendedprice", "l_quantity"], group_by="l_returnflag"
    )


@workload(
    "q_feature_scale",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE), 6)
                        AS DECIMAL(26,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(round(round(CAST(l_extendedprice AS DOUBLE), 6)
                                   * round(CAST(l_extendedprice AS DOUBLE), 6), 6)
                        AS DECIMAL(32,6))) AS DOUBLE) AS s2,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    ), z AS (
        SELECT l_returnflag,
               s / CAST(n AS DOUBLE) AS mean,
               sqrt(greatest(s2 / CAST(n AS DOUBLE)
                    - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) AS std,
               lo, hi
        FROM m
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN z.std = 0 THEN NULL
                ELSE round((round(CAST(l.l_extendedprice AS DOUBLE), 6) - z.mean)
                           / z.std, 6)
           END AS price_z,
           round(least(greatest(CAST(l.l_extendedprice AS DOUBLE), z.lo), z.hi), 6)
               AS price_w
    FROM lineitem l JOIN z USING (l_returnflag)
    """,
    tags=("ext-features",),
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric feature prep (operators/features.py): per-group z-score
    standardization (decimal-exact moments — ONE tiny-output shuffle,
    broadcast-joined back, fact side never shuffles) + winsorization at
    the group's exact [p5, p95] interpolated percentiles. The standard
    normalize-and-clip pass before tabular features reach a trainer."""
    from etl_demos_spark.operators import features as feat

    li = T(spark, sf_dir, "lineitem")
    scaled = feat.zscore(li, ["l_extendedprice"], "l_returnflag")
    wz = feat.winsorize(scaled, ["l_extendedprice"], "l_returnflag", 0.05, 0.95)
    return wz.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_extendedprice_z").alias("price_z"),
        F.col("l_extendedprice_w").alias("price_w"),
    )


@workload(
    "q_binning",
    oracle="""
    WITH ext AS (
        SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
               max(CAST(o_totalprice AS DOUBLE)) AS hi
        FROM orders
    ), wb AS (
        SELECT CASE WHEN e.hi = e.lo THEN 0
                    ELSE least(9, CAST(floor((CAST(o.o_totalprice AS DOUBLE) - e.lo)
                                             / ((e.hi - e.lo) / 10.0)) AS INT))
               END AS bucket,
               e.lo AS glo, e.hi AS ghi
        FROM orders o CROSS JOIN ext e
    ), width AS (
        SELECT 'width' AS method,
               CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(any_value(glo) + bucket * (any_value(ghi) - any_value(glo)) / 10.0, 6) AS lo,
               round(any_value(glo) + (bucket + 1) * (any_value(ghi) - any_value(glo)) / 10.0, 6) AS hi
        FROM wb GROUP BY bucket
    ), depth AS (
        SELECT 'depth' AS method,
               CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(min(x), 6) AS lo,
               round(max(x), 6) AS hi
        FROM (SELECT CAST(o_totalprice AS DOUBLE) AS x,
                     ntile(8) OVER (ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
                         AS bucket
              FROM orders)
        GROUP BY bucket
    )
    SELECT * FROM width UNION ALL SELECT * FROM depth
    """,
    tags=("ext-features",),
)
def q_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histograms for feature discretization and profiling
    (operators/features.py): equi-width (codegen'd floor-bucket
    expression over broadcast min/max — scan plus two tiny shuffles) and
    equi-depth (exact ntile over a deterministic total order; the
    distributed form is equi_depth_hist_scale via dense_ids, pinned
    bucket-identical in tests/test_features.py)."""
    from etl_demos_spark.operators import features as feat

    o = T(spark, sf_dir, "orders")
    ew = feat.equi_width_hist(o, "o_totalprice", bins=10).select(
        F.lit("width").alias("method"),
        "bucket",
        "n",
        F.col("bucket_lo").alias("lo"),
        F.col("bucket_hi").alias("hi"),
    )
    ed = feat.equi_depth_hist(o, "o_totalprice", "o_orderkey", bins=8).select(
        F.lit("depth").alias("method"), "bucket", "n", "lo", "hi"
    )
    return ew.unionByName(ed)


@workload(
    "q_grouped_agg_udf",
    oracle="""
    SELECT source,
           round(exp(avg(ln(CAST(n_chars AS DOUBLE)))), 6) AS geo_mean_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY source
    """,
    tags=("ext-udf",),
)
def q_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 surface: GROUPED_AGG pandas_udf — the Arrow-vectorized UDAF
    form (whole group in, scalar out; usable in groupBy().agg and over
    windows). Geometric mean of document length per source. The UDF sorts
    before summing so the result is independent of row arrival order —
    floating-point addition is not associative, and shuffle order is not
    deterministic; parity against the oracle needs order-free math."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: `from __future__ import annotations` stringifies
    # type hints, so the Series -> scalar signature can't be inferred
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        logs = np.sort(np.log(v.to_numpy(dtype="float64")))
        return float(np.exp(logs.sum() / len(logs)))

    # pandas UDAFs cannot mix with JVM aggregates in one agg() —
    # the count rides through the same Arrow path
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(geo_mean("n_chars"), 6).alias("geo_mean_chars"),
        n_rows("n_chars").alias("n_docs"),
    )


_CHUNK_ORACLE = """
    WITH idx AS (
        SELECT doc_id, coalesce(text, '') AS t,
               unnest(generate_series(0,
                   greatest(0, CAST(floor((length(coalesce(text, '')) - 1)
                                          / 96.0) AS INT)))) AS i
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           substr(t, CAST(i * 96 + 1 AS INT), 128) AS chunk,
           CAST(length(substr(t, CAST(i * 96 + 1 AS INT), 128)) AS INT)
               AS chunk_chars
    FROM idx
"""


@workload("q_chunk_docs", oracle=_CHUNK_ORACLE, tags=("ext-trainprep",))
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (fixed-size overlapping character chunks),
    the scale path: sequence+explode+substr, all JVM built-ins, zero
    shuffle. See operators/trainprep.py:chunk_documents."""
    from etl_demos_spark.operators.trainprep import chunk_documents

    return chunk_documents(T(spark, sf_dir, "documents"), size=128, stride=96)


@workload("q_chunk_udtf", oracle=_CHUNK_ORACLE, tags=("ext-udf",))
def q_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 surface: Python UDTF (table function, SQL LATERAL join) —
    identical semantics to q_chunk_docs, computed row-at-a-time through
    the UDTF path to prove the surface against the same oracle. The
    built-in form is the one to use at scale."""
    from etl_demos_spark.operators.trainprep import chunk_documents_udtf

    return chunk_documents_udtf(
        spark, T(spark, sf_dir, "documents"), size=128, stride=96
    )


@workload(
    "q_range_join",
    oracle="""
    WITH iv AS (
        SELECT n_nationkey,
               n_nationkey * 90 AS promo_start,
               n_nationkey * 90 + 365 AS promo_end
        FROM nation
    ),
    pts AS (
        SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                   AS d,
               o_totalprice
        FROM orders
    )
    SELECT iv.n_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS promo_revenue
    FROM pts JOIN iv ON pts.d BETWEEN iv.promo_start AND iv.promo_end
    GROUP BY iv.n_nationkey
    """,
    tags=("ext-join",),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval) via granule bucketization — a pure
    inequality join that would otherwise plan as BroadcastNestedLoop.
    Each nation gets a 365-day promo window laddered 90 days apart;
    orders land in every window containing their date (~4-5 each). The
    interval side is tiny → broadcast: the fact side never shuffles for
    the join itself. See operators/rangejoin.py."""
    from etl_demos_spark.operators.rangejoin import range_join_point

    o = T(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        money("o_totalprice").alias("p"),
    )
    n = T(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 90).cast("long").alias("promo_start"),
        (F.col("n_nationkey") * 90 + 365).cast("long").alias("promo_end"),
    )
    j = range_join_point(
        o, F.broadcast(n), "d", "promo_start", "promo_end", granule=256
    )
    return j.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("p")).alias("promo_revenue"),
    )


@workload(
    "q_rollup_cascade",
    oracle="""
    WITH lv AS (SELECT unnest(['15 minutes', '1 hour', '6 hours']) AS level,
                       unnest([900, 3600, 21600]) AS secs)
    SELECT lv.level,
           strftime(to_timestamp(CAST(floor(epoch(ts) / lv.secs) * lv.secs
                                      AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events CROSS JOIN lv
    GROUP BY 1, 2, 3
    """,
    tags=("ext-stream",),
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: 15m -> 1h -> 6h,
    each coarser level re-aggregating the finer level's partials (one
    raw scan total). The oracle recomputes every level from raw events —
    equality proves the cascade's re-aggregation is exact, including the
    decimal money path. See streaming/windows.py:rollup_cascade."""
    ev = T(spark, sf_dir, "events")
    out = win.rollup_cascade(
        ev, "ts", ("event_type",), "value",
        ("15 minutes", "1 hour", "6 hours"),
    )
    return out.select(
        "level",
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.col("_total").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


@workload(
    "q_lm_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tokens) - 1),
                                   i -> tokens[i] || ' ' || tokens[i+1]))
               AS gram
      FROM toks
    ),
    c2 AS (SELECT gram, COUNT(*) AS c2 FROM grams GROUP BY gram),
    c1 AS (SELECT split_part(gram, ' ', 1) AS w1,
                  CAST(SUM(c2) AS BIGINT) AS c1
           FROM c2 GROUP BY 1),
    model AS (
      SELECT c2.gram, c2.c2, c1.c1,
             round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 9) AS logp
      FROM c2 JOIN c1 ON split_part(c2.gram, ' ', 1) = c1.w1
    ),
    scored AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(m.c2) AS BIGINT) AS sum_freq,
             round(CAST(SUM(CASE WHEN m.c2 <= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) / COUNT(*), 6) AS rare_frac,
             round(CAST(SUM(CAST(m.logp AS DECIMAL(24,9))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_logp
      FROM grams g JOIN model m USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams, sum_freq, rare_frac, avg_logp,
           CAST(NTILE(3) OVER (ORDER BY avg_logp ASC, doc_id ASC)
                AS INTEGER) AS lm_bucket
    FROM scored
    """,
    tags=("ext-text",),
)
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train a word-bigram LM on the
    corpus itself (two combiner-friendly aggs), score every document by
    mean conditional log-probability (decimal-exact sum, so the result is
    shuffle-order-independent), and ntile into head/middle/tail quality
    buckets. The 100 TB path swaps the exact ntile for percentile_approx
    cutoffs (lm_quality_buckets(exact=False)) and prunes+broadcasts the
    model. Reference has no equivalent (training-data extension)."""
    d = T(spark, sf_dir, "documents")
    model = text.bigram_lm_model(d, "text")
    scored = text.lm_score_documents(d, model, "doc_id", "text")
    return text.lm_quality_buckets(scored, "avg_logp", "doc_id", 3, exact=True)


@workload(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT -o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN (o.o_orderstatus, o.o_totalprice)
                     IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice)
                  THEN 'update' END AS change_type
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN (o.o_orderstatus, o.o_totalprice)
                    IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice)
                 THEN 'update' END IS NOT NULL
    """,
    tags=("ext-etl",),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between snapshots: deterministic churn simulated on orders
    (drop %11 keys = deletes, restamp status on %5 keys = updates, negate
    %13 keys = inserts), then operators/scd.py:snapshot_diff — one full
    outer join, null-safe struct compare, output ∝ churn. Feeds
    merge_upsert / scd2_apply incrementally."""
    from etl_demos_spark.operators.scd import snapshot_diff

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "o_orderkey", -F.col("o_orderkey")
            )
        )
    )
    return snapshot_diff(o, new, ("o_orderkey",))


@workload(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ), exact AS (
        SELECT term, COUNT(*) AS exact_n FROM toks GROUP BY term
    ), top AS (
        SELECT term, exact_n FROM exact ORDER BY exact_n DESC, term LIMIT 20
    ), occ AS (
        SELECT t.term,
               r.i,
               CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || t.term), 1, 8)
                    AS BIGINT) % 256 AS col
        FROM toks t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
    ), cms AS (
        SELECT i, col, COUNT(*) AS cnt FROM occ GROUP BY i, col
    )
    SELECT p.term,
           CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(min(c.cnt) AS BIGINT) AS est_n,
           CAST(min(c.cnt) - p.exact_n AS BIGINT) AS over_count
    FROM top p
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
    JOIN cms c
      ON c.i = r.i
     AND c.col = CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || p.term), 1, 8)
                      AS BIGINT) % 256
    GROUP BY p.term, p.exact_n
    """,
    tags=("ext-sketch",),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation (operators/sketches.py:
    cms_build/cms_estimate): the term stream collapses to a ≤ 4×256-cell
    table in one combiner-friendly pass, then the exact top-20 terms are
    point-queried against it. md5 buckets make the sketch — including
    every estimate and overcount — bit-reproducible in DuckDB, so the
    driver hash certifies the sketch math itself, not just bounds. The
    sketch is (row, col)-SUM-mergeable: per-day partials re-aggregate
    without touching raw text (the HLL pre-aggregate pattern, for
    frequencies)."""
    from etl_demos_spark.operators import sketches as sk

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term")
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    # top-20 via TakeOrderedAndProject — a partitionless row_number here
    # would funnel the whole vocabulary (10^8 terms at corpus scale)
    # through one task; the (exact_n, term) order is total so the
    # selected set is identical
    top = exact.orderBy(F.col("exact_n").desc(), F.col("term").asc()).limit(20)
    cms = sk.cms_build(toks, "term", depth=4, width=256)
    est = sk.cms_estimate(top.select("term"), cms, "term", depth=4, width=256)
    return top.join(est, "term").select(
        "term",
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("est").alias("est_n"),
        (F.col("est") - F.col("exact_n")).cast("long").alias("over_count"),
    )




_BLOOM_BITS = 512
_BLOOM_K = 4

_BLOOM_ORACLE = f"""
    WITH members AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderdate >= DATE '1995-03-01'
          AND o_orderdate < DATE '1995-04-01'
    ), hs AS (
        SELECT unnest([0, 1, 2, 3]) AS i
    ), pos AS (
        SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                   CAST(k AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_BITS} AS p
        FROM members CROSS JOIN hs
    ), words AS (
        SELECT (p >> 5) AS word,
               bit_or(1::BIGINT << CAST(p & 31 AS INT)) AS bits
        FROM pos GROUP BY 1
    ), probe AS (
        SELECT c_custkey AS k,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_BITS} AS p
        FROM customer CROSS JOIN hs
    ), hits AS (
        SELECT k,
               min(CASE WHEN (coalesce(w.bits, 0) &
                              (1::BIGINT << CAST(p.p & 31 AS INT))) <> 0
                        THEN 1 ELSE 0 END) AS hit
        FROM probe p LEFT JOIN words w ON (p.p >> 5) = w.word
        GROUP BY k
    )
    SELECT h.k AS custkey,
           CAST(h.hit AS INT) AS bloom_hit,
           CAST(CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_member,
           CAST(CASE WHEN h.hit = 1 AND m.k IS NULL THEN 1 ELSE 0 END AS INT) AS false_pos
    FROM hits h LEFT JOIN members m ON h.k = m.k
"""


@workload("q_bloom_filter", oracle=_BLOOM_ORACLE, tags=("ext-sketch",))
def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (operators/sketches.py:
    bloom_build/bloom_probe): the March-1995-buyer key set collapses to
    a 512-bit bitmap (16 BIGINT words of 32 bits), which then
    broadcast-probes the full customer table — a map-only pass with zero
    shuffle of the probe stream, the shape that pre-filters a 100 TB
    corpus against an eval-set/deny-list before any exact join
    (compose: bloom_probe → filter hit=1 → q_decontaminate's exact gram
    match on the surviving sliver). md5 positions + 32-bit words make
    the bitmap bit-identical in DuckDB (64-bit words would trap DuckDB's
    overflow-checked << at the sign bit), so the driver hash certifies
    words, verdicts, AND the false-positive set — no false negatives by
    construction (probe of every inserted key is asserted hit=1 in
    tests/test_properties.py, alongside bit_or mergeability).

    Reference anchor: extends the reference's staging existence checks
    (dbt relationships test, dbt/models/staging) to the sketch-
    pre-filtered form that survives corpus scale. The bitmap is sized
    small (512 bits vs 177 keys) deliberately so the driver window
    certifies a NON-TRIVIAL false-positive set (~32% of non-members),
    i.e. real bloom semantics rather than a perfect-hash accident."""
    from etl_demos_spark.operators import sketches as sk

    members = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bloom = sk.bloom_build(members, "k", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K)
    probed = sk.bloom_probe(
        T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey")),
        bloom,
        "custkey",
        n_bits=_BLOOM_BITS,
        n_hashes=_BLOOM_K,
    )
    exact = members.withColumn("__m", F.lit(1))
    return (
        probed.join(
            F.broadcast(exact), probed["custkey"] == exact["k"], "left"
        )
        .select(
            "custkey",
            F.col("bloom_hit").cast("int").alias("bloom_hit"),
            F.coalesce("__m", F.lit(0)).cast("int").alias("exact_member"),
            (
                (F.col("bloom_hit") == 1) & F.col("__m").isNull()
            ).cast("int").alias("false_pos"),
        )
    )

_KMV_K = 64

_KMV_ORACLE = f"""
    WITH h AS (
        SELECT DISTINCT o_orderpriority AS priority,
               CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM orders
    ), rk AS (
        SELECT priority, h,
               row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
        FROM h
    ), agg AS (
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth
        FROM rk WHERE rn <= {_KMV_K} GROUP BY priority
    ), ex AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY 1
    )
    SELECT a.priority, a.n_kept,
           ROUND(CASE WHEN a.n_kept < {_KMV_K}
                      THEN CAST(a.n_kept AS DOUBLE)
                      ELSE {float(_KMV_K - 1)} /
                           (CAST(a.kth AS DOUBLE) / 1152921504606846976.0)
                 END, 4) AS est_distinct,
           e.exact_distinct
    FROM agg a JOIN ex e USING (priority)
    """


@workload("q_kmv_distinct", oracle=_KMV_ORACLE, tags=("ext-sketch",))
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (operators/sketches.py kmv_sketch/
    kmv_estimate): per-priority distinct-customer estimation where the
    sketch is the k=64 smallest distinct 60-bit md5 hashes — every byte
    engine-reproducible, so the driver hash certifies the sketch AND the
    (k-1)/U_(k) estimator, not just an error bound (the portability
    discipline of q_heavy_hitters, applied to distinct counting). Exact
    distinct per group rides along as the error witness. Scale shape:
    one distinct-hash combiner shuffle of 16-byte keys, then a rank-
    pushdown top-k window — per-group state is k rows regardless of
    cardinality, and sketches merge by union + re-take-k (pinned in
    tests/test_properties.py)."""
    from etl_demos_spark.operators import sketches as sk

    o = T(spark, sf_dir, "orders")
    sketch = sk.kmv_sketch(o, ("o_orderpriority",), "o_custkey", k=_KMV_K)
    est = sk.kmv_estimate(sketch, ("o_orderpriority",), k=_KMV_K)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority").select(
        F.col("o_orderpriority").alias("priority"),
        "n_kept",
        "est_distinct",
        "exact_distinct",
    )


_QSK_K = 256

_QSK_ORACLE = f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR) AS kk,
               CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS h,
               CAST(l_extendedprice AS DOUBLE) AS v
        FROM lineitem
    ), topk AS (
        SELECT l_returnflag, kk, h, v FROM (
            SELECT l_returnflag, kk, h, v,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY h, kk) AS rn
            FROM s
        ) WHERE rn <= {_QSK_K}
    ), ranked AS (
        SELECT l_returnflag, v,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY v, h, kk) AS vr,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS m
        FROM topk
    )
    SELECT l_returnflag, p, v AS est
    FROM ranked
    CROSS JOIN (
        SELECT CAST(p AS DOUBLE) AS p
        FROM (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p)
    )
    WHERE vr = CAST(ceil(p * m) AS BIGINT)
"""


@workload("q_quantile_sketch", oracle=_QSK_ORACLE, tags=("ext-sketch",))
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketches.py bottomk_sample/
    sample_quantiles): per-returnflag price quantiles estimated from the
    k=256 rows with the smallest md5 row-key hashes — a deterministic
    bottom-k uniform sample (Cohen & Kaplan 2007), the md5 discipline
    applied to ROW sampling. Because the 'randomness' is the portable
    hash, every engine picks the identical sample and the driver hash
    certifies sample AND estimates end-to-end (where KLL/t-digest
    internals would be engine-private). Estimates are type-1 sample
    quantiles at rank ceil(p·m) — no interpolation arithmetic to
    diverge on; error is the standard O(1/√k) sample-quantile bound,
    independent of corpus size. Scale shape: one combiner-friendly
    (group, hash) shuffle + one rank-pushdown top-k window (per-group
    state = k rows); shards merge by union + re-rank (set-min commutes
    with union — pinned in tests/test_properties.py)."""
    from etl_demos_spark.operators import sketches as sk

    li = T(spark, sf_dir, "lineitem")
    li = li.withColumn("__v", F.col("l_extendedprice").cast("double"))
    sample = sk.bottomk_sample(
        li,
        ("l_returnflag",),
        "__v",
        F.concat_ws(":", "l_orderkey", "l_linenumber"),
        k=_QSK_K,
    )
    return sk.sample_quantiles(
        sample, ("l_returnflag",), "__v", probs=(0.25, 0.5, 0.75, 0.95)
    ).select("l_returnflag", "p", F.col("est").alias("est"))


@workload(
    "q_sketch_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           CAST(COUNT(*) AS BIGINT) AS rows_in,
           TRUE AS hll_within_2pct
    FROM events
    GROUP BY event_type
    """,
    tags=("ext-sketch",),
)
def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) HLL partials of
    user_id, re-aggregated to event_type by sketch union — the
    pre-aggregate-once pattern (operators/sketches.py). Hash-checked
    columns are the exact distinct count and row count; the sketch
    estimate is surfaced as a within-2% boolean because DuckDB cannot
    reproduce DataSketches binaries (exact mergeability — union of
    dailies == whole-corpus sketch — is asserted in
    tests/test_scale_utils.py)."""
    from etl_demos_spark.operators import sketches

    ev = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = sketches.distinct_sketches(ev, ("event_type", "day"), "user_id")
    rolled = sketches.merge_sketch_rollup(daily, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "rows_in",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * 0.02
            ).alias("hll_within_2pct"),
        )
    )


_HLL_ORACLE = """
    WITH h AS (
        SELECT l_returnflag AS g,
               CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM lineitem
    ), b AS (
        SELECT g, h % 256 AS bucket,
               CASE WHEN (h // 256) = 0 THEN 53
                    ELSE 53 - length(bin(h // 256)) END AS rho
        FROM h
    ), reg AS (
        SELECT g, bucket, MAX(rho) AS r FROM b GROUP BY g, bucket
    ), a AS (
        SELECT g,
               CAST(256 - COUNT(*) AS BIGINT) AS zeros,
               CAST(SUM(1::BIGINT << (53 - r))
                    + (256 - COUNT(*)) * (1::BIGINT << 53) AS BIGINT) AS s_int
        FROM reg GROUP BY g
    )
    SELECT g AS l_returnflag, zeros, s_int,
           ROUND(CASE WHEN (4.707271267120224e4 * 9.007199254740992e15
                            / CAST(s_int AS DOUBLE)) <= 640.0
                       AND zeros > 0
                      THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                      ELSE 4.707271267120224e4 * 9.007199254740992e15
                           / CAST(s_int AS DOUBLE) END,
                 4) AS est
    FROM a
    """


@workload("q_hll_distinct", oracle=_HLL_ORACLE, tags=("ext-sketch",))
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (operators/sketches.py hll_registers /
    hll_estimate): md5-derived registers any engine reproduces — unlike
    q_sketch_rollup's DataSketches binaries (estimate only bound-checked
    there), here the driver hash certifies the EXACT integer harmonic
    sum s_int (every register collectively, absent buckets included)
    AND the final estimate, both branches of the small-range correction
    included. One combiner-friendly max-agg per (group, bucket): the
    shuffle carries ≤ 256 rows per group per partition at any corpus
    size. At sf0.001 the distinct count sits below 2.5m → linear
    counting branch; at sf0.01 it clears it → raw harmonic branch, so
    the two scales jointly exercise both code paths."""
    from etl_demos_spark.operators import sketches as sk

    li = T(spark, sf_dir, "lineitem")
    regs = sk.hll_registers(li, ("l_returnflag",), "l_orderkey")
    return sk.hll_estimate(regs, ("l_returnflag",))


_KMV_OVERLAP_ORACLE = """
    WITH ha AS (
        SELECT o_orderpriority AS g,
               CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2
    ), ka AS (
        SELECT g, h FROM (
            SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM ha) WHERE rn <= 64
    ), hb AS (
        SELECT o_orderpriority AS g,
               CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1, 2
    ), kb AS (
        SELECT g, h FROM (
            SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM hb) WHERE rn <= 64
    ), m AS (
        SELECT COALESCE(ka.g, kb.g) AS g, COALESCE(ka.h, kb.h) AS h,
               CASE WHEN ka.h IS NULL THEN 0 ELSE 1 END AS in_a,
               CASE WHEN kb.h IS NULL THEN 0 ELSE 1 END AS in_b
        FROM ka FULL OUTER JOIN kb ON ka.g = kb.g AND ka.h = kb.h
    ), t AS (
        SELECT g, h, in_a, in_b,
               row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM m
    ), a AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS kept, MAX(h) AS kth,
               CAST(SUM(in_a * in_b) AS BIGINT) AS k_inter
        FROM t WHERE rn <= 64 GROUP BY g
    )
    SELECT g AS o_orderpriority, kept, k_inter,
           ROUND(CAST(k_inter AS DOUBLE) / CAST(kept AS DOUBLE), 4) AS jacc,
           ROUND(CASE WHEN kept < 64 THEN CAST(kept AS DOUBLE)
                 ELSE 63.0 / (CAST(kth AS DOUBLE) / 1.152921504606847e18)
                 END, 4) AS est_union,
           ROUND((CAST(k_inter AS DOUBLE) / CAST(kept AS DOUBLE))
                 * (CASE WHEN kept < 64 THEN CAST(kept AS DOUBLE)
                    ELSE 63.0 / (CAST(kth AS DOUBLE) / 1.152921504606847e18)
                    END), 4) AS est_inter
    FROM a
    """


@workload("q_kmv_overlap", oracle=_KMV_OVERLAP_ORACLE, tags=("ext-sketch",))
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates (operators/sketches.py
    kmv_set_estimate, Beyer et al. SIGMOD 2007): per order priority,
    how much do the completed-order and open-order customer
    populations overlap — answered from two 64-row sketches, never a
    distinct-join over the raw sets (the corpus-overlap / train-eval
    contamination-rate question at 100 TB). Jaccard, union and
    intersection estimates are deterministic md5/integer state plus
    rounded divisions, so the driver hash certifies them all; exact
    below k. Registered _LATE (paired, hash-verified every local run);
    the sketch family's in-window slots are q_kmv_distinct +
    q_hll_distinct."""
    from etl_demos_spark.operators import sketches as sk

    o = T(spark, sf_dir, "orders")
    a = sk.kmv_sketch(
        o.filter(F.col("o_orderstatus") == "F"),
        ("o_orderpriority",), "o_custkey", k=_KMV_K,
    )
    b = sk.kmv_sketch(
        o.filter(F.col("o_orderstatus") == "O"),
        ("o_orderpriority",), "o_custkey", k=_KMV_K,
    )
    return sk.kmv_set_estimate(a, b, ("o_orderpriority",), k=_KMV_K)


_LINSCORE_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok WHERE tok <> '' GROUP BY 1, 2
    ), w AS (
        SELECT i AS bucket,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2001 - 1000 AS w_int
        FROM range(4096) t(i)
    ), s AS (
        SELECT doc_id,
               CAST(SUM(cnt * w_int) AS BIGINT) AS score_milli
        FROM feats JOIN w USING (bucket)
        GROUP BY doc_id
    )
    SELECT doc_id, score_milli,
           ROUND(1.0 / (1.0 + exp(-(CAST(score_milli AS DOUBLE) / 1000.0))),
                 4) AS prob
    FROM s
    """


@workload("q_linear_score", oracle=_LINSCORE_ORACLE, tags=("ext-classify",))
def q_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear inference inside the pipeline
    (operators/classifier.py): hashed bag-of-words (one codegen'd
    explode → md5 bucket → count pass), broadcast dense weight join,
    EXACT int64 milli-weight dot product — the only double op is the
    final sigmoid, so the driver hash certifies model inference
    end-to-end (score integers exactly, probability at 4 decimals).
    Weights here are the deterministic seeded fixture model both
    engines derive from md5 (seeded_milli_weights); a deployment swaps
    in a trained table, same plan. No Python in the hot path."""
    from etl_demos_spark.operators import classifier as clf

    d = T(spark, sf_dir, "documents")
    feats = clf.hashed_features(d, "text", "doc_id", 4096)
    w = spark.range(4096).select(
        F.col("id").alias("bucket"),
        clf.seeded_milli_weights(F.col("id")).alias("w_int"),
    )
    return clf.linear_score_milli(feats, w, "doc_id")


@workload("q_train_classifier", oracle=None, tags=("ext-classify",))
def q_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training + prediction
    (operators/classifier.py train_logreg): batch GD over hashed
    features with the int64 nano-weight discipline — margins and
    gradients are exact order-independent integer sums, so the whole
    3-iteration run is bit-deterministic on any partitioning
    (replicated weight-for-weight by a sequential Python reference in
    tests/test_classifier.py — that pin is the oracle; iterative
    training itself is not SQL-expressible → rows-only). Per iteration:
    one doc-keyed + one bucket-keyed combiner shuffle; only ≤ n_buckets
    integers ever reach the driver (the k-means centroid pattern).
    Trains y = (lang = 'en') on the documents corpus."""
    from etl_demos_spark.operators import classifier as clf

    d = T(spark, sf_dir, "documents")
    feats = clf.hashed_features(d, "text", "doc_id", 512)
    lab = d.select(
        "doc_id", (F.col("lang") == "en").cast("long").alias("y")
    )
    w = clf.train_logreg(feats, lab, n_buckets=512, lr=0.5, iters=3)
    return clf.predict(feats, w, "doc_id").select(
        "doc_id", "prob", "pred"
    )


_DSIR_ORACLE = """
    WITH d AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), tok AS (
        SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS g FROM d
    ), big AS (
        SELECT a.doc_id, a.g || ' ' || b.g AS g
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), grams AS (
        SELECT doc_id, g FROM tok UNION ALL SELECT doc_id, g FROM big
    ), feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 2048 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams GROUP BY 1, 2
    ), r AS (
        SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr FROM feats GROUP BY bucket
    ), t2 AS (
        SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS ct
        FROM feats JOIN documents USING (doc_id)
        WHERE lang = 'en' GROUP BY bucket
    ), j AS (
        SELECT r.bucket, COALESCE(t2.ct, 0) AS ct, r.cr,
               SUM(COALESCE(t2.ct, 0)) OVER () AS tott,
               SUM(r.cr) OVER () AS totr
        FROM r LEFT JOIN t2 USING (bucket)
    ), lam AS (
        SELECT bucket,
               CAST(ROUND((ln(CAST(ct + 1 AS DOUBLE))
                           - ln(CAST(tott + 2048 AS DOUBLE))
                           - ln(CAST(cr + 1 AS DOUBLE))
                           + ln(CAST(totr + 2048 AS DOUBLE))) * 1.0e6, 0)
                    AS BIGINT) AS lr_unats
        FROM j
    ), s AS (
        SELECT doc_id, CAST(SUM(cnt * lr_unats) AS BIGINT) AS score_unats
        FROM feats JOIN lam USING (bucket) GROUP BY doc_id
    ), keyed AS (
        SELECT doc_id, score_unats,
               CAST(score_unats AS DOUBLE) / 1.0e6
               - ln(-ln(((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 15) AS BIGINT)
                          % 4503599627370496) + 0.5)
                        / 4503599627370496.0)) AS key
        FROM s
    )
    SELECT doc_id, score_unats, CAST(rn AS BIGINT) AS rn FROM (
        SELECT doc_id, score_unats,
               row_number() OVER (ORDER BY key DESC, doc_id) AS rn
        FROM keyed
    ) sub WHERE rn <= 100
    """


@workload("q_dsir_select", oracle=_DSIR_ORACLE, tags=("ext-trainprep",))
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py, Xie et al. 2023):
    hashed unigram+bigram features in one codegen'd pass, two
    bucket-keyed combiner aggs collapse the corpus to a ≤ 2048-row
    log-ratio table (quantized to integer micro-nats — the only libm
    call sits behind a 1e-6 quantizer), per-doc importance scores as
    exact int64 dot products against the broadcast table, and Gumbel
    top-k selection keyed on the portable md5 uniform — deterministic,
    replayable 'random' sampling ∝ exp(score). Target domain here:
    lang='en' documents. The driver hash certifies features,
    distributions, exact scores, AND the sampled selection itself."""
    from etl_demos_spark.operators import dsir

    d = T(spark, sf_dir, "documents")
    tgt = d.filter(F.col("lang") == "en").select("doc_id")
    return dsir.dsir_select(d, tgt, k=100, n_buckets=2048)




_NEG_SAMPLE_ORACLE = """
    WITH cnt AS (
        SELECT l_partkey AS item, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), wt AS (
        SELECT item,
               CAST(round(pow(CAST(c AS DOUBLE), 0.75) * 1000, 0) AS BIGINT) AS w
        FROM cnt
    ), cdf AS (
        SELECT item, w,
               CAST(SUM(w) OVER (ORDER BY item
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_hi
        FROM wt
    ), cdf2 AS (
        SELECT item, cum_hi - w AS cum_lo, cum_hi FROM cdf
    ), tot AS (
        SELECT MAX(cum_hi) AS W FROM cdf2
    ), anch AS (
        SELECT DISTINCT o_custkey AS anchor FROM orders WHERE o_custkey < 100
    ), draws AS (
        SELECT anchor, slot,
               CAST('0x' || substr(md5('neg0' || ':' ||
                   CAST(anchor AS VARCHAR) || ':' ||
                   CAST(slot AS VARCHAR)), 1, 15) AS BIGINT) % W AS u
        FROM anch
        CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS slot)
        CROSS JOIN tot
    ), hits AS (
        SELECT d.anchor, d.slot, c.item, d.u
        FROM draws d
        JOIN cdf2 c ON d.u >= c.cum_lo AND d.u < c.cum_hi
    ), pos AS (
        SELECT DISTINCT o.o_custkey AS anchor, l.l_partkey AS item
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT h.anchor, CAST(h.slot AS BIGINT) AS slot, h.item, CAST(h.u AS BIGINT) AS u
    FROM hits h
    LEFT JOIN pos p ON p.anchor = h.anchor AND p.item = h.item
    WHERE p.anchor IS NULL
"""


@workload("q_neg_sample", oracle=_NEG_SAMPLE_ORACLE, tags=("ext-trainprep",))
def q_neg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-weighted negative sampling (operators/negsample.py,
    Mikolov et al. 2013 unigram^0.75): 5 deterministic draws per anchor
    customer from the part-popularity CDF, accidental positives (parts
    the customer actually bought) anti-joined away. Every draw is a
    pure function of (seed, anchor, slot) via the portable md5 uniform,
    so runs, backfills, and engines pick identical negatives — the
    driver hash certifies the sampler end-to-end (weights → integer
    CDF → draws → inversion → exclusion). The one libm pow() is
    quantized at 1e-3 before the exact-int64 cumulative sum (DSIR
    discipline). Spark inverts the CDF with a bucketed EQUI-join
    (items replicate to the weight-line buckets their interval
    touches; each draw computes one bucket) — hash-partitionable,
    per-draw fan-out ≈ max(1, V/B), never a V-row range probe."""
    from etl_demos_spark.operators import negsample as ns

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    counts = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cdf = ns.popularity_cdf(counts, "item", "cnt", alpha=0.75, scale=1000)
    anchors = o.filter(F.col("o_custkey") < 100).select(
        F.col("o_custkey").alias("anchor")
    )
    positives = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("anchor"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    out = ns.sample_negatives(
        anchors, cdf, k=5, anchor_col="anchor", seed="neg0",
        positives=positives, pos_item_col="item",
    )
    return out.select(
        "anchor", F.col("slot").cast("long").alias("slot"), "item", "u"
    )

_PPMI_ORACLE = """
    WITH d AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), tok AS (
        SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS w FROM d
    ), pr AS (
        SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2
        FROM tok a
        CROSS JOIN (VALUES (1), (2)) o(dd)
        JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + o.dd
    ), p AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair
        FROM pr GROUP BY 1, 2
        HAVING COUNT(*) >= 5
    ), marg AS (
        SELECT w, CAST(SUM(c_pair) AS BIGINT) AS c_w FROM (
            SELECT w1 AS w, c_pair FROM p
            UNION ALL SELECT w2 AS w, c_pair FROM p
        ) GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(c_pair) AS BIGINT) AS n_tot FROM p
    )
    SELECT p.w1, p.w2, p.c_pair,
           ROUND(GREATEST(ln((CAST(p.c_pair AS DOUBLE) * CAST(tot.n_tot AS DOUBLE))
                             / (CAST(m1.c_w AS DOUBLE) * CAST(m2.c_w AS DOUBLE))), 0.0),
                 6) AS ppmi
    FROM p
    JOIN marg m1 ON m1.w = p.w1
    JOIN marg m2 ON m2.w = p.w2
    CROSS JOIN tot
    """


@workload("q_ppmi", oracle=_PPMI_ORACLE, tags=("ext-cooccur",))
def q_ppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI token co-occurrence matrix (operators/cooccur.py, Church &
    Hanks 1990 — the word2vec/GloVe distributional-embedding prep):
    positions explode once, a bounded ±2 offset join replaces the
    quadratic within-window self-join (pair rows ∝ tokens × window),
    margins re-aggregate from the pair table (text read once), and the
    single ln runs over exact integer ratios → the driver hash
    certifies the whole matrix at 6 decimals."""
    from etl_demos_spark.operators import cooccur

    d = T(spark, sf_dir, "documents")
    pairs = cooccur.token_pair_counts(d, "text", "doc_id", window=2)
    return cooccur.ppmi_scores(pairs, min_pair=5)




_LPA_ROUND = """
    , r{i} AS (
        SELECT u.n AS node, l.community, COUNT(*) AS c
        FROM und u JOIN l{p} l ON l.node = u.m
        GROUP BY 1, 2
    ), l{i} AS (
        SELECT node, community FROM (
            SELECT node, community,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, community) AS rn
            FROM r{i}
        ) WHERE rn = 1
    )
"""

_LPA_ORACLE = (
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), sized AS (
        SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64
    ), kept AS (
        SELECT i.basket, i.item FROM items i JOIN sized USING (basket)
    ), e AS (
        SELECT a.item AS a, b.item AS b
        FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), und AS (
        SELECT a AS n, b AS m FROM e
        UNION ALL
        SELECT b AS n, a AS m FROM e
    ), l0 AS (
        SELECT DISTINCT n AS node, n AS community FROM und
    )
"""
    + _LPA_ROUND.format(i=1, p=0)
    + _LPA_ROUND.format(i=2, p=1)
    + _LPA_ROUND.format(i=3, p=2)
    + "SELECT node, community FROM l3"
)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-≥2 co-purchase edge list, built inline from the parquet
    inputs every evaluation (no cross-run persistence: a certified
    query must compute from its declared inputs each run). The graph
    operators downstream materialize the undirected edge table once per
    evaluation themselves, so basket_pairs runs exactly once per call;
    its cost is part of the query's honest wall."""
    from etl_demos_spark.operators import cooccur

    li = T(spark, sf_dir, "lineitem")
    return cooccur.basket_pairs(
        li, "l_orderkey", "l_partkey", max_basket=64, min_support=2
    ).select(F.col("item_a").alias("a"), F.col("item_b").alias("b"))



@workload("q_label_prop", oracle=_LPA_ORACLE, tags=("ext-graph",))
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation (operators/graph.py:label_propagation, Raghavan et al.
    2007) over the support-≥2 co-purchase graph: 3 rounds of
    most-frequent-neighbor-label with smallest-label tie-break. The
    async textbook LPA depends on visit order; this synchronous
    min-tie-break form is a pure function of the edge set, which is
    what lets a DuckDB oracle replay it as three unrolled CTE rounds
    and the driver hash certify the whole community assignment. Per
    round: one |E| join + one (node,label) combiner agg + one per-node
    window top-1, lineage truncated per round (the pagerank
    localCheckpoint discipline). Edge list is built inline from
    lineitem every evaluation (_copurchase_edges)."""
    from etl_demos_spark.operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    return graph.label_propagation(edges, iters=3, src="a", dst="b")


# One unrolled BFS round: relax (min over in-neighbors of dist+1), then
# merge with the carried distances. d{i} MUST be MATERIALIZED — each
# round reads its predecessor twice (carry + relax), and plain-CTE
# inlining would re-expand the pipeline 2^rounds times (the q_pagerank
# lesson). All-integer state: nothing to quantize, nothing to tie-break.
_BFS_INF = 1 << 62
_BFS_ROUND = f"""
    , x{{i}} AS (
        SELECT u.n AS node, MIN(d.dist + 1) AS d
        FROM und u JOIN d{{p}} d ON d.node = u.m
        GROUP BY u.n
    ), d{{i}} AS MATERIALIZED (
        SELECT node,
               LEAST(COALESCE(a.dist, {_BFS_INF}),
                     COALESCE(x.d, {_BFS_INF})) AS dist
        FROM d{{p}} a FULL JOIN x{{i}} x USING (node)
    )
"""

_BFS_ORACLE = (
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), sized AS (
        SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64
    ), kept AS (
        SELECT i.basket, i.item FROM items i JOIN sized USING (basket)
    ), e AS (
        SELECT a.item AS a, b.item AS b
        FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), und AS MATERIALIZED (
        SELECT a AS n, b AS m FROM e
        UNION ALL
        SELECT b AS n, a AS m FROM e
    ), d0 AS MATERIALIZED (
        SELECT node, CAST(0 AS BIGINT) AS dist FROM (
            SELECT DISTINCT n AS node FROM und ORDER BY node LIMIT 3
        )
    )
"""
    + "".join(_BFS_ROUND.format(i=i, p=i - 1) for i in range(1, 5))
    + "SELECT node, dist FROM d4"
)


@workload("q_bfs_dist", oracle=_BFS_ORACLE, tags=("ext-graph",))
def q_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded multi-source BFS (operators/graph.py:bfs_distances)
    over the support-≥2 co-purchase graph: shortest-path distance from
    the 3 smallest item ids within 4 hops — the 'within-k-hops of a
    trusted seed set' curation prior (grade a link graph by proximity
    to a vetted whitelist before sampling from it). All-integer
    synchronous Bellman-Ford rounds: a pure function of (edges, seeds,
    hops) with no quantization or tie-break care at all, so the DuckDB
    oracle replays every round as unrolled materialized CTEs and the
    driver hash certifies the full distance table. Per round one |E|
    join + one node-keyed min agg; unreached nodes are absent (bounded
    frontier — the transitive closure is never materialized). Edge
    list is built inline from lineitem every evaluation
    (_copurchase_edges)."""
    from etl_demos_spark.operators import graph
    from etl_demos_spark.operators.matutil import materialize_reused

    # referenced by BOTH the seed derivation and bfs_distances' edge
    # expansion: without this the whole basket_pairs build ran twice
    # per evaluation (one full lineitem pass each — caught in the r11
    # optimization profile)
    edges = materialize_reused(_copurchase_edges(spark, sf_dir))
    und_nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    seeds = und_nodes.orderBy("node").limit(3)
    return graph.bfs_distances(edges, seeds, iters=4, src="a", dst="b")

_COPURCHASE_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), sized AS (
        SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64
    ), kept AS (
        SELECT i.basket, i.item FROM items i JOIN sized USING (basket)
    )
    SELECT a.item AS item_a, b.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """


@workload("q_copurchase", oracle=_COPURCHASE_ORACLE, tags=("ext-cooccur",))
def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (operators/cooccur.py basket_pairs):
    distinct items per order, oversized baskets dropped (the standard
    guard bounding the quadratic pair fan-out — at 100 TB a single
    pathological session cannot blow up the join), one basket-keyed
    self-join, combiner-friendly pair-count agg, support ≥ 2.
    Registered _LATE; the co-occurrence family's driver slot is
    q_ppmi."""
    from etl_demos_spark.operators import cooccur

    li = T(spark, sf_dir, "lineitem")
    return cooccur.basket_pairs(
        li, "l_orderkey", "l_partkey", max_basket=64, min_support=2
    )


_TRIANGLES_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), sized AS (
        SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64
    ), kept AS (
        SELECT i.basket, i.item FROM items i JOIN sized USING (basket)
    ), e AS (
        SELECT a.item AS a, b.item AS b
        FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e ab
    JOIN e bc ON bc.a = ab.b
    JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    """


@workload("q_triangles", oracle=_TRIANGLES_ORACLE, tags=("ext-cooccur",))
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count (operators/cooccur.py triangle_count) over the
    support-≥2 co-purchase graph: the join-based algorithm on the
    (a < b)-canonicalized edge list — wedges from e⋈e closed by a
    third hash join, each triangle counted once via the total order.
    Support pruning runs BEFORE the joins so wedge fan-out ∝ surviving
    edges. Registered _LATE; family slot is q_ppmi."""
    from etl_demos_spark.operators import cooccur

    li = T(spark, sf_dir, "lineitem")
    edges = cooccur.basket_pairs(
        li, "l_orderkey", "l_partkey", max_basket=64, min_support=2
    )
    return cooccur.triangle_count(edges)


_ITEMSIM_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ), sized AS (
        SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64
    ), kept AS (
        SELECT i.basket, i.item FROM items i JOIN sized USING (basket)
    ), p AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), marg AS (
        SELECT item, CAST(SUM(support) AS BIGINT) AS deg FROM (
            SELECT item_a AS item, support FROM p
            UNION ALL SELECT item_b AS item, support FROM p
        ) GROUP BY item
    )
    SELECT p.item_a, p.item_b, p.support,
           ROUND(CAST(p.support AS DOUBLE)
                 / sqrt(CAST(ma.deg AS DOUBLE) * CAST(mb.deg AS DOUBLE)), 6) AS cosine
    FROM p
    JOIN marg ma ON ma.item = p.item_a
    JOIN marg mb ON mb.item = p.item_b
    """


@workload("q_item_sim", oracle=_ITEMSIM_ORACLE, tags=("ext-cooccur",))
def q_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based recommender scoring (operators/cooccur.py
    item_cosine_from_pairs, Sarwar et al. 2001): cosine on implicit
    feedback computed entirely from the co-occurrence pair table —
    degrees re-aggregate from pairs (raw baskets read once), one sqrt
    per surviving pair over exact integers. Registered _LATE; family
    slot q_ppmi."""
    from etl_demos_spark.operators import cooccur

    li = T(spark, sf_dir, "lineitem")
    pairs = cooccur.basket_pairs(
        li, "l_orderkey", "l_partkey", max_basket=64, min_support=2
    )
    return cooccur.item_cosine_from_pairs(pairs)


_MARKOV_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ), c AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c_trans
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT cur, CAST(SUM(c_trans) AS BIGINT) AS c_cur FROM c GROUP BY cur
    )
    SELECT c.cur, c.nxt, c.c_trans,
           ROUND(CAST(c.c_trans AS DOUBLE) / CAST(tot.c_cur AS DOUBLE), 6)
               AS p_trans
    FROM c JOIN tot ON tot.cur = c.cur
    """


@workload("q_markov_transitions", oracle=_MARKOV_ORACLE, tags=("ext-cooccur",))
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams
    (operators/cooccur.py transition_counts) — the next-event-
    prediction / session-model prep: one key-partitioned window lead
    with a total order (ts, event_id tie-break → deterministic), exact
    pair counts, conditional probabilities as one rounded division.
    Extends q_event_transitions (counts-only, inline) with the
    normalized P(next|cur) matrix via the REUSABLE operator —
    transition_counts works on any (key, order, state) triple, not
    just events. Registered _LATE; in-window relatives
    q_event_sessions + q_event_sliding."""
    from etl_demos_spark.operators import cooccur

    ev = T(spark, sf_dir, "events")
    return cooccur.transition_counts(
        ev, "user_id", ("ts", "event_id"), "event_type"
    )


_PSI_SPLIT = "2024-01-16 00:00:00"      # month midpoint (naive UTC)
_PSI_ORACLE = """
    WITH rb AS (
        SELECT LEAST(9, GREATEST(0,
                   CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT)))
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS c_ref
        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY 1
    ), cb AS (
        SELECT LEAST(9, GREATEST(0,
                   CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT)))
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS c_cur
        FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY 1
    ), allbins AS (
        SELECT i AS bin FROM range(10) t(i)
    ), j AS (
        SELECT allbins.bin,
               COALESCE(rb.c_ref, 0) + 1 AS sr,
               COALESCE(cb.c_cur, 0) + 1 AS sc
        FROM allbins
        LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
    ), t AS (
        SELECT sr, sc, SUM(sr) OVER () AS tr, SUM(sc) OVER () AS tc FROM j
    ), terms AS (
        SELECT ROUND((CAST(sr AS DOUBLE) / CAST(tr AS DOUBLE)
                      - CAST(sc AS DOUBLE) / CAST(tc AS DOUBLE))
                     * ln((CAST(sr AS DOUBLE) / CAST(tr AS DOUBLE))
                          / (CAST(sc AS DOUBLE) / CAST(tc AS DOUBLE))),
                     9) AS term,
               tr, tc
        FROM t
    )
    SELECT ROUND(SUM(term), 9) AS psi,
           CAST(MAX(tr) - 10 AS BIGINT) AS n_ref,
           CAST(MAX(tc) - 10 AS BIGINT) AS n_cur
    FROM terms
    """


@workload("q_psi_drift", oracle=_PSI_ORACLE, tags=("ext-features",))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (operators/features.py
    psi_drift): events `value` in the first half of the month vs the
    second — fixed-width bins over [0, 500] (fixed cuts, so engines
    and days bin identically; edges clamp), +1 Laplace smoothing keeps
    empty bins finite, two n_bins-row combiner aggs, per-bin
    (p−q)·ln(p/q) terms rounded 9 then summed. The deployed-model
    monitoring primitive at 100 TB: output ∝ bins, never rows.
    Registered _LATE; the binning/moment machinery's in-window relative
    is q_feature_scale."""
    from etl_demos_spark.operators.features import psi_drift

    ev = T(spark, sf_dir, "events")
    split = F.lit(_PSI_SPLIT).cast("timestamp_ntz")
    ref = ev.filter(F.col("ts") < split)
    cur = ev.filter(F.col("ts") >= split)
    return psi_drift(ref, cur, "value", lo=0.0, hi=500.0, n_bins=10)


_ABTEST_ORACLE = """
    WITH u AS (
        SELECT user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ), v AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_conv
        FROM u GROUP BY variant
    ), w AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
            MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
            MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
            MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
        FROM v
    )
    , se AS (
        SELECT *,
               sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE)
                             / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / CAST(n0 AS DOUBLE)
                       + 1.0 / CAST(n1 AS DOUBLE))) AS s
        FROM w
    )
    SELECT n0, c0, n1, c1,
           ROUND(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate0,
           ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate1,
           ROUND(CASE WHEN s > 0
                      THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                            - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / s
                      ELSE 0.0 END, 4) AS z,
           CASE WHEN s > 0
                THEN abs((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                          - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / s)
                     > 1.96
                ELSE FALSE END AS significant
    FROM se
    """


@workload("q_ab_test", oracle=_ABTEST_ORACLE, tags=("ext-stats",))
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test with deterministic assignment: variant =
    md5(user) % 2 (the portable hash-split discipline — replayable,
    engine-reproducible, no assignment table to store), conversion =
    any purchase event, pooled two-proportion z-statistic and the 95%
    significance verdict — exact integer counts everywhere, doubles
    only in the final ratio/sqrt expression both engines share. One
    user-keyed agg + one 2-row agg: experiment readout costs two
    combiner shuffles at any corpus size."""
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    from etl_demos_spark.operators.dedup import md5_long

    u = u.select(
        (md5_long(F.col("user_id").cast("string")) % 2).alias("variant"),
        "converted",
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    pooled = (c0 + c1) / (n0 + n1)
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    # degenerate experiments (0% or 100% pooled conversion) have no
    # defined z; report 0 / not-significant instead of dividing by zero
    z = F.when(se > 0, (c1 / n1 - c0 / n0) / se).otherwise(F.lit(0.0))
    return w.select(
        "n0", "c0", "n1", "c1",
        F.round(c0 / n0, 6).alias("rate0"),
        F.round(c1 / n1, 6).alias("rate1"),
        F.round(z, 4).alias("z"),
        F.when(se > 0, F.abs(z) > 1.96).otherwise(F.lit(False)).alias("significant"),
    )


_SEASONAL_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), j AS (
        SELECT a.event_type, a.d, a.n, b.n AS pred
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.d = a.d - 7
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(abs(n - pred)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mae
    FROM j GROUP BY event_type
    """


@workload("q_seasonal_naive", oracle=_SEASONAL_ORACLE, tags=("ext-stats",))
def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline + MAE evaluation: predict each
    day's event count with the same weekday last week (an exact-offset
    date join, robust to gaps where a window lag-7-rows is not), score
    by mean absolute error — the forecasting-eval primitive every
    metrics pipeline needs before anything fancier earns its keep.
    Exact integer counts and |diffs|; one rounded division per group.
    Daily pre-aggregation means the comparison costs days × types,
    never raw rows."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    pred = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("n").alias("pred"),
    )
    j = daily.join(pred, ["event_type", "d"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum(F.abs(F.col("n") - F.col("pred"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mae"),
    )


_BOOTSTRAP_ORACLE = """
    WITH base AS (
        SELECT event_id AS id,
               CAST(ROUND(CAST(value AS DOUBLE) * 100.0, 0) AS BIGINT) AS v
        FROM events
    ), reps AS (
        SELECT id, v, i AS b FROM base CROSS JOIN range(50) t(i)
    ), uw AS (
        SELECT b, v,
               ((CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                                     || CAST(b AS VARCHAR)), 1, 15)
                      AS BIGINT) % 4503599627370496) + 0.5)
               / 4503599627370496.0 AS u
        FROM reps
    ), w AS (
        SELECT b, v,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238463 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    WHEN u < 0.9994058151824183 THEN 5
                    WHEN u < 0.999916758850712 THEN 6
                    WHEN u < 0.9999897508033253 THEN 7
                    ELSE 8 END AS wt
        FROM uw
    ), per_rep AS (
        SELECT b, CAST(SUM(wt * v) AS BIGINT) AS s,
               CAST(SUM(wt) AS BIGINT) AS n
        FROM w GROUP BY b
    ), means AS (
        SELECT b, ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
            AS m
        FROM per_rep WHERE n > 0
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS rn,
               COUNT(*) OVER () AS nb
        FROM means
    ), ci AS (
        SELECT MAX(CASE WHEN rn = CAST(ceil(0.025 * nb) AS INTEGER)
                        THEN m END) AS ci_lo,
               MAX(CASE WHEN rn = CAST(ceil(0.975 * nb) AS INTEGER)
                        THEN m END) AS ci_hi
        FROM ranked
    ), overall AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     / 100.0, 6) AS mean
        FROM base
    )
    SELECT n_rows, mean, ci_lo, ci_hi, CAST(50 AS BIGINT) AS n_replicas
    FROM overall CROSS JOIN ci
    """


@workload("q_bootstrap_ci", oracle=_BOOTSTRAP_ORACLE, tags=("ext-stats",))
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value
    (operators/features.py poisson_bootstrap_ci, Chamandy et al. 2012
    — THE one-pass bootstrap at cluster scale: per-row independent
    Poisson(1) weights replace multinomial resampling, so no global
    coordination and no reshuffle of raw data). Weights derive from
    the portable md5 uniform of (id, replica) → deterministic,
    replayable, and the replica sums are exact int64 over integer-cent
    values (the Gram-pass discipline) — the driver hash certifies all
    50 replica means, both order-statistic
    CI bounds, and the point estimate. Registered _LATE; the
    uncertainty-stats relatives are q_ab_test (late) and in-window
    q_feature_scale."""
    from etl_demos_spark.operators.features import poisson_bootstrap_ci

    ev = T(spark, sf_dir, "events")
    return poisson_bootstrap_ci(
        ev, "value", "event_id", n_replicas=50, alpha=0.05
    )


_MAD_ORACLE = """
    WITH med AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS ad,
               e.value AS v
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, ROUND(quantile_cont(ad, 0.5), 6) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type, d.med, m2.mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(d.v - d.med) > 1.4826 * m2.mad * 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY 1, 2, 3
    """


@workload("q_anomaly_mad", oracle=_MAD_ORACLE, tags=("ext-stats",))
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly counts (operators/features.py
    mad_outlier_counts): median + MAD with the 1.4826 consistency
    constant, |x − med| > 3σ̂ flags — the outlier monitor that survives
    heavy tails where mean/stddev breaks. Exact interpolated
    percentiles (Spark percentile ≡ DuckDB quantile_cont, the repo's
    established pairing), per-group scalars broadcast back between the
    two passes. The distributional complement of q_rolling_anomaly
    (temporal z-score against a preceding frame): MAD flags global
    heavy-tail outliers, the rolling form flags sudden local shifts.
    Registered _LATE; relatives q_feature_scale (in-window) +
    q_psi_drift."""
    from etl_demos_spark.operators.features import mad_outlier_counts

    ev = T(spark, sf_dir, "events")
    return mad_outlier_counts(ev, "event_type", "value", k=3.0)


_OLS_ORACLE = """
    WITH m AS (
        SELECT event_type AS g,
               CAST(ROUND((CAST(ts AS DATE) - DATE '2024-01-01') * 100.0, 0)
                    AS BIGINT) AS x,
               CAST(ROUND(value * 100.0, 0) AS BIGINT) AS y
        FROM events
    ), agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM m GROUP BY g
    )
    SELECT g AS event_type, n,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n AS DOUBLE) * sxx - sx * sx) END,
                 6) AS slope,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                                  / (CAST(n AS DOUBLE) * sxx - sx * sx))
                                 * sx)
                           / CAST(n AS DOUBLE) / 100.0 END,
                 6) AS intercept,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                       AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                      THEN ((CAST(n AS DOUBLE) * sxy - sx * sy)
                            * (CAST(n AS DOUBLE) * sxy - sx * sy))
                           / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                              * (CAST(n AS DOUBLE) * syy - sy * sy)) END,
                 6) AS r2
    FROM agg
    """


@workload("q_trend_ols", oracle=_OLS_ORACLE, tags=("ext-stats",))
def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend (operators/features.py groupwise_ols):
    slope/intercept/r² of event value vs day index, closed-form from
    five moment sums in ONE combiner-friendly pass — inputs quantized
    to 1/100 integers so every moment is an exact order-independent
    sum (the Gram-pass discipline) and both engines share the final
    closed-form doubles verbatim. Zero-variance groups yield NULL,
    not a division error. Registered _LATE; relative q_feature_scale
    (in-window moment machinery)."""
    from etl_demos_spark.operators.features import groupwise_ols

    ev = T(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    m = ev.select("event_type", x.alias("day_idx"), "value")
    return groupwise_ols(m, "event_type", "day_idx", "value", scale=100)


@workload(
    "q_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n FROM documents
    ), w AS (
        SELECT t.doc_id, t.term,
               round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
    ), r AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM w
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
    """,
    tags=("ext-search",),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF vectors (operators/search.py:tfidf_vectors) — the
    corpus feature representation between BM25 postings and dense
    embeddings; here each document's top-3 characteristic terms. The
    vocabulary join is deliberately AQE-planned (|vocab| scales with
    the corpus — a forced broadcast would OOM at 100 TB); the weight is
    rounded before ranking so ULP-level ln() differences can't reorder
    ties, and exact-equal weights break deterministically on term."""
    from etl_demos_spark.operators.search import tfidf_vectors

    d = T(spark, sf_dir, "documents")
    v = tfidf_vectors(d)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        v.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


@workload(
    "q_text_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT term, doc_id, COUNT(*) AS tf
      FROM toks WHERE term IN ('join', 'fast', 'table')
      GROUP BY 1, 2
    ),
    lens AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avg_dl FROM lens
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY 1
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(COUNT(DISTINCT p.term) AS BIGINT) AS n_terms_matched,
             SUM(CAST(round(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
               (p.tf * 2.2) /
               (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avg_dl)),
             9) AS DECIMAL(24,9))) AS bsum
      FROM postings p
      JOIN dfreq d USING (term)
      JOIN lens l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_terms_matched,
           round(CAST(bsum AS DOUBLE), 6) AS bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY round(CAST(bsum AS DOUBLE), 6) DESC,
                                   doc_id ASC) AS BIGINT) AS rank
    FROM scored
    WHERE n_terms_matched = 3
    QUALIFY rank <= 10
    """,
    tags=("ext-text",),
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text conjunctive search: inverted term index + BM25 top-10
    for the query {join, fast, table} (operators/search.py). Postings
    filtered by a literal IN (partition-prunable against a written
    index); per-term scores decimal-summed for hash stability."""
    from etl_demos_spark.operators import search

    d = T(spark, sf_dir, "documents")
    idx = search.build_term_index(d, "doc_id", "text")
    lens = search.doc_lengths(d, "doc_id", "text")
    return search.bm25_search(idx, lens, ["join", "fast", "table"], k=10)


@workload(
    "q_url_curation",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://Sub.' || source || '.example.com/docs/' ||
             CAST(doc_id AS VARCHAR) || '?utm_source=ads&lang=' || lang ||
             '&ref=feed' AS url
      FROM documents
    )
    SELECT doc_id,
           lower(regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1))
             AS host,
           regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]+([^?#]*)', 1)
             AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(
             lower(regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1)),
             '([^.]+\\.[^.]+)$', 1) AS domain,
           lower(regexp_extract(
             regexp_replace(
               regexp_replace(url, '([?&])(?:(?:utm_[a-z]+|ref)=[^&#]*&)+', '\\1'),
               '[?&](utm_[a-z]+|ref)=[^&#]*', ''),
             '^((?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]+)', 1))
           || regexp_replace(
             regexp_replace(
               regexp_replace(url, '([?&])(?:(?:utm_[a-z]+|ref)=[^&#]*&)+', '\\1'),
               '[?&](utm_[a-z]+|ref)=[^&#]*', ''),
             '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]+', '') AS canonical
    FROM urls
    """,
    tags=("ext-text",),
)
def q_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation URL handling (functions/urls.py): component
    extraction, domain rollup key, and tracking-param canonicalization
    over deterministic synthesized URLs (the documents table carries no
    real ones). Pure codegen'd regexps from the Java ∩ RE2 subset — the
    DuckDB oracle runs the byte-identical patterns."""
    from etl_demos_spark.functions import urls as U

    d = T(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id",
        F.concat(
            F.lit("https://Sub."),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=ads&lang="),
            F.col("lang"),
            F.lit("&ref=feed"),
        ).alias("url"),
    )
    return with_url.select(
        "doc_id",
        U.url_host("url").alias("host"),
        U.url_path("url").alias("path"),
        U.url_param("url", "lang").alias("lang_param"),
        U.registered_domain("url").alias("domain"),
        U.canonical_url("url").alias("canonical"),
    )


@workload(
    "q_array_funcs",
    oracle="""
    SELECT o_orderpriority AS priority,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
             AS statuses,
           CAST(len(list_distinct(list(o_orderstatus))) AS BIGINT)
             AS n_statuses,
           list_contains(list_distinct(list(o_orderstatus)), 'F') AS has_f,
           array_to_string(
             list_sort(list_distinct(list(o_orderstatus)))[1:2], ',')
             AS first_two
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("ext-rel",),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/collection function family: collect_set -> sort_array (the
    deterministic form of any collected array - collect order is
    shuffle-dependent), size, membership, slice; arrays surface as
    joined strings because the hash comparator is scalar-typed. DuckDB
    list_* twins."""
    o = T(spark, sf_dir, "orders")
    statuses = F.sort_array(F.collect_set("o_orderstatus"))
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.concat_ws(",", statuses).alias("statuses"),
        F.size(F.collect_set("o_orderstatus")).cast("long").alias("n_statuses"),
        F.array_contains(F.collect_set("o_orderstatus"), "F").alias("has_f"),
        F.concat_ws(",", F.slice(statuses, 1, 2)).alias("first_two"),
    )


@workload(
    "q_quality_report",
    oracle="""
    SELECT 'orders_custkey_not_null' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_orderkey_unique', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'orders_status_accepted', CAST(COUNT(*) AS BIGINT)
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
    UNION ALL
    SELECT 'orders_custkey_relationship', CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    tags=("ext-quality",),
)
def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `dbt test` surface as ONE lazy report: all four
    dbt schema-test kinds (plans/quality.py — not_null, unique,
    accepted_values, relationships) as count-of-violations branches
    unioned into a single DataFrame, the exact shape the reference's
    test runner executes per model (reference dbt/models/staging/
    staging.yml, bank_etl_dag.py test task). accepted_values is
    deliberately violated here ('P' status) so the non-zero path is
    exercised; the FK check plans as a broadcast anti join."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")

    def branch(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), F.col("violations")
        )

    not_null = branch(
        "orders_custkey_not_null", o.filter(F.col("o_custkey").isNull())
    )
    unique = branch(
        "orders_orderkey_unique",
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1),
    )
    accepted = branch(
        "orders_status_accepted",
        o.filter(
            F.col("o_orderstatus").isNotNull()
            & ~F.col("o_orderstatus").isin(["O", "F"])
        ),
    )
    fk = branch(
        "orders_custkey_relationship",
        o.filter(F.col("o_custkey").isNotNull()).join(
            F.broadcast(c.select(F.col("c_custkey").alias("__pk")).distinct()),
            F.col("o_custkey") == F.col("__pk"),
            "left_anti",
        ),
    )
    return not_null.unionByName(unique).unionByName(accepted).unionByName(fk)


@workload(
    "q_bank_mart",
    oracle="""
    WITH cust AS (
      SELECT customer_id,
             CASE WHEN age IS NULL THEN 'unknown'
                  WHEN age BETWEEN 18 AND 29 THEN '18-29'
                  WHEN age BETWEEN 30 AND 39 THEN '30-39'
                  WHEN age BETWEEN 40 AND 49 THEN '40-49'
                  WHEN age >= 50 THEN '50+'
                  ELSE 'unknown' END AS age_band
      FROM read_csv_auto('/root/reference/data/customers.csv')
      WHERE customer_id IS NOT NULL
    ),
    loans AS (
      SELECT customer_id, CAST(default_flag AS INT) AS d
      FROM read_csv_auto('/root/reference/data/auto_loan_default.csv')
    )
    SELECT c.age_band,
           CAST(COUNT(*) AS BIGINT) AS n_loans,
           CAST(SUM(l.d) AS BIGINT) AS n_defaults,
           round(CAST(SUM(l.d) AS DOUBLE) / COUNT(*), 6) AS default_rate
    FROM loans l JOIN cust c USING (customer_id)
    GROUP BY 1
    """,
    tags=("ext-warehouse",),
)
def q_bank_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-model bank warehouse (plans/bank_pipeline.py), driven END
    TO END over the reference's own CSV fixtures and summarized as a
    mart (default rate by age band) — the driver-gate form of the
    'switch engines without changing your data' proof. The oracle
    recomputes the mart independently from the same CSVs, so a hash
    match certifies the registry ingest + staging contracts + dimension
    banding + star join jointly. ``sf_dir`` is unused by design: this
    query's input IS the reference fixture set (read-only)."""
    from pathlib import Path

    from etl_demos_spark.plans.bank_pipeline import build_bank_pipeline
    from etl_demos_spark.sources.registry import Source, SourceRegistry

    ref = Path("/root/reference/data")
    reg = SourceRegistry()
    reg.add(Source(name="customers", path=str(ref / "customers.csv")))
    reg.add(Source(name="loan_applications", path=str(ref / "auto_loan_default.csv")))
    reg.add(Source(name="payments", path=str(ref / "payments.csv")))
    srcs = {n: reg.load(spark, n) for n in reg.sources}
    built = build_bank_pipeline(warehouse_dir=f"{_SCRATCH}/bank_mart_wh").run(
        spark, srcs, check=False
    )
    flc, dc = built["f_loan_contract"], built["dim_customer"]
    return (
        flc.join(F.broadcast(dc.select("customer_key", "age_band")), "customer_key")
        .groupBy("age_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_loans"),
            F.sum("loan_default").cast("long").alias("n_defaults"),
            F.round(F.sum("loan_default") / F.count(F.lit(1)), 6).alias(
                "default_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Subquery decorrelation family — EXISTS / scalar-correlated / IN+HAVING.
# The reference never writes a subquery (its dbt models are flat SELECTs),
# but any engine claiming its query surface must run the classic decision-
# support shapes. Each query is expressed the way Catalyst wants it — the
# correlation rewritten as a join — and the oracle keeps the textbook
# correlated-subquery spelling, so the hash match certifies the rewrite.
# ---------------------------------------------------------------------------


@workload(
    "q_exists_subquery",
    oracle="""
    SELECT o_orderpriority AS order_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    tags=("ext-analytics", "subquery"),
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window with at least one
    returned line, counted per priority. EXISTS decorrelates to a LEFT
    SEMI join — the probe (orders) is date-pruned before the join, the
    build side carries only the join key, and semi-join semantics make
    multiplicity-safe dedup free (no DISTINCT stage). At 100 TB the
    date filter prunes partitions on the fact scan and AQE picks
    broadcast vs shuffle from the post-filter sizes."""
    o = T(spark, sf_dir, "orders")
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    lo = F.lit("1996-01-01").cast("date")
    hi = F.lit("1996-07-01").cast("date")
    windowed = o.filter(
        (F.col("o_orderdate").cast("date") >= lo)
        & (F.col("o_orderdate").cast("date") < hi)
    )
    return (
        windowed.join(li, windowed["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


@workload(
    "q_scalar_subquery",
    oracle="""
    SELECT CAST(p.p_brand AS VARCHAR) AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS decimal(12,2)))
                     AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
    tags=("ext-analytics", "subquery"),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from 'small' orders — lines whose quantity
    is below 20% of that part's average. The correlated scalar subquery
    decorrelates to one per-part aggregate joined back to the fact: the
    avg is computed ONCE per part (combiner-friendly groupBy), not once
    per probe row as the textbook spelling implies. Determinism note:
    testdata quantities are integral doubles, so the per-part double sum
    is exact under any task order and the 0.2*avg threshold compares
    identically in both engines. The brand filter reaches the part scan
    and the part side broadcasts."""
    li = T(spark, sf_dir, "lineitem")
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
        .select("p_partkey", "p_brand")
    )
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("q_thresh")
    )
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(thresh, li["l_partkey"] == thresh["t_partkey"])
        .filter(F.col("l_quantity") < F.col("q_thresh"))
    )
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        (F.sum(money("l_extendedprice")).cast("double") / F.lit(7.0))
        .cast("double")
        .alias("avg_yearly"),
    )


@workload(
    "q_having_subquery",
    oracle="""
    SELECT o.o_custkey AS custkey,
           o.o_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(l.l_quantity AS decimal(12,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING SUM(CAST(l_quantity AS decimal(12,2))) > 200)
    GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ORDER BY total_qty DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("ext-analytics", "subquery"),
)
def q_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): IN-subquery with HAVING.
    The IN list is itself an aggregate (orders whose total quantity
    exceeds a threshold) — decorrelated to agg→filter→LEFT SEMI join.
    The qualifying-keys side is deliberately NOT broadcast-hinted: its
    size is data-dependent (a HAVING over every order — ~6% of orders
    at this threshold, far past driver memory at 100 TB), so AQE picks
    broadcast while small and shuffle-semi when not. Re-aggregation
    happens only on surviving groups; decimal quantity sums keep the
    hash shuffle-order-proof."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC2)).alias("sq"))
        .filter(F.col("sq") > 200)
        .select(F.col("l_orderkey").alias("q_orderkey"))
    )
    joined = o.join(
        qualifying, o["o_orderkey"] == F.col("q_orderkey"), "left_semi"
    ).join(li, o["o_orderkey"] == li["l_orderkey"])
    agg = joined.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    ).agg(F.sum(F.col("l_quantity").cast(DEC2)).alias("__qty"))
    return (
        agg.orderBy(F.col("__qty").desc(), F.col("orderkey"))
        .limit(20)
        .select(
            "custkey",
            "orderkey",
            "order_date",
            F.col("__qty").cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Outer-join / anti-join decorrelation family (TPC-H Q13/Q21/Q22 shapes)
# ---------------------------------------------------------------------------


@workload(
    "q_cust_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("ext-analytics",),
)
def q_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join with a join-side predicate, count of matches per customer
    (zero-preserving), then a second aggregation over the counts.

    Scale plan: the orders side is pre-aggregated to (custkey, cnt)
    BEFORE touching customer — the expensive fact table collapses in one
    combiner-friendly shuffle, and the outer join then moves only
    |customers| + |customers-with-orders| rows. The naive
    join-then-count-per-customer shape would shuffle every order row
    against the customer table instead. Reference parity: the outer-join
    + conditional-count machinery of the marts layer
    (f_dealer_performance_daily.sql's LEFT JOINs + counts), pushed to a
    distribution query."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    per_cust = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = (
        c.select("c_custkey")
        .join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(
            "c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count")
        )
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
        .select(F.col("c_count").cast("long"), F.col("custdist").cast("long"))
    )


@workload(
    "q_waiting_supplier",
    oracle="""
    SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("ext-analytics",),
)
def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-fault supplier analysis (TPC-H Q21 shape): items a supplier
    had returned ('R') on multi-supplier orders where NO other supplier
    on the order had a return — the textbook correlated
    EXISTS + NOT EXISTS pair over the same fact table.

    Decorrelation: both subqueries are per-order set properties, so
    instead of two self-joins (two extra shuffles of the full fact
    table, the plan a literal translation produces) they collapse into
    ONE window pass partitioned by l_orderkey:
      EXISTS(other supplier)        == distinct suppliers on order >= 2
      NOT EXISTS(other ret supplier) == distinct RETURNED suppliers == 1
    (the probe row itself is returned, so "only me" == exactly one).
    One shuffle of lineitem, then a tiny count-per-supplier agg and a
    broadcast join for names. Survives 100 TB: no self-join, state per
    order is two small distinct-sets bounded by suppliers-per-order."""
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    flagged = li.select(
        "l_orderkey",
        "l_suppkey",
        "l_returnflag",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).over(w)
        ).alias("n_ret_supp"),
    )
    culprits = flagged.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("n_supp") >= 2)
        & (F.col("n_ret_supp") == 1)
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprits.join(F.broadcast(s), culprits["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
        .select("s_name", F.col("numwait").cast("long"))
    )


@workload(
    "q_idle_accounts",
    oracle="""
    WITH thr AS (
        SELECT CAST(SUM(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) / COUNT(*) AS a
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name AS n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN thr
    WHERE c.c_acctbal > thr.a
      AND NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      )
    GROUP BY n.n_name
    ORDER BY n_name
    """,
    tags=("ext-analytics",),
)
def q_idle_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle high-balance accounts per nation (TPC-H Q22 shape): a
    GLOBAL scalar subquery (average positive balance) as the filter
    threshold, plus NOT EXISTS(orders) decorrelated to a left-anti join.

    Scale plan: the scalar reduces to ONE row (decimal-exact sum so the
    threshold is bit-stable across partitionings) and rides a broadcast
    nested-loop of width 1 — no shuffle of the fact side. The anti join
    shuffles customer against a projected+deduped o_custkey column
    (column-pruned at the scan). Balance sums are decimal to keep the
    per-nation totals shuffle-order-independent."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select("o_custkey").distinct()
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round("c_acctbal", 2).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("a")
    )
    rich = c.crossJoin(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("a"))
    idle = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        idle.join(F.broadcast(n), idle["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.round("c_acctbal", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("n_name")
        .select("n_name", F.col("numcust").cast("long"), "totacctbal")
    )


@workload(
    "q_semantic_dedup",
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cvec
        FROM embeddings WHERE vec_id < 4
    ), dists AS (
        SELECT e.vec_id, c.cell,
               list_sum(list_transform(list_zip(e.embedding, c.cvec),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        FROM embeddings e CROSS JOIN cents c
    ), asg AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM dists
        ) WHERE rn = 1
    ), tag AS (
        SELECT e.vec_id, a.cell, e.embedding,
               sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings e JOIN asg a USING (vec_id)
    )
    SELECT t1.vec_id AS id_a, t2.vec_id AS id_b,
           CAST(t1.cell AS BIGINT) AS cell,
           round(list_sum(list_transform(list_zip(t1.embedding, t2.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (t1.nrm * t2.nrm), 6) AS cos_sim
    FROM tag t1 JOIN tag t2
      ON t1.cell = t2.cell AND t1.vec_id < t2.vec_id
    WHERE round(list_sum(list_transform(list_zip(t1.embedding, t2.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (t1.nrm * t2.nrm), 6) >= 0.4
    """,
    tags=("ext-embed",),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup candidates
    (embedding_dedup.semantic_pairs_clustered): nearest-centroid
    clustering restricts exact cosine scoring to WITHIN-cluster pairs —
    n²/k work instead of n², the published recipe for embedding dedup at
    web scale. Centroids are the first-4 vectors (deterministic and
    SQL-expressible, so the oracle certifies assignment + in-cluster
    pair semantics end-to-end). The expression form runs here; the
    per-cluster GEMM scale path is pinned row-identical in
    tests/test_embeddings.py."""
    from etl_demos_spark.operators import embedding_dedup as ed

    e = T(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    # physical-strategy router (the cosine_pairs_gemm precedent): the
    # oracle-twinnable expression form at oracle scale, the per-cluster
    # GEMM (pinned identical) beyond — the n²/cluster pair scoring is
    # BLAS work, not per-element lambda work, at any real corpus size.
    use_gemm = e.count() > 1000
    return ed.semantic_pairs_clustered(
        e, cents, threshold=0.4, use_gemm=use_gemm
    )


@workload("q_bpe_learn", oracle=None, tags=("ext-text",))
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/bpe.py) over the
    documents corpus: the corpus collapses to a word-frequency table
    once, then each merge round is a pair-count aggregation over
    DISTINCT pieces + a 1-row argmax — the published learn_bpe
    algorithm re-expressed so no step ever rescans the corpus.
    Iterative with a driver loop → no SQL oracle; the distributed form
    is pinned merge-for-merge to a pure-Python reference implementation
    in tests/test_bpe.py, and the encoder (UDF scale path vs
    expression chain) is pinned token-identical there too."""
    from etl_demos_spark.operators import bpe

    d = T(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges(d, n_merges=24)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


@workload("q_pq_search", oracle=None, tags=("ext-embed",))
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py — the FAISS recipe):
    per-subspace codebooks fit on a bounded deterministic sample,
    corpus compressed to m small codes per vector (one Arrow argmin
    pass), then asymmetric-distance top-k where the query is an m×k
    lookup table and each candidate costs m table lookups — the codes
    table is ~32× smaller than float32, which is what makes
    billion-vector search RAM-feasible. Exact re-rank joins original
    vectors back for the candidate set only. Iterative k-means training
    → no SQL oracle; encode is pinned to a numpy reference and search
    recall + exact-rerank equality are pytest-pinned
    (tests/test_pq.py)."""
    from etl_demos_spark.operators import pq

    e = T(spark, sf_dir, "embeddings")
    books = pq.pq_train(e, m=4, k=16, iters=8, sample=2000)
    codes = pq.pq_encode(e, books)
    q0 = e.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    out = pq.pq_search_adc(
        codes, books, q0, topk=10, rerank_df=e, rerank_factor=4
    )
    return out.select("vec_id", F.round("dist", 6).alias("dist_r"))


@workload(
    "q_fuzzy_join",
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
                   i -> concat_ws(' ',
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+2],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+3])
               )) AS sh
        FROM documents
    ),
    lt AS (SELECT doc_id, len(sh) AS n_a, unnest(sh) AS g FROM docs
           WHERE doc_id % 2 = 0 AND len(sh) > 0),
    rt AS (SELECT doc_id, len(sh) AS n_b, unnest(sh) AS g FROM docs
           WHERE doc_id % 2 = 1 AND len(sh) > 0),
    inter AS (
        SELECT lt.doc_id AS id_a, rt.doc_id AS id_b,
               lt.n_a, rt.n_b, COUNT(*) AS s
        FROM lt JOIN rt ON lt.g = rt.g
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(s AS DOUBLE) / (n_a + n_b - s) AS jaccard
    FROM inter
    WHERE CAST(s AS DOUBLE) / (n_a + n_b - s) >= 0.5
    """,
    tags=("ext-linkage",),
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py): fuzzy join between two
    feeds (even/odd halves of the documents table standing in for two
    overlapping sources) on exact 3-gram-set Jaccard. Inverted-index
    equi-join on shared grams — candidates ∝ shared postings, never
    |L|×|R|; integer counts make the score a single deterministic IEEE
    divide. The max_df blocking variant (exact scores, bounded fan-out
    on boilerplate grams) is pytest-pinned in tests/test_linkage.py."""
    from etl_demos_spark.operators import linkage

    d = T(spark, sf_dir, "documents")
    left = d.filter(F.col("doc_id") % 2 == 0)
    right = d.filter(F.col("doc_id") % 2 == 1)
    return linkage.fuzzy_join(left, right, "doc_id", "text", threshold=0.5)


@workload(
    "q_dedup_incremental", oracle=_dedup_incremental_sql(), tags=("ext-dedup",)
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (dedup.incremental_minhash_dedup): the
    daily-increment form — the first half of documents stands in for the
    already-deduped corpus via its signature store (built inline from
    the parquet inputs every evaluation: no cross-run persistence — in
    production the store exists from the previous increment, but a
    certified query must compute from its declared inputs each run),
    the second half is the new batch. The probe ships banded bucket
    keys only, and per-increment work is |batch| signatures +
    collisions. First-seen-wins policy; pinned behavioral tests
    (cross-batch drop, within-batch min-id, replay idempotency,
    store ≡ batch signatures) in tests/test_dedup.py. md5-portable
    signatures → the oracle replays the full two-stage probe (corpus
    match, within-batch CC survivor) and the driver hash certifies the
    kept-id set."""
    from etl_demos_spark.operators import dedup as dd

    d = T(spark, sf_dir, "documents")
    half = d.agg((F.max("doc_id") / 2).cast("long").alias("h")).collect()[0]["h"]
    new = d.filter(F.col("doc_id") > half)

    existing = d.filter(F.col("doc_id") <= half)
    grams = dd.exploded_shingles(existing, "doc_id", "text", 3)
    store = dd.minhash_signatures_from_grams(grams, "id", "g", 128)
    kept, _ = dd.incremental_minhash_dedup(new, store, threshold=0.5)
    return kept.orderBy("doc_id")


@workload(
    "q_null_safe_join",
    oracle="""
    WITH c AS (
        SELECT NULLIF(c_nationkey % 5, 3) AS k, COUNT(*) AS n_c
        FROM customer GROUP BY 1
    ), o AS (
        SELECT NULLIF(o_custkey % 5, 3) AS k, COUNT(*) AS n_o
        FROM orders GROUP BY 1
    )
    SELECT COALESCE(CAST(c.k AS BIGINT), -1) AS join_key,
           CAST(c.n_c * o.n_o AS BIGINT) AS n_pairs
    FROM c JOIN o ON c.k IS NOT DISTINCT FROM o.k
    ORDER BY 1
    """,
    tags=("ext-relational",),
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — the semantics CDC and
    snapshot-diff joins need for nullable business keys (scd.snapshot_diff
    uses the same null-safe struct compare). Planned as a normal hash
    join on the key, so it shuffles and scales exactly like the plain
    equi-join.

    The COUNT is pushed through the join (partial-aggregation
    pushdown by hand): the key has 5 distinct values, so joining the
    raw sides materializes ~|C|·|O|/5 pair rows (450M at sf0.1 — 10.5 s
    measured, pure skewed pair fan-out) only to count them. Counting
    each side per key first and multiplying over the null-safe join of
    the two TINY aggregates yields the identical table in O(|C|+|O|) —
    the transform any count-over-low-cardinality-join needs at 100 TB.
    The null-safe join semantics still do the load-bearing work: the
    NULL group survives only because eqNullSafe matches the two NULL
    aggregate rows.

    The DuckDB oracle mirrors the SAME aggregate-pushdown form (per-side
    counts, null-safe join of the aggregates, multiply) so a head-to-head
    compares like plans — this query measures null-safe-join semantics +
    aggregate pushdown, not raw pair-join throughput (which q_star_join
    and q_join_agg cover at row level)."""
    c = (
        T(spark, sf_dir, "customer")
        .select(F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    o = (
        T(spark, sf_dir, "orders")
        .select(F.nullif(F.col("o_custkey") % 5, F.lit(3)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    j = c.join(o, c["k"].eqNullSafe(o["k"]))
    return (
        j.select(
            F.coalesce(c["k"].cast("long"), F.lit(-1)).alias("join_key"),
            (F.col("n_c") * F.col("n_o")).alias("n_pairs"),
        )
        .orderBy("join_key")
    )


@workload(
    "q_edit_distance",
    oracle="""
    WITH named AS (
        SELECT c_custkey, c_name FROM customer
    )
    SELECT a.c_custkey AS custkey,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist_next,
           CAST(levenshtein(a.c_name, reverse(a.c_name)) AS BIGINT) AS dist_rev
    FROM named a JOIN named b ON b.c_custkey = a.c_custkey + 1
    """,
    tags=("ext-linkage",),
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance — the character-level comparator of the
    record-linkage family (operators/linkage.py covers set similarity;
    this is the short-string complement, e.g. name/code matching).
    JVM built-in, codegen'd, identical integer semantics in DuckDB."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    b = c.select(
        (F.col("c_custkey") - 1).alias("_k"), F.col("c_name").alias("_nb")
    )
    return (
        c.join(b, c["c_custkey"] == b["_k"])
        .select(
            F.col("c_custkey").alias("custkey"),
            F.levenshtein("c_name", "_nb").cast("long").alias("dist_next"),
            F.levenshtein("c_name", F.reverse("c_name")).cast("long").alias("dist_rev"),
        )
    )


@workload(
    "q_market_share",
    oracle="""
    WITH rev AS (
        SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
               n.n_name,
               CAST(CAST(l.l_extendedprice AS decimal(12,2))
                    * CAST(1 - l.l_discount AS decimal(4,2))
                    AS decimal(16,4)) AS volume
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN volume
                         ELSE CAST(0 AS decimal(16,4)) END)
                AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM rev
    GROUP BY o_year ORDER BY o_year
    """,
    tags=("ext-analytics",),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share per order year (TPC-H Q8 shape): the
    ratio-of-conditional-aggregates family — numerator and denominator
    are decimal-exact sums accumulated in the SAME pass (no second
    scan, no join of two aggregates), the share is one deterministic
    IEEE divide of two exact values. Nation is broadcast; supplier
    rides AQE. Reference parity: f_dealer_performance_daily.sql's
    conditional measures, taken to a ratio metric."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vol = (money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC42)).cast(
        "decimal(16,4)"
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "n_name",
            vol.alias("volume"),
        )
    )
    num = F.sum(
        F.when(F.col("n_name") == "NATION_7", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(16,4)")
        )
    ).cast("double")
    den = F.sum("volume").cast("double")
    return (
        rev.groupBy("o_year")
        .agg(
            (num / den).alias("mkt_share"),
            den.alias("total_volume"),
        )
        .orderBy("o_year")
    )


@workload(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS custkey,
               o_orderdate AS s,
               o_orderdate + INTERVAL 30 DAY AS e
        FROM orders
    ), flagged AS (
        SELECT custkey, s, e,
               CASE WHEN s <= max(e) OVER (
                        PARTITION BY custkey ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS new_island
        FROM iv
    ), islands AS (
        SELECT custkey, s, e,
               SUM(new_island) OVER (
                   PARTITION BY custkey ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM flagged
    )
    SELECT custkey,
           CAST(island AS BIGINT) AS island,
           strftime(MIN(s), '%Y-%m-%d') AS island_start,
           strftime(MAX(e), '%Y-%m-%d') AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM islands
    GROUP BY custkey, island
    """,
    tags=("ext-relational",),
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: collapse overlapping per-key
    validity windows (each order opens a 30-day activity interval) into
    maximal islands — the classic warehouse pattern behind contract
    coverage, sessionized eligibility and SCD gap repair. ONE window
    pass (running max of interval ends marks island starts, a running
    sum numbers them) + one aggregation — no self-join, no explode to
    days; state per key is a single date. First interval: the running
    max over an empty frame is NULL, and ``s <= NULL`` is false-like in
    both engines → new island, identical semantics."""
    o = T(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("s"),
        F.date_add("o_orderdate", 30).alias("e"),
    )
    w = Window.partitionBy("custkey").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") <= prev_max_e, F.lit(0)).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("custkey", F.col("island").cast("long").alias("island")).agg(
        F.date_format(F.min("s"), "yyyy-MM-dd").alias("island_start"),
        F.date_format(F.max("e"), "yyyy-MM-dd").alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@workload(
    "q_hierarchy",
    oracle="""
    WITH RECURSIVE nodes AS (
        SELECT c_custkey AS node,
               CASE WHEN c_custkey < 10 THEN NULL
                    ELSE CAST(floor(c_custkey / 10) AS BIGINT) END AS parent
        FROM customer
    ),
    r AS (
        SELECT node, node AS root, CAST(0 AS BIGINT) AS depth
        FROM nodes WHERE parent IS NULL
        UNION ALL
        SELECT n.node, r.root, r.depth + 1
        FROM nodes n JOIN r ON n.parent = r.node
    )
    SELECT node, root, depth FROM r
    """,
    tags=("ext-graph",),
)
def q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening (graph.flatten_hierarchy): root + depth for
    every node of a parent-pointer tree (synthesized decimal-digit
    hierarchy over custkey: parent = key/10). The recursive-CTE
    workload, done as pointer jumping — ⌈log₂ depth⌉ rounds of
    |V|-keyed shuffles instead of depth sequential joins. The DuckDB
    oracle IS the textbook WITH RECURSIVE, so the hash-match certifies
    the iterative form against the declarative semantics."""
    from etl_demos_spark.operators.graph import flatten_hierarchy

    c = T(spark, sf_dir, "customer")
    nodes = c.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") < 10, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("c_custkey") / 10).cast("long"))
        .alias("parent"),
    )
    return flatten_hierarchy(nodes, "node", "parent")


@workload(
    "q_weighted_sample",
    oracle="""
    WITH raced AS (
        SELECT o_orderkey,
               round(
                   ln(-ln((CAST('0x' || substr(md5('ws0' || CAST(o_orderkey AS VARCHAR)), 1, 12)
                             AS BIGINT) + 0.5) / 281474976710656.0))
                   - ln(CAST(o_totalprice AS DOUBLE)), 6) AS ws_key
        FROM orders
        WHERE CAST(o_totalprice AS DOUBLE) > 0
          AND o_orderkey IS NOT NULL
    )
    SELECT o_orderkey, ws_key
    FROM raced
    ORDER BY ws_key, o_orderkey
    LIMIT 50
    """,
    tags=("ext-sampling",),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement
    (sampling.weighted_sample_topk — Efraimidis–Spirakis exponential
    race, RNG replaced by a content hash): 50 orders sampled
    ∝ o_totalprice, reproducible across runs, backfills and engines.
    One projection + distributed top-k; race keys rounded with id
    tiebreak so ln() ULP differences can't move the selection."""
    from etl_demos_spark.operators.sampling import weighted_sample_topk

    o = T(spark, sf_dir, "orders")
    picked = weighted_sample_topk(o, "o_totalprice", 50, "o_orderkey")
    return picked.select("o_orderkey", "ws_key")


@workload(
    "q_gap_fill",
    oracle="""
    WITH obs AS (
        SELECT event_type, date_trunc('hour', ts) AS b,
               CAST(SUM(CAST(value AS decimal(12,2))) AS DOUBLE) AS hourly_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM obs GROUP BY 1
    ), spine AS (
        SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        FROM bounds
    ), joined AS (
        SELECT s.event_type, s.b, o.hourly_value,
               CASE WHEN o.hourly_value IS NOT NULL THEN 1 ELSE 0 END AS was_observed,
               COUNT(o.hourly_value) OVER (
                   PARTITION BY s.event_type ORDER BY s.b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM spine s LEFT JOIN obs o
          ON s.event_type = o.event_type AND s.b = o.b
    )
    SELECT event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           MAX(hourly_value) OVER (PARTITION BY event_type, grp) AS hourly_value,
           CAST(was_observed AS BIGINT) AS was_observed
    FROM joined
    """,
    tags=("ext-timeseries",),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample + last-observation-carried-forward
    (asof.resample_locf): hourly per-type value sums on a DENSE grid,
    gaps filled from the previous observation — the locf/gap-fill
    operator of hypertable stores. Grid generation is sequence+explode
    off a tiny per-key bounds agg; the fill is ONE window pass. The
    oracle expresses the same fill with the portable two-window trick
    (non-null running count → per-group max), certifying Spark's
    last(ignorenulls) against declarative semantics."""
    from etl_demos_spark.operators.asof import resample_locf

    ev = T(spark, sf_dir, "events")
    out = resample_locf(
        ev,
        "ts",
        ("event_type",),
        (money_sum(money("value")).alias("hourly_value"),),
        step="1 hour",
        fill_cols=("hourly_value",),
    )
    return out.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "hourly_value",
        "was_observed",
    )


@workload(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
                   + CAST(strftime(o_orderdate, '%m') AS BIGINT)) AS cohort_ix
        FROM orders GROUP BY 1
    ), activity AS (
        SELECT o.o_custkey,
               f.cohort_ix,
               CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o.o_orderdate, '%m') AS BIGINT)
               - f.cohort_ix AS month_offset
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT CAST(cohort_ix // 12 AS BIGINT) AS cohort_year,
           CAST(cohort_ix % 12 AS BIGINT) AS cohort_month0,
           month_offset,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers
    FROM activity
    GROUP BY 1, 2, 3
    """,
    tags=("ext-analytics",),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers bucketed by first-order month, active
    counts per (cohort, months-since-first) — the standard retention
    triangle. Month arithmetic is integer (year·12+month), exact in both
    engines. Two shuffles: the per-customer first-order aggregate (tiny
    output, combiner-friendly) joined back, then the distinct-count per
    cohort cell. The firsts table is customer-sized → AQE broadcasts it
    at dim scale; at fact scale it co-partitions on custkey."""
    o = T(spark, sf_dir, "orders")
    ix = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    firsts = (
        o.select("o_custkey", ix.alias("ix"))
        .groupBy("o_custkey")
        .agg(F.min("ix").alias("cohort_ix"))
    )
    activity = (
        o.select("o_custkey", ix.alias("ix"))
        .join(firsts, "o_custkey")
        .select(
            "o_custkey",
            "cohort_ix",
            (F.col("ix") - F.col("cohort_ix")).alias("month_offset"),
        )
    )
    return activity.groupBy(
        F.floor(F.col("cohort_ix") / 12).cast("long").alias("cohort_year"),
        (F.col("cohort_ix") % 12).cast("long").alias("cohort_month0"),
        "month_offset",
    ).agg(F.countDistinct("o_custkey").alias("active_customers"))


@workload(
    "q_rolling_anomaly",
    oracle="""
    WITH obs AS (
        SELECT event_type, date_trunc('hour', ts) AS b,
               SUM(CAST(value AS decimal(12,2))) AS hv
        FROM events GROUP BY 1, 2
    ), win AS (
        SELECT event_type, b, CAST(hv AS DOUBLE) AS x,
               COUNT(*) OVER w AS n,
               CAST(SUM(hv) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(hv * hv AS decimal(28,4))) OVER w AS DOUBLE) AS s2
        FROM obs
        WINDOW w AS (PARTITION BY event_type ORDER BY b
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           x AS hourly_value,
           CASE WHEN n >= 3 AND s2 / n - (s / n) * (s / n) > 0
                THEN round((x - s / n)
                           / sqrt(s2 / n - (s / n) * (s / n)), 6)
           END AS z_score
    FROM win
    """,
    tags=("ext-timeseries",),
)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each hourly value scored
    against the mean/std of its PRECEDING 6 hours (frame-bounded window
    — rowsBetween, the moving-aggregate family). Every windowed
    aggregate is a decimal SUM or COUNT, so sliding-frame evaluation
    order (Spark's running frame vs a segment tree) cannot move the
    result; mean/var derive from the exact sums with deterministic IEEE
    ops. n<3 or zero variance → NULL score (cold start)."""
    ev = T(spark, sf_dir, "events")
    obs = (
        ev.withColumn("b", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "b")
        .agg(F.sum(money("value")).alias("hv"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(-6, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("hv").over(w).cast("double")
    s2 = F.sum((F.col("hv") * F.col("hv")).cast("decimal(28,4)")).over(w).cast(
        "double"
    )
    x = F.col("hv").cast("double")
    mean = s / n
    var = s2 / n - mean * mean
    z = F.when(
        (n >= 3) & (var > 0), F.round((x - mean) / F.sqrt(var), 6)
    )
    return obs.select(
        "event_type",
        F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        x.alias("hourly_value"),
        z.alias("z_score"),
    )


@workload(
    "q_unpivot",
    oracle="""
    WITH src AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS decimal(12,2))) AS DOUBLE) AS qty,
               CAST(SUM(CAST(l_extendedprice AS decimal(12,2))) AS DOUBLE) AS price,
               CAST(SUM(CAST(l_tax AS decimal(4,2))) AS DOUBLE) AS tax
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'qty' AS measure, qty AS amount FROM src
    UNION ALL
    SELECT l_returnflag, 'price', price FROM src
    UNION ALL
    SELECT l_returnflag, 'tax', tax FROM src
    """,
    tags=("ext-relational",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (the inverse of q_pivot): wide measure columns fold
    into (measure, amount) rows via DataFrame.unpivot — a zero-shuffle
    projection-side reshape (each input row emits k rows in place). The
    oracle spells it as the portable UNION ALL expansion, certifying
    the reshape semantics."""
    li = T(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        money_sum(money("l_quantity")).alias("qty"),
        money_sum(money("l_extendedprice")).alias("price"),
        F.sum(F.col("l_tax").cast(DEC42)).cast("double").alias("tax"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["qty", "price", "tax"], "measure", "amount"
    )


@workload(
    "q_rank_family",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY round(c_acctbal, 2), c_custkey)
    """,
    tags=("ext-relational",),
)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ranking-function family in one window pass: rank /
    dense_rank / percent_rank / cume_dist / ntile over a per-segment
    balance ordering. The order key includes the unique custkey so
    every rank is total — rank functions over non-total orders are the
    classic cross-engine nondeterminism trap. percent_rank/cume_dist
    are (rank-1)/(n-1) and rank/n — exact integer ratios, rounded only
    to absorb the division's last ULP."""
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round("c_acctbal", 2), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@workload(
    "q_hybrid_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT term, doc_id, COUNT(*) AS tf
      FROM toks WHERE term IN ('join', 'fast', 'table')
      GROUP BY 1, 2
    ),
    lens AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avg_dl FROM lens
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY 1
    ),
    scored AS (
      SELECT p.doc_id,
             COUNT(DISTINCT p.term) AS n_terms_matched,
             SUM(CAST(round(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
               (p.tf * 2.2) /
               (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avg_dl)),
             9) AS DECIMAL(24,9))) AS bsum
      FROM postings p
      JOIN dfreq d USING (term)
      JOIN lens l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY p.doc_id
    ),
    cands AS (
      SELECT doc_id, round(CAST(bsum AS DOUBLE), 6) AS bm25
      FROM scored
      WHERE n_terms_matched = 3
      ORDER BY round(CAST(bsum AS DOUBLE), 6) DESC, doc_id ASC
      LIMIT 50
    ),
    qv AS (
      SELECT embedding AS q,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
      FROM embeddings WHERE vec_id = 0
    ),
    reranked AS (
      SELECT c.doc_id, c.bm25,
             round(list_sum(list_transform(list_zip(e.embedding, qv.q),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qv.qn),
                   6) AS cos_sim
      FROM cands c
      JOIN embeddings e ON e.vec_id = c.doc_id
      CROSS JOIN qv
    )
    SELECT doc_id, bm25, cos_sim,
           CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, bm25 DESC, doc_id ASC)
                AS BIGINT) AS hybrid_rank
    FROM reranked
    QUALIFY hybrid_rank <= 10
    """,
    tags=("ext-text",),
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval (search.hybrid_search): BM25
    conjunctive candidates over the full corpus, exact embedding-cosine
    rerank over the candidate set only (embeddings keyed by doc id —
    the testdata's vec_id stands in). The standard search architecture:
    lexical recall is corpus-scale and index-prunable, the semantic
    scorer touches ≤50 rows."""
    from etl_demos_spark.operators.search import hybrid_search

    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    return hybrid_search(
        d, e, ["join", "fast", "table"], qvec, k=10, candidates=50
    )


@workload(
    "q_promo_share",
    oracle="""
    SELECT CAST(strftime(o.o_orderdate, '%Y%m') AS BIGINT) AS order_month,
           round(CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(CAST(l.l_extendedprice AS decimal(12,2))
                         * CAST(1 - l.l_discount AS decimal(4,2))
                         AS decimal(16,4))
                    ELSE CAST(0 AS decimal(16,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(CAST(l.l_extendedprice AS decimal(12,2))
                    * CAST(1 - l.l_discount AS decimal(4,2))
                    AS decimal(16,4))) AS DOUBLE), 6) AS promo_pct
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("ext-analytics",),
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share per month (TPC-H Q14 shape): conditional
    revenue over total revenue — decimal-exact numerator/denominator in
    ONE aggregation pass, share as a single IEEE divide. Part is the
    classification dim (broadcast-size at any SF where it fits; AQE
    otherwise)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev = (money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC42)).cast(
        "decimal(16,4)"
    )
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.date_format("o_orderdate", "yyyyMM").cast("long").alias("order_month"),
            F.when(F.col("p_type") == "PROMO", rev)
            .otherwise(F.lit(0).cast("decimal(16,4)"))
            .alias("promo_rev"),
            rev.alias("rev"),
        )
    )
    return (
        j.groupBy("order_month")
        .agg(
            F.round(
                F.lit(100.0) * F.sum("promo_rev").cast("double")
                / F.sum("rev").cast("double"),
                6,
            ).alias("promo_pct")
        )
        .orderBy("order_month")
    )


@workload(
    "q_matview",
    oracle="""
    SELECT o_orderpriority,
           CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2))) AS DOUBLE) AS rev,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("ext-matview",),
)
def q_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate routing (plans/matview.py): the monthly
    query is answered ENTIRELY from a registered DAILY rollup — sums
    and counts re-aggregate, the average derives as re-aggregated
    sum / re-aggregated count (an average of stored averages would be
    wrong under uneven day sizes). The oracle computes the same numbers
    from the RAW table, so the hash match certifies the rewrite is
    semantics-preserving. At scale: the router turns a fact-table scan
    into a rollup-sized one."""
    from etl_demos_spark.plans.matview import AggregateStore

    o = T(spark, sf_dir, "orders")
    daily = (
        o.select(
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyyMM").cast("long").alias("order_month"),
            F.col("o_orderdate").alias("order_day"),
            money("o_totalprice").alias("p"),
        )
        .groupBy("o_orderpriority", "order_month", "order_day")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("p").alias("rev"))
    )
    store = AggregateStore()
    store.register(
        "daily_orders",
        daily,
        ("o_orderpriority", "order_month", "order_day"),
        {"cnt": "count", "rev": "sum"},
    )
    routed = store.route(("o_orderpriority", "order_month"), ("cnt", "rev"))
    assert routed is not None
    return routed.select(
        "o_orderpriority",
        "order_month",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rev").cast("double").alias("rev"),
        (F.col("rev").cast("double") / F.col("cnt")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H completion batch — the remaining canonical query shapes (Q2, Q5,
# Q6, Q7, Q9, Q11, Q12, Q15, Q16, Q19, Q20), adapted to the driver
# testdata: there is no partsupp table, so the part-supplier catalog is
# the DISTINCT (l_partkey, l_suppkey) projection of lineitem, and
# ps_supplycost/ps_availqty stand-ins come from supplier.s_acctbal /
# shipped-quantity sums. Each query keeps the SHAPE that matters (the
# operator/optimizer pattern), not the literal TPC-H text.
# Reference parity: the reference's star-join + conditional-agg surface
# (dbt/models/marts/core/f_dealer_performance_daily.sql:13-31) taken to
# the full classical analytics catalog.
# ---------------------------------------------------------------------------

_REV_SQL = """CAST(CAST(l_extendedprice AS decimal(12,2))
            * CAST(1 - l_discount AS decimal(4,2)) AS decimal(16,4))"""


def _rev_col() -> Column:
    """Decimal-exact per-line revenue (the workload convention)."""
    return (
        money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC42)
    ).cast("decimal(16,4)")


@workload(
    "q_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS decimal(12,2))
                 * CAST(l_discount AS decimal(4,2)) AS decimal(16,4)))
                AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
      AND CAST(l_discount AS decimal(4,2)) BETWEEN CAST(0.05 AS decimal(4,2))
                                               AND CAST(0.07 AS decimal(4,2))
      AND l_quantity < 24
    """,
    tags=("ext-tpch",),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan → conjunctive filter → one global sum.
    The whole predicate set (date range, discount band, quantity cap)
    is pushdown-eligible; at 100 TB this is a footer-pruned single-pass
    scan with no shuffle at all beyond the 1-row partial-agg merge."""
    li = T(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast(DEC42)
    delta = (money("l_extendedprice") * disc).cast("decimal(16,4)")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
            & (disc >= F.lit(0.05).cast(DEC42))
            & (disc <= F.lit(0.07).cast(DEC42))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(delta).cast("double").alias("revenue_delta"))
    )


@workload(
    "q_local_volume",
    oracle=f"""
    SELECT n_name AS nation_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY n_name
    """,
    tags=("ext-tpch",),
)
def q_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier volume — the 6-way star join whose
    distinguishing predicate (customer nation == supplier nation) lives
    on the JOIN, not a filter. nation/region broadcast; the region
    filter prunes suppliers BEFORE the fact join so the fact side only
    shuffles against surviving keys; the date filter pushes to the
    orders scan."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = T(spark, sf_dir, "region").select("r_regionkey", "r_name").filter(
        F.col("r_name") == "ASIA"
    )
    asia_n = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    asia_s = s.join(F.broadcast(asia_n), s["s_nationkey"] == asia_n["n_nationkey"]).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            asia_s,
            (li["l_suppkey"] == asia_s["s_suppkey"])
            & (c["c_nationkey"] == asia_s["s_nationkey"]),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@workload(
    "q_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(strftime(l_shipdate, '%Y') AS BIGINT) AS ship_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    tags=("ext-tpch",),
)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — the same dimension table
    (nation) joined TWICE under different roles, with a disjunctive
    cross-role predicate. Both nation joins broadcast; the disjunction
    evaluates after both roles resolve (it references columns from both
    sides, so it cannot push below either join — the planner must keep
    it as a post-join filter, which Catalyst does)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(F.sum(_rev_col()).cast("double").alias("volume"))
    )


@workload(
    "q_product_profit",
    oracle=f"""
    SELECT n_name AS nation_name,
           CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(SUM(CAST({_REV_SQL}
                    - CAST(CAST(p_retailprice AS decimal(12,2))
                           * CAST(l_quantity AS decimal(4,1))
                           AS decimal(16,4))
                    AS decimal(18,4))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    tags=("ext-tpch",),
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and year —
    a computed measure spanning THREE tables (lineitem price/discount,
    part cost stand-in, order year), so no single-table pre-aggregation
    is possible: the joins must happen first, and the plan's job is to
    keep them cheap (part filtered by the LIKE before joining — column
    pruning + predicate pushdown; nation broadcast). Profit arithmetic
    is decimal-exact at every step (see workload.py conventions); the
    testdata has no ps_supplycost, so p_retailprice*quantity is the
    cost term."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice").filter(
        F.col("p_name").like("%widget%")
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost = (money("p_retailprice") * F.col("l_quantity").cast("decimal(4,1)")).cast(
        "decimal(16,4)"
    )
    profit = (_rev_col() - cost).cast("decimal(18,4)")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@workload(
    "q_important_parts",
    oracle=f"""
    WITH pv AS (
        SELECT l_partkey AS partkey, SUM({_REV_SQL}) AS val
        FROM lineitem GROUP BY 1
    ), tot AS (SELECT SUM(val) AS total FROM pv)
    SELECT partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(val AS DOUBLE) * 500 > CAST(total AS DOUBLE)
    """,
    tags=("ext-tpch",),
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a GLOBAL scalar — per-part value
    filtered by a fraction of the whole-table total. The total is a
    1-row aggregate broadcast into the per-part stream (width-1 cross
    join), so the fact scans ONCE feeding both aggregations via a
    cached/re-derived groupBy, never a self-join. The threshold compare
    happens in double (decimal→double is one correctly-rounded op in
    both engines; ×500 is exact for these magnitudes) so the boundary
    cannot diverge cross-engine."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev_col()).alias("val")
    )
    tot = pv.agg(F.sum("val").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val").cast("double") * 500 > F.col("total").cast("double"))
        .select("partkey", F.col("val").cast("double").alias("part_value"))
    )


@workload(
    "q_priority_class",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
    GROUP BY 1
    """,
    tags=("ext-tpch",),
)
def q_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipping-priority classification — join then
    bucket-by-CASE conditional counts. The date filter prunes the fact
    scan; orders contributes only the priority column (pruned to 2
    cols before the join). The testdata has no l_shipmode, so
    l_returnflag is the grouping attribute; the conditional-count
    pattern is identical."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@workload(
    "q_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS suppkey, SUM({_REV_SQL}) AS total_rev
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
        GROUP BY 1
    )
    SELECT s_suppkey AS suppkey, s_name AS supplier_name,
           CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    tags=("ext-tpch",),
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax against a derived view — quarterly
    revenue per supplier, keep the supplier(s) achieving the maximum.
    The max is a 1-row aggregate broadcast back over the SAME derived
    frame (Catalyst re-derives the cheap agg rather than materializing;
    equality on the exact decimal makes ties deterministic — all tied
    suppliers return, same as the SQL)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(_rev_col()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(s, F.col("suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey",
            F.col("s_name").alias("supplier_name"),
            F.col("total_rev").cast("double").alias("total_rev"),
        )
        .withColumnRenamed("s_suppkey", "suppkey")
    )


@workload(
    "q_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY 1, 2, 3
    """,
    tags=("ext-tpch",),
)
def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier-per-part-class counts with a NOT IN
    exclusion subquery. The part-supplier catalog is the (partkey,
    suppkey) projection of lineitem (no partsupp table in the
    testdata) — NOT pre-distinct'd: COUNT(DISTINCT) dedups inside its
    own partial aggregation (map-side, after the part filter cut the
    rows 8×), so a distinct() here would be a full extra shuffle of
    the unfiltered projection for nothing (r6 floor accounting caught
    it: 0.77 s of data-proportional work on a query DuckDB runs in
    0.07 s). NOT IN decorrelates to a broadcast LEFT ANTI join (safe
    here: s_suppkey is never NULL, so NOT IN == anti-join); part
    predicates push to its scan (AQE picks broadcast for it at test
    scale; at 100 TB part is SF-proportional, so the choice is left to
    the planner rather than pinned)."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        T(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_size")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
    )
    excluded = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000).select(
        "s_suppkey"
    )
    return (
        li.join(
            F.broadcast(excluded), li["l_suppkey"] == excluded["s_suppkey"], "left_anti"
        )
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct(F.col("l_suppkey")).cast("long").alias("supplier_cnt"))
    )


@workload(
    "q_disjunctive_rev",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_type = 'PROMO' AND l_quantity BETWEEN 1 AND 20
           AND p_size BETWEEN 1 AND 15)
       OR (p_type = 'SMALL' AND l_quantity BETWEEN 10 AND 30
           AND p_size BETWEEN 1 AND 25)
       OR (p_type = 'LARGE' AND l_quantity BETWEEN 20 AND 50
           AND p_size BETWEEN 1 AND 50)
    """,
    tags=("ext-tpch",),
)
def q_disjunctive_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicate spanning
    both join sides. Catalyst's CNF extraction derives the pushable
    residues — part sees (type IN ... AND size <= 50), lineitem sees
    (quantity BETWEEN 1 AND 50) — so BOTH scans prune before the join
    even though no single disjunct is scan-local. The full disjunction
    re-checks post-join. This is the canonical 'OR does not block
    pushdown' plan test."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_type") == "PROMO") & q.between(1, 20) & sz.between(1, 15))
        | ((F.col("p_type") == "SMALL") & q.between(10, 30) & sz.between(1, 25))
        | ((F.col("p_type") == "LARGE") & q.between(20, 50) & sz.between(1, 50))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@workload(
    "q_dominant_suppliers",
    oracle="""
    WITH pairs AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               SUM(CAST(l_quantity AS decimal(4,1))) AS pair_qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    ), tot AS (
        SELECT pk, SUM(pair_qty) AS part_qty FROM pairs GROUP BY 1
    )
    SELECT DISTINCT s_suppkey AS suppkey, s_name AS supplier_name
    FROM pairs
    JOIN tot USING (pk)
    JOIN supplier ON s_suppkey = sk
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE CAST(pair_qty AS DOUBLE) * 2 > CAST(part_qty AS DOUBLE)
      AND n_name = 'NATION_3'
    """,
    tags=("ext-tpch",),
)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated aggregates — suppliers in one
    nation who supply MORE THAN HALF of some widget-part's shipped
    quantity (the ps_availqty > 0.5*SUM(qty) pattern with shipped
    volume standing in for stock). Two stacked aggregations over the
    same derived frame: (part,supplier) sums, then per-part totals
    re-aggregate FROM THE PAIR SUMS (never a second fact scan). The
    half-threshold compares exact decimal sums via double (integral
    quantities at scale 1 → exact in IEEE); DISTINCT collapses
    multi-part winners. Nation is broadcast; supplier joins only the
    surviving pair keys."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_name").filter(
        F.col("p_name").like("%widget%")
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name").filter(
        F.col("n_name") == "NATION_3"
    )
    pairs = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(4,1)")).alias("pair_qty"))
    )
    tot = pairs.groupBy("pk").agg(F.sum("pair_qty").alias("part_qty"))
    return (
        pairs.join(tot, "pk")
        .filter(F.col("pair_qty").cast("double") * 2 > F.col("part_qty").cast("double"))
        .join(s, F.col("sk") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supplier_name"))
        .distinct()
    )


@workload(
    "q_min_cost_supplier",
    oracle="""
    WITH cat AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
    eligible AS (
        SELECT pk, sk, s_name, s_acctbal
        FROM cat
        JOIN supplier ON s_suppkey = sk
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), best AS (SELECT pk, MIN(s_acctbal) AS mn FROM eligible GROUP BY 1)
    SELECT e.pk AS partkey, e.sk AS suppkey, e.s_name AS supplier_name,
           CAST(e.s_acctbal AS DOUBLE) AS acctbal
    FROM eligible e
    JOIN best ON e.pk = best.pk AND e.s_acctbal = best.mn
    JOIN part ON p_partkey = e.pk
    WHERE p_type = 'STANDARD' AND p_size <= 25
    """,
    tags=("ext-tpch",),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    MIN subquery (ps_supplycost stood in by s_acctbal; the catalog is
    the distinct lineitem pair projection). Decorrelation: per-part MIN
    aggregated once, joined back on (part, value) equality — all tied
    minima survive, exactly the SQL semantics. The region filter
    shrinks the eligible set BEFORE the per-part aggregation, and the
    part-side predicates prune the final join's build side."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = T(spark, sf_dir, "region").select("r_regionkey", "r_name").filter(
        F.col("r_name") == "EUROPE"
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25)
    )
    eu_s = (
        s.join(F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
               s["s_nationkey"] == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    eligible = li.join(eu_s, li["sk"] == eu_s["s_suppkey"]).select(
        "pk", "sk", "s_name", "s_acctbal"
    )
    best = (
        eligible.groupBy(F.col("pk").alias("bpk")).agg(F.min("s_acctbal").alias("mn"))
    )
    return (
        eligible.join(
            best,
            (eligible["pk"] == F.col("bpk")) & (eligible["s_acctbal"] == F.col("mn")),
        )
        .drop("bpk")
        .join(p, F.col("pk") == p["p_partkey"])
        .select(
            F.col("pk").alias("partkey"),
            F.col("sk").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_acctbal").cast("double").alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Relational-surface completions: arbitrary GROUPING SETS, RANGE-frame
# (time-interval) window aggregates, ordered string aggregation.
# ---------------------------------------------------------------------------


@workload(
    "q_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderpriority, '<all>') AS priority,
           COALESCE(o_orderstatus, '<all>') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus))
    """,
    tags=("ext-rel",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form of rollup/cube (both
    already registered): the caller names exactly which grouping
    combinations to produce, and the engine computes them in ONE scan
    via the Expand operator (each input row fans out once per set, then
    a single hash aggregation runs — no per-set re-scan). NULL markers
    from non-grouped columns are normalized to a sentinel so the
    cross-engine hash can't confuse 'subtotal row' with a NULL data
    value. Reference parity: generalizes A1-A4's fixed GROUP BY."""
    o = T(spark, sf_dir, "orders")
    out = o.groupingSets(
        [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], ["o_orderstatus"]],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("revenue"),
    )
    return out.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
        F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
        "n_orders",
        "revenue",
    )


@workload(
    "q_range_frame",
    oracle="""
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           CAST(SUM(CAST(o_totalprice AS decimal(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders
    """,
    tags=("ext-rel", "W-extra"),
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window aggregate over a time interval: per customer,
    total spend in the trailing 30 days INCLUDING same-day peers — the
    frame is value-based (all rows whose ordering key falls in
    [current-30, current]), not row-count-based, so same-day orders
    aggregate together regardless of row order; a ROWS frame cannot
    express this. Ordering key is an integer day number (days since
    epoch), identical arithmetic in both engines. The decimal-exact sum
    makes the frame total order-insensitive. At scale: one shuffle on
    the partition key; the frame evaluates with a sliding pointer over
    each sorted partition, O(n) per key."""
    o = T(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-30, 0)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(money("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


@workload(
    "q_string_agg",
    oracle="""
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           string_agg(c_name, ',' ORDER BY c_name) AS customer_list
    FROM customer
    WHERE c_acctbal > 9000
    GROUP BY 1
    """,
    tags=("ext-rel",),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): per group, the
    comma-joined member list in a PINNED order — collect_list is
    shuffle-order-nondeterministic, so the array is sorted before
    joining (same normalization q_array_funcs uses); without the sort
    the hash would differ run to run, let alone cross-engine. The
    filter keeps group payloads bounded — the honest scale story for
    any collect-to-one-row aggregate (unbounded LISTAGG at 100 TB is a
    design smell; cap or re-aggregate instead)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("customer_list"),
    )


# ---------------------------------------------------------------------------
# Statistical + semi-structured completions: exact least-squares
# aggregates, map-type functions, schema-evolving union.
# ---------------------------------------------------------------------------


@workload(
    "q_regression",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag AS returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS decimal(4,1))) AS sx,
               SUM(CAST(l_extendedprice AS decimal(12,2))) AS sy,
               SUM(CAST(CAST(l_quantity AS decimal(4,1))
                        * CAST(l_extendedprice AS decimal(12,2))
                        AS decimal(17,3))) AS sxy,
               SUM(CAST(CAST(l_quantity AS decimal(4,1))
                        * CAST(l_quantity AS decimal(4,1))
                        AS decimal(9,2))) AS sxx
        FROM lineitem GROUP BY 1
    )
    SELECT returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
    FROM sums
    """,
    tags=("ext-stats",),
)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression (price ~ quantity) from EXACT
    moment sums: n, Σx, Σy, Σxy, Σx² accumulate as decimals (order-
    independent, one combiner-friendly shuffle), then slope/intercept
    derive as a fixed sequence of IEEE ops on the exact totals — so the
    result is bit-reproducible across engines and run order. The
    built-in regr_slope/regr_intercept aggregate IN double and are
    shuffle-order-dependent (non-reproducible at cluster scale); this
    is the same exact-moments trick the stats/stddev queries use.
    Rounded to 6 dp: the moment arithmetic is exact, but / is the one
    op where double assoc differences could surface at the last ulp."""
    li = T(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(4,1)")
    y = money("l_extendedprice")
    sums = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(17,3)")).alias("sxy"),
        F.sum((x * x).cast("decimal(9,2)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    intercept = (sy - slope * sx) / nd
    return sums.select(
        "returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@workload(
    "q_map_funcs",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(map_extract(m, 'status')[1] AS VARCHAR) AS status_val,
           CAST(cardinality(m) AS BIGINT) AS n_keys,
           array_to_string(list_sort(map_keys(m)), ',') AS key_list
    FROM (
        SELECT o_orderkey,
               MAP(['status', 'priority'], [o_orderstatus, o_orderpriority]) AS m
        FROM orders
        WHERE o_orderkey <= 100
    )
    """,
    tags=("ext-semi",),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function family (the semi-structured surface beyond
    q_json_extract): build a map column from scalar pairs, then
    element_at lookup, size, and sorted key enumeration. The output
    surfaces only scalars: the sorted key list is array_join'd to a
    CSV string — map cells themselves never reach the cross-engine
    hash (map iteration order is engine-defined; sorting the keys is
    the only portable contract), and the driver canon requires
    scalar-only top-level columns on in-window queries."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    withm = o.select(F.col("o_orderkey").alias("orderkey"), m.alias("m"))
    return withm.select(
        "orderkey",
        F.element_at("m", "status").alias("status_val"),
        F.size("m").cast("long").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys("m")), ",").alias("key_list"),
    )


@workload(
    "q_union_by_name",
    oracle="""
    SELECT * FROM (
        SELECT o_orderkey AS k, o_orderstatus AS status, NULL AS source_priority
        FROM orders WHERE o_orderkey <= 50
        UNION ALL BY NAME
        SELECT o_orderpriority AS source_priority, o_orderkey AS k,
               NULL AS status
        FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    )
    """,
    tags=("ext-rel",),
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: two frames with DIFFERENT column orders
    and disjoint extra columns combine by NAME, missing columns
    null-filled — the ingestion-time primitive for unioning data
    batches whose schema drifted (reference parity: the staging
    contract's tolerance for raw drift, S3/auto_adapt, applied to
    vertical combination). positional unionAll would mis-bind here."""
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") <= 50).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("status")
    )
    b = o.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100)).select(
        F.col("o_orderpriority").alias("source_priority"),
        F.col("o_orderkey").alias("k"),
    )
    return a.unionByName(b, allowMissingColumns=True).select(
        "k", "status", "source_priority"
    )


@workload(
    "q_join_elim",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_quantity AS decimal(4,1))) AS DOUBLE) AS qty,
           p.p_type AS part_type
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p   ON l.l_partkey = p.p_partkey
    GROUP BY 1, 3
    """,
    tags=("ext-optimizer",),
)
def q_join_elim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-join elimination (operators/starjoin.py:pruned_star): the
    oracle computes the FULL wide view (fact LEFT JOIN orders-dim and
    part-dim), while Spark runs the PRUNED plan — the query requests no
    orders column, the orders dim is unique on its key and left-joined,
    so that join is provably a no-op and is eliminated before
    execution. The hash match certifies the rewrite; the plan pin
    (tests/test_physical_plans.py) asserts exactly one join survives.
    This is the optimizer move Catalyst can't make itself: it cannot
    know the dim is unique — the engine's spec carries that contract."""
    from etl_demos_spark.operators.starjoin import PrunableDim, pruned_star

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_partkey", "l_quantity"
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus", "o_orderpriority"
    )
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("part_type")
    )
    wide = pruned_star(
        li,
        [PrunableDim(o, on="orderkey"), PrunableDim(p, on="l_partkey")],
        ["orderkey", "l_quantity", "part_type"],
    )
    return wide.groupBy("orderkey", "part_type").agg(
        F.sum(F.col("l_quantity").cast("decimal(4,1)")).cast("double").alias("qty")
    ).select("orderkey", "qty", "part_type")


@workload(
    "q_drift_report",
    oracle="""
    WITH base AS (SELECT * FROM orders
                  WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
    cand AS (SELECT * FROM orders),
    b1 AS (SELECT CAST(COUNT(o_totalprice) AS BIGINT) n,
                  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) d,
                  CAST(MIN(o_totalprice) AS VARCHAR) mn,
                  CAST(MAX(o_totalprice) AS VARCHAR) mx FROM base),
    c1 AS (SELECT CAST(COUNT(o_totalprice) AS BIGINT) n,
                  CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) d,
                  CAST(MIN(o_totalprice) AS VARCHAR) mn,
                  CAST(MAX(o_totalprice) AS VARCHAR) mx FROM cand),
    b2 AS (SELECT CAST(COUNT(o_orderpriority) AS BIGINT) n,
                  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) d,
                  CAST(MIN(o_orderpriority) AS VARCHAR) mn,
                  CAST(MAX(o_orderpriority) AS VARCHAR) mx FROM base),
    c2 AS (SELECT CAST(COUNT(o_orderpriority) AS BIGINT) n,
                  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) d,
                  CAST(MIN(o_orderpriority) AS VARCHAR) mn,
                  CAST(MAX(o_orderpriority) AS VARCHAR) mx FROM cand)
    SELECT 'o_totalprice' AS col, b1.n AS base_n, c1.n AS cand_n,
           round(abs(c1.n - b1.n) / CAST(b1.n AS DOUBLE), 6) AS n_rel_delta,
           b1.d AS base_distinct, c1.d AS cand_distinct,
           round(abs(c1.d - b1.d) / CAST(b1.d AS DOUBLE), 6) AS distinct_rel_delta,
           b1.mn <> c1.mn AS min_moved, b1.mx <> c1.mx AS max_moved,
           (abs(c1.n - b1.n) / CAST(b1.n AS DOUBLE) > 0.1
            OR abs(c1.d - b1.d) / CAST(b1.d AS DOUBLE) > 0.1) AS drifted
    FROM b1, c1
    UNION ALL
    SELECT 'o_orderpriority', b2.n, c2.n,
           round(abs(c2.n - b2.n) / CAST(b2.n AS DOUBLE), 6),
           b2.d, c2.d,
           round(abs(c2.d - b2.d) / CAST(b2.d AS DOUBLE), 6),
           b2.mn <> c2.mn, b2.mx <> c2.mx,
           (abs(c2.n - b2.n) / CAST(b2.n AS DOUBLE) > 0.1
            OR abs(c2.d - b2.d) / CAST(b2.d AS DOUBLE) > 0.1)
    FROM b2, c2
    """,
    tags=("ext-quality",),
)
def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version profile drift (plans/quality.py:drift_report):
    yesterday's load (orders before 1997) vs today's (all orders), two
    columns profiled. The whole report is TWO one-pass profile scans
    plus a |columns|-row join, regardless of column count. min/max
    movement compares strings RENDERED BY THE SAME ENGINE on both
    sides, so cross-engine float formatting can't leak into the
    booleans. The monitoring layer the reference's point-in-time dbt
    tests lack."""
    from etl_demos_spark.plans.quality import drift_report

    o = T(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    return drift_report(base, o, ["o_totalprice", "o_orderpriority"], rel_threshold=0.1)


@workload(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("ext-events",),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (Markov-chain counts): per user, each
    consecutive (event → next event) pair via ONE lead window, then a
    tiny |types|² aggregation. Ordering ties broken on event_id so the
    sequence — and therefore every count — is deterministic. Scales as
    one shuffle on user_id; the transition matrix output is constant-
    size. The sequence-analytics complement of q_event_funnel (which
    only needs firsts) and q_cohort_retention (calendar grain)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))


@workload(
    "q_twap",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(value AS decimal(12,2)) AS v,
               epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_us
        FROM events
    )
    SELECT user_id,
           round(CAST(SUM(CAST(v * CAST(next_us - t_us AS decimal(18,0))
                         AS decimal(32,2))) AS DOUBLE)
           / CAST(SUM(CAST(next_us - t_us AS decimal(18,0))) AS DOUBLE), 6)
               AS twap
    FROM seg WHERE next_us IS NOT NULL
    GROUP BY 1
    """,
    tags=("ext-events",),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation's value is held
    until the next observation, so the mean weights by holding duration
    (micros), not by sample count — the correct aggregate for
    irregularly-sampled series (sensor readings, prices). One lead
    window per key, then value×duration and duration accumulate as
    EXACT decimals (duration micros are integers; value is 2-dp), so
    the ratio is one deterministic IEEE divide — order-independent at
    any parallelism. Rounded to 6 dp: the scaled numerator can exceed
    2^53, where decimal→double conversion may differ by one ulp across
    engines (same mitigation as q_regression)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    seg = ev.select(
        "user_id",
        money("value").alias("v"),
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dur = (F.col("next_us") - F.col("t_us")).cast("decimal(18,0)")
    return seg.groupBy("user_id").agg(
        F.round(
            F.sum((F.col("v") * dur).cast("decimal(32,2)")).cast("double")
            / F.sum(dur).cast("double"),
            6,
        ).alias("twap")
    )


@workload(
    "q_orc_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum,
           COUNT(DISTINCT s_nationkey) AS n_nations,
           CAST(SUM(CAST(s_acctbal AS decimal(12,2))) AS DOUBLE) AS bal_sum
    FROM supplier
    """,
    tags=("S1", "S4", "ext-sources"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip — the second columnar format Spark
    ships natively (same vectorized reader + predicate pushdown class
    as parquet). parquet → ORC → read back → aggregate; the oracle sees
    the ORIGINAL table, so the round-trip must preserve every value
    including doubles bit-exactly (ORC is a binary columnar format; no
    inference lossiness like CSV). Widens the S1/S4 source/sink axis:
    csv (inference), parquet (primary), json-in-column
    (q_json_extract), REST (q_rest_json), now ORC."""
    s = T(spark, sf_dir, "supplier")
    path = f"{_SCRATCH}/orc_roundtrip_{sf_dir.strip('/').split('/')[-1]}"
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("s_suppkey").cast("bigint").alias("key_sum"),
        F.countDistinct("s_nationkey").alias("n_nations"),
        F.sum(money("s_acctbal")).cast("double").alias("bal_sum"),
    )


@workload(
    "q_argmax",
    oracle="""
    SELECT user_id,
           arg_max(event_type, ts) AS last_type,
           CAST(CAST(arg_max(value, ts) AS decimal(12,2)) AS DOUBLE) AS last_value,
           arg_min(event_type, ts) AS first_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
    tags=("ext-agg",),
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by/min_by): latest- and first-event
    retrieval per key as a PLAIN AGGREGATION — one combiner-friendly
    shuffle with constant per-group state, versus the W1 window-dedup
    formulation which must shuffle AND sort every row. At 100 TB this
    is the cheaper plan whenever only the extreme row's columns are
    needed (the partial aggregate keeps one candidate per group per
    map task). Precondition for determinism: the ordering key is
    unique per group (event timestamps here are; otherwise compose a
    tie-broken ordering key — engines pick arbitrary winners on
    ties)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", F.col("ts")).alias("last_type"),
        F.max_by(money("value"), F.col("ts")).cast("double").alias("last_value"),
        F.min_by("event_type", F.col("ts")).alias("first_type"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@workload(
    "q_bit_funcs",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
           CAST(o_orderkey << 2 AS BIGINT) AS shifted_l,
           CAST(o_orderkey >> 3 AS BIGINT) AS shifted_r,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders WHERE o_orderkey <= 200
    """,
    tags=("ext-funcs",),
)
def q_bit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar-function family (mask/flag/partition-id
    arithmetic — the bit-level tools SimHash/bloom/Morton layouts use
    internally, exposed as the user-facing surface): AND/OR/XOR,
    shifts, population count. All codegen'd JVM intrinsics, identical
    two's-complement semantics in both engines."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    k = F.col("o_orderkey")
    return o.select(
        k.alias("orderkey"),
        k.bitwiseAND(F.lit(255)).cast("long").alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("key_xor"),
        F.shiftleft(k, 2).cast("long").alias("shifted_l"),
        F.shiftright(k, 3).cast("long").alias("shifted_r"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


_CDC_ORACLE = """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS t
        FROM documents WHERE text IS NOT NULL
    ), pos AS (
        SELECT doc_id, unnest(range(len(t))) AS p, t FROM toks
    ), flags AS (
        SELECT doc_id, p, t[p + 1] AS tok,
               CASE WHEN p <= len(t) - 3 THEN
                   (CAST('0x' || substr(
                        md5(array_to_string(t[p + 1 : p + 3], ' ')), 1, 15)
                     AS BIGINT) % 16) = 0
               ELSE FALSE END AS bp
        FROM pos
    ), chunked AS (
        SELECT doc_id, p, tok,
               COALESCE(SUM(CASE WHEN bp THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS c
        FROM flags
    ), chunks AS (
        SELECT doc_id, c,
               string_agg(tok, ' ' ORDER BY p) AS chunk_text,
               COUNT(*) AS n_toks
        FROM chunked GROUP BY doc_id, c
    )
    SELECT md5(chunk_text) AS chunk_fp,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(n_toks) AS BIGINT) AS chunk_tokens
    FROM chunks GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1
    """


@workload("q_dedup_cdc", oracle=_CDC_ORACLE, tags=("ext-dedup",))
def q_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (operators/dedup.py cdc_chunks —
    the rsync/FastCDC boundary rule on token streams): cut after any
    3-token gram whose md5_long ≡ 0 mod 16, rebuild chunks, report
    every chunk fingerprint occurring more than once with its copy and
    document counts. The sub-document granularity the fixed-window
    ExactSubstr family can't give: CDC boundaries are a function of
    LOCAL content, so they resynchronize after insertions and shared
    boilerplate dedups even when it floats inside otherwise-unique
    documents (the insertion-robustness property is pinned in
    tests/test_dedup.py). All shuffles keyed on (doc, chunk) or the
    uniform md5 fingerprint — skew-free, nothing quadratic."""
    d = T(spark, sf_dir, "documents")
    return (
        dedup.cdc_duplicate_chunks(d, "doc_id", "text", w=3, mask=16)
        .orderBy("chunk_fp")
    )


def _lsh_recall_sql(
    num_hashes: int = 128, bands: int = 32,
    lsh_threshold: float = 0.4, exact_threshold: float = 0.5, n: int = 3,
) -> str:
    return f"""
    WITH docs AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - {n - 1}, 0)),
                   i -> concat_ws(' ',
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+2],
                        regexp_extract_all(lower(text), '[a-z0-9]+')[i+3])
               )) AS sh
        FROM documents
    ),
    idx AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM docs
        WHERE len(sh) > 0
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_inter
        FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    ex AS (
        SELECT id_a, id_b FROM inter
        WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter)
              >= {exact_threshold}
    ),
    mh AS (
        SELECT id_a, id_b
        FROM ({_minhash_pairs_sql(num_hashes, bands, lsh_threshold, n)}) m
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_lsh,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM ex JOIN mh USING (id_a, id_b)) AS n_hit,
           CASE WHEN (SELECT COUNT(*) FROM ex) > 0 THEN
               ROUND(CAST((SELECT COUNT(*) FROM ex JOIN mh
                           USING (id_a, id_b)) AS DOUBLE)
                     / (SELECT COUNT(*) FROM ex), 4)
           END AS recall
    """


@workload("q_lsh_recall", oracle=_lsh_recall_sql(), tags=("ext-dedup",))
def q_lsh_recall(
    spark: SparkSession,
    sf_dir: str,
    sample_bucket: tuple[int, int] | None = None,
) -> DataFrame:
    """LSH quality evaluation as a first-class, oracle-certified query:
    recall of banded MinHash-LSH (est_jaccard ≥ 0.4, the production
    q_dedup_minhash setting) against the exact n-gram Jaccard ground
    truth at ≥ 0.5 — the measured S-curve claim the whole approximate
    dedup family rests on. The 0.1 threshold margin is deliberate: the
    128-hash estimator has ~0.04 stderr, so exact pairs AT the LSH
    cutoff legitimately flicker; ground truth at 0.5 vs LSH at 0.4
    measures recall where the S-curve promises ~1. Exact pairs come
    from the inverted-index self-join (never n²); LSH pairs from the
    banded bucket join. One row: (n_exact, n_lsh, n_hit, recall).
    n_lsh > n_hit is not imprecision — LSH at 0.4 legitimately returns
    0.4-0.5 pairs outside the 0.5 ground-truth set (the counts let a
    monitor watch both directions). Cost profile (measured sf0.1,
    min-of-3): 6.2 s = 3.2 s exact ground truth + 3.1 s LSH — the sum
    of its halves with no composition overhead. The exact inverted-
    index join is the very cost LSH exists to avoid, so at corpus
    scale this evaluation runs on a SAMPLED slice — never on the full
    corpus. That scale path is the ``sample_bucket=(k, n)`` parameter
    (VERDICT r8 rec 3): keep only docs whose md5 hash-bucket of doc_id
    equals k of n, applied BEFORE both halves, so exact ground truth
    and LSH see the identical slice and the recall ratio stays an
    unbiased estimate of slice recall. Estimator error: the slice
    holds ~1/n of within-slice pairs of each Jaccard level (bucketing
    is independent of content, so pairs are thinned uniformly — both
    endpoints must land in the bucket), and with H hits observed the
    recall stderr is ≈ sqrt(r(1-r)/n_exact); pick n so n_exact stays
    ≥ ~1000 for a ±0.01 monitor (measured sf0.1: every 1-of-4 slice
    recalls 1.0, equal to the full-corpus 1.0 —
    tests/test_dedup.py::test_lsh_recall_sampled_slice). The
    registered form stays full-corpus (right at oracle scale).
    Registered _LATE r08."""
    d = T(spark, sf_dir, "documents")
    if sample_bucket is not None:
        from etl_demos_spark.operators.sampling import hash_bucket

        k, nb = sample_bucket
        d = d.filter(hash_bucket(F.col("doc_id"), nb) == k)
    ex = (
        dedup.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
        .select("id_a", "id_b", F.lit(1).alias("__e"))
    )
    lsh = (
        dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.4)
        .select("id_a", "id_b", F.lit(1).alias("__l"))
    )
    j = ex.join(lsh, ["id_a", "id_b"], "full_outer")
    # coalesce to 0: on a corpus with no pairs at all, sum() over zero
    # rows is NULL while the oracle's COUNT(*) is 0
    n_exact = F.coalesce(F.sum("__e"), F.lit(0)).cast("long")
    n_lsh = F.coalesce(F.sum("__l"), F.lit(0)).cast("long")
    n_hit = F.count(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)).cast("long")
    return j.agg(
        n_exact.alias("n_exact"),
        n_lsh.alias("n_lsh"),
        n_hit.alias("n_hit"),
        F.when(
            n_exact > 0,
            F.round(n_hit.cast("double") / n_exact.cast("double"), 4),
        ).alias("recall"),
    )


_CDC_REMOVAL_ORACLE = """
    WITH alltoks AS (
        SELECT doc_id,
               regexp_extract_all(lower(coalesce(text, '')), '[A-Za-z0-9]+')
                   AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, unnest(range(len(t))) AS p, t FROM alltoks
    ), flags AS (
        SELECT doc_id, p, t[p + 1] AS tok,
               CASE WHEN p <= len(t) - 3 THEN
                   (CAST('0x' || substr(
                        md5(array_to_string(t[p + 1 : p + 3], ' ')), 1, 15)
                     AS BIGINT) % 16) = 0
               ELSE FALSE END AS bp
        FROM pos
    ), chunked AS (
        SELECT doc_id, p, tok,
               COALESCE(SUM(CASE WHEN bp THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS c
        FROM flags
    ), chunks AS (
        SELECT doc_id, c,
               string_agg(tok, ' ' ORDER BY p) AS chunk_text,
               COUNT(*) AS n_toks
        FROM chunked GROUP BY doc_id, c
    ), ranked AS (
        SELECT doc_id, c, chunk_text, n_toks,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                  ORDER BY doc_id, c) AS rn
        FROM chunks
    ), clean AS (
        SELECT doc_id,
               string_agg(chunk_text, ' ' ORDER BY c) AS clean_text,
               SUM(n_toks) AS kept
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT a.doc_id,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(COALESCE(c.kept, 0) AS BIGINT) AS kept_tokens,
           CAST(len(a.t) - COALESCE(c.kept, 0) AS BIGINT) AS removed_tokens
    FROM alltoks a LEFT JOIN clean c USING (doc_id)
    """


@workload("q_cdc_removal", oracle=_CDC_REMOVAL_ORACLE, tags=("ext-dedup",))
def q_cdc_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action half of q_dedup_cdc (operators/dedup.py
    remove_duplicated_cdc_chunks): keep-first chunk-level dedup — the
    globally first copy of every content-defined chunk survives, later
    copies are cut, documents are rebuilt from surviving chunks. The
    clean text is hash-certified byte-for-byte against the DuckDB
    twin, every input doc accounted for (kept + removed == tokens).
    Disjoint chunks mean no island merge and no position anti-join —
    one row_number per fingerprint + one per-doc rebuild. Registered
    _LATE r08."""
    d = T(spark, sf_dir, "documents")
    return dedup.remove_duplicated_cdc_chunks(
        d, "doc_id", "text", w=3, mask=16
    ).withColumnRenamed("id", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# §ext: host/domain rollups + cross-snapshot versioning (registered r09)
# ---------------------------------------------------------------------------


def _cdc_chunks_cte(src: str, sfx: str, carry: str = "", with_text: bool = False) -> str:
    """DuckDB CTE chain reproducing operators/dedup.py:cdc_chunks
    (w=3, mask=16) over a CTE ``src`` with (doc_id, text[, carry]) —
    the same chunking SQL the hash-certified _CDC_REMOVAL_ORACLE uses,
    factored so the domain-rollup / versioning / incremental oracles
    don't fork the boundary rule. Emits ``chunks_{sfx}``: one row per
    (doc, chunk) with (doc_id[, carry], c, fp, n_toks[, chunk_text
    when ``with_text`` — needed for byte-certified rebuilds])."""
    cc = f", {carry}" if carry else ""
    text_col = (
        ",\n               string_agg(tok, ' ' ORDER BY p) AS chunk_text"
        if with_text
        else ""
    )
    return f"""
    alltoks_{sfx} AS (
        SELECT doc_id{cc},
               regexp_extract_all(lower(coalesce(text, '')), '[A-Za-z0-9]+')
                   AS t
        FROM {src}
    ), pos_{sfx} AS (
        SELECT doc_id{cc}, unnest(range(len(t))) AS p, t FROM alltoks_{sfx}
    ), flags_{sfx} AS (
        SELECT doc_id{cc}, p, t[p + 1] AS tok,
               CASE WHEN p <= len(t) - 3 THEN
                   (CAST('0x' || substr(
                        md5(array_to_string(t[p + 1 : p + 3], ' ')), 1, 15)
                     AS BIGINT) % 16) = 0
               ELSE FALSE END AS bp
        FROM pos_{sfx}
    ), chunked_{sfx} AS (
        SELECT doc_id{cc}, p, tok,
               COALESCE(SUM(CASE WHEN bp THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS c
        FROM flags_{sfx}
    ), chunks_{sfx} AS (
        SELECT doc_id{cc}, c,
               md5(string_agg(tok, ' ' ORDER BY p)) AS fp,
               COUNT(*) AS n_toks{text_col}
        FROM chunked_{sfx} GROUP BY doc_id{cc}, c
    )"""


_DOMAIN_ROLLUP_ORACLE = f"""
    WITH docs AS (SELECT doc_id, source, text FROM documents),
    {_cdc_chunks_cte("docs", "d", carry="source")},
    hs AS (
        SELECT source AS host, fp,
               COUNT(*) AS n_copies, MIN(n_toks) AS tok
        FROM chunks_d GROUP BY 1, 2
    ),
    fph AS (SELECT fp, COUNT(*) AS n_hosts FROM hs GROUP BY 1),
    per AS (
        SELECT host,
               COUNT(*) AS n_unique_fp,
               SUM(n_copies) AS n_chunks,
               SUM(n_copies - 1) AS intra_dup_chunks,
               SUM((n_copies - 1) * tok) AS intra_dup_tokens,
               SUM(CASE WHEN n_hosts > 1 THEN 1 ELSE 0 END) AS shared_fps,
               SUM(CASE WHEN n_hosts > 1 THEN n_copies * tok ELSE 0 END)
                   AS shared_tokens,
               SUM(n_copies * tok) AS total_tokens
        FROM hs JOIN fph USING (fp) GROUP BY 1
    ),
    dn AS (SELECT source AS host, COUNT(*) AS n_docs FROM documents GROUP BY 1)
    SELECT dn.host,
           CAST(dn.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(per.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(per.n_unique_fp, 0) AS BIGINT) AS n_unique_fp,
           CAST(COALESCE(per.intra_dup_chunks, 0) AS BIGINT) AS intra_dup_chunks,
           CAST(COALESCE(per.intra_dup_tokens, 0) AS BIGINT) AS intra_dup_tokens,
           CAST(COALESCE(per.shared_fps, 0) AS BIGINT) AS shared_fps,
           CAST(COALESCE(per.shared_tokens, 0) AS BIGINT) AS shared_tokens,
           CAST(COALESCE(per.total_tokens, 0) AS BIGINT) AS total_tokens,
           CASE WHEN COALESCE(per.total_tokens, 0) > 0 THEN
               ROUND(CAST(per.intra_dup_tokens AS DOUBLE) / per.total_tokens, 4)
           END AS intra_ratio,
           CASE WHEN COALESCE(per.total_tokens, 0) > 0 THEN
               ROUND(CAST(per.shared_tokens AS DOUBLE) / per.total_tokens, 4)
           END AS shared_ratio,
           CASE
             WHEN COALESCE(per.total_tokens, 0) = 0 THEN 'review'
             WHEN ROUND(CAST(per.shared_tokens AS DOUBLE) / per.total_tokens, 4)
                  >= 0.30 THEN 'drop'
             WHEN ROUND(CAST(per.shared_tokens AS DOUBLE) / per.total_tokens, 4)
                  >= 0.10 THEN 'review'
             ELSE 'keep'
           END AS verdict
    FROM dn LEFT JOIN per USING (host)
    """


@workload("q_domain_rollup", oracle=_DOMAIN_ROLLUP_ORACLE, tags=("ext-dedup",))
def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level dedup rollup (operators/domains.py:host_dedup_rollup):
    the C4/RefinedWeb-style curation layer that decides per HOST, not
    per document — within-host template redundancy and cross-host
    boilerplate sharing measured in CDC-chunk and token units, banded
    into a keep/review/drop verdict on the shared-token ratio. One
    fingerprint definition feeds both chunk dedup and domain curation.
    Plan: cdc_chunks' codegen scan + window + (host,fp)/(fp)/(host)
    keyed groupBys — uniform keys, map-side partials, nothing
    quadratic; a 100 TB corpus rolls up to |hosts| rows."""
    from etl_demos_spark.operators.domains import host_dedup_rollup

    d = T(spark, sf_dir, "documents")
    return host_dedup_rollup(d, "source", "doc_id", "text")


_HOST_MIRROR_ORACLE = f"""
    WITH docs AS (SELECT doc_id, source, text FROM documents),
    {_cdc_chunks_cte("docs", "m", carry="source")},
    hs AS (SELECT DISTINCT source AS host, fp FROM chunks_m),
    capped AS (
        SELECT fp FROM hs GROUP BY fp HAVING COUNT(*) <= 64
    ),
    pairs AS (
        SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared_fps
        FROM hs a JOIN hs b ON a.fp = b.fp AND a.host < b.host
        JOIN capped c ON c.fp = a.fp
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sizes AS (SELECT host, COUNT(*) AS n_fp FROM hs GROUP BY 1)
    SELECT host_a, host_b,
           CAST(shared_fps AS BIGINT) AS shared_fps,
           CAST(sa.n_fp AS BIGINT) AS n_fp_a,
           CAST(sb.n_fp AS BIGINT) AS n_fp_b,
           ROUND(CAST(shared_fps AS DOUBLE) / least(sa.n_fp, sb.n_fp), 4)
               AS containment,
           ROUND(CAST(shared_fps AS DOUBLE)
                 / (sa.n_fp + sb.n_fp - shared_fps), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.host = pairs.host_a
    JOIN sizes sb ON sb.host = pairs.host_b
    """


@workload("q_host_mirror", oracle=_HOST_MIRROR_ORACLE, tags=("ext-dedup",))
def q_host_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror/syndication detection (operators/domains.py:
    host_mirror_pairs): host pairs ranked by shared CDC chunk
    fingerprints, with containment (subset-mirror signal) and jaccard.
    Pair generation reuses cooccur.basket_pairs — basket = fingerprint,
    items = its hosts — so the H² fan-out of a universally shared
    chunk is bounded by max_hosts_per_fp=64 (audit twin:
    cooccur.dropped_baskets), and the oracle mirrors the cap exactly."""
    from etl_demos_spark.operators.domains import host_mirror_pairs

    d = T(spark, sf_dir, "documents")
    return host_mirror_pairs(d, "source", "doc_id", "text")


# Deterministic second snapshot for the versioning queries, shared
# bit-for-bit by the Spark path and the DuckDB oracle: %11 ids deleted,
# %7 ids tail-edited, %5 ids head-edited (checked after %7 — ids
# divisible by both get the tail edit), %13 ids additionally spawn a
# brand-new page (negative id) derived from their text.
_SNAP_NEW_SQL = """
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0
                      THEN text || ' errata appended after review'
                    WHEN doc_id % 5 = 0
                      THEN 'update notice posted today ' || text
                    ELSE text END AS text
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, source,
               'fresh page covering ' || text AS text
        FROM documents WHERE doc_id % 13 = 0
"""


def _snapshot_new(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    mod = d.filter(did % 11 != 0).select(
        "doc_id",
        "source",
        F.when(did % 7 == 0, F.concat("text", F.lit(" errata appended after review")))
        .when(did % 5 == 0, F.concat(F.lit("update notice posted today "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(did % 13 == 0).select(
        (-did - 1).alias("doc_id"),
        "source",
        F.concat(F.lit("fresh page covering "), F.col("text")).alias("text"),
    )
    return mod.unionByName(added)


_DOC_VERSIONS_ORACLE = f"""
    WITH oldd AS (SELECT doc_id, text FROM documents),
    newd AS ({_SNAP_NEW_SQL}),
    {_cdc_chunks_cte("oldd", "o")},
    {_cdc_chunks_cte("newd", "n")},
    mo AS (SELECT doc_id, fp, COUNT(*) AS n, MIN(n_toks) AS tok
           FROM chunks_o GROUP BY 1, 2),
    mn AS (SELECT doc_id, fp, COUNT(*) AS n, MIN(n_toks) AS tok
           FROM chunks_n GROUP BY 1, 2),
    j AS (
        SELECT COALESCE(mo.doc_id, mn.doc_id) AS doc_id,
               COALESCE(mo.n, 0) AS n_o, COALESCE(mn.n, 0) AS n_n,
               COALESCE(mo.tok, mn.tok) AS tok
        FROM mo FULL JOIN mn
          ON mo.doc_id = mn.doc_id AND mo.fp = mn.fp AND mo.tok = mn.tok
    ),
    per AS (
        SELECT doc_id,
               SUM(n_o) AS old_chunks, SUM(n_n) AS new_chunks,
               SUM(least(n_o, n_n)) AS common_chunks,
               SUM(n_o * tok) AS old_tokens, SUM(n_n * tok) AS new_tokens,
               SUM(least(n_o, n_n) * tok) AS common_tokens
        FROM j GROUP BY 1
    ),
    base AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               o.doc_id IS NOT NULL AS in_old,
               n.doc_id IS NOT NULL AS in_new
        FROM (SELECT DISTINCT doc_id FROM oldd) o
        FULL JOIN (SELECT DISTINCT doc_id FROM newd) n USING (doc_id)
    )
    SELECT base.doc_id,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'deleted'
                WHEN COALESCE(old_tokens, 0) + COALESCE(new_tokens, 0) = 0
                     OR ROUND(1.0 - 2.0 * COALESCE(common_tokens, 0)
                              / (COALESCE(old_tokens, 0)
                                 + COALESCE(new_tokens, 0)), 4) = 0.0
                  THEN 'unchanged'
                ELSE 'modified' END AS status,
           CAST(COALESCE(old_chunks, 0) AS BIGINT) AS old_chunks,
           CAST(COALESCE(new_chunks, 0) AS BIGINT) AS new_chunks,
           CAST(COALESCE(common_chunks, 0) AS BIGINT) AS common_chunks,
           CAST(COALESCE(old_tokens, 0) AS BIGINT) AS old_tokens,
           CAST(COALESCE(new_tokens, 0) AS BIGINT) AS new_tokens,
           CAST(COALESCE(common_tokens, 0) AS BIGINT) AS common_tokens,
           CASE WHEN COALESCE(old_tokens, 0) + COALESCE(new_tokens, 0) > 0
                THEN ROUND(1.0 - 2.0 * COALESCE(common_tokens, 0)
                           / (COALESCE(old_tokens, 0)
                              + COALESCE(new_tokens, 0)), 4)
                ELSE 0.0 END AS change_ratio
    FROM base LEFT JOIN per USING (doc_id)
    """


@workload("q_doc_versions", oracle=_DOC_VERSIONS_ORACLE, tags=("ext-dedup",))
def q_doc_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot document versioning (operators/versioning.py:
    snapshot_chunk_diff): diff two crawl snapshots at CDC chunk
    granularity — per document the retained/added/removed chunk
    multisets, token-weighted Dice change_ratio, and an added/deleted/
    unchanged/modified status. CDC resync is what makes the ratio
    meaningful: a head- or tail-edit disturbs only the chunks touching
    it, every other fingerprint still matches. The second snapshot is
    deterministically synthesized (same arithmetic in the oracle):
    %11 deleted, %7 tail-edited, %5 head-edited, %13 spawn new pages.
    Plan: two cdc_chunks passes + one (id,fp)-keyed full outer join +
    per-id rollup — uniform keys, output ∝ |docs|, nothing quadratic."""
    from etl_demos_spark.operators.versioning import snapshot_chunk_diff

    d = T(spark, sf_dir, "documents")
    diff = snapshot_chunk_diff(d, _snapshot_new(d), "doc_id", "text")
    return diff.withColumnRenamed("id", "doc_id")


_VERSION_CHURN_ORACLE = f"""
    WITH oldd AS (SELECT doc_id, text FROM documents),
    newd AS ({_SNAP_NEW_SQL}),
    {_cdc_chunks_cte("oldd", "o")},
    {_cdc_chunks_cte("newd", "n")},
    mo AS (SELECT doc_id, fp, COUNT(*) AS n, MIN(n_toks) AS tok
           FROM chunks_o GROUP BY 1, 2),
    mn AS (SELECT doc_id, fp, COUNT(*) AS n, MIN(n_toks) AS tok
           FROM chunks_n GROUP BY 1, 2),
    j AS (
        SELECT COALESCE(mo.doc_id, mn.doc_id) AS doc_id,
               COALESCE(mo.n, 0) AS n_o, COALESCE(mn.n, 0) AS n_n,
               COALESCE(mo.tok, mn.tok) AS tok
        FROM mo FULL JOIN mn
          ON mo.doc_id = mn.doc_id AND mo.fp = mn.fp AND mo.tok = mn.tok
    ),
    per AS (
        SELECT doc_id,
               SUM(n_o * tok) AS old_tokens, SUM(n_n * tok) AS new_tokens,
               SUM(least(n_o, n_n) * tok) AS common_tokens
        FROM j GROUP BY 1
    ),
    base AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               o.doc_id IS NOT NULL AS in_old,
               n.doc_id IS NOT NULL AS in_new
        FROM (SELECT DISTINCT doc_id FROM oldd) o
        FULL JOIN (SELECT DISTINCT doc_id FROM newd) n USING (doc_id)
    ),
    dims AS (
        SELECT doc_id, ANY_VALUE(source) AS source FROM (
            SELECT doc_id, source FROM documents
            UNION ALL SELECT doc_id, source FROM ({_SNAP_NEW_SQL}) x
        ) GROUP BY doc_id
    ),
    diff AS (
        SELECT base.doc_id,
               CASE WHEN NOT in_old THEN 'added'
                    WHEN NOT in_new THEN 'deleted'
                    WHEN COALESCE(old_tokens, 0) + COALESCE(new_tokens, 0) = 0
                         OR ROUND(1.0 - 2.0 * COALESCE(common_tokens, 0)
                                  / (COALESCE(old_tokens, 0)
                                     + COALESCE(new_tokens, 0)), 4) = 0.0
                      THEN 'unchanged'
                    ELSE 'modified' END AS status,
               COALESCE(old_tokens, 0) AS old_tokens,
               COALESCE(new_tokens, 0) AS new_tokens,
               COALESCE(common_tokens, 0) AS common_tokens
        FROM base LEFT JOIN per USING (doc_id)
    )
    SELECT dims.source, status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(new_tokens - common_tokens) AS BIGINT) AS tokens_added,
           CAST(SUM(old_tokens - common_tokens) AS BIGINT) AS tokens_removed,
           CAST(SUM(common_tokens) AS BIGINT) AS tokens_retained
    FROM diff JOIN dims USING (doc_id)
    GROUP BY 1, 2
    """


@workload("q_version_churn", oracle=_VERSION_CHURN_ORACLE, tags=("ext-dedup",))
def q_version_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level churn report (operators/versioning.py:churn_rollup)
    over the q_doc_versions diff, grouped by host: per (source,
    status) the document count and the added/removed/retained token
    totals — added + retained = new tokens, removed + retained = old
    tokens, per group (the accounting a recrawl-scheduling or
    incremental-reprocessing decision reads). Same synthesized second
    snapshot as q_doc_versions."""
    from etl_demos_spark.operators.versioning import churn_rollup, snapshot_chunk_diff

    d = T(spark, sf_dir, "documents")
    new = _snapshot_new(d)
    diff = snapshot_chunk_diff(d, new, "doc_id", "text")
    dims = (
        d.select("doc_id", "source")
        .unionByName(new.select("doc_id", "source"))
        .groupBy("doc_id")
        .agg(F.first("source").alias("source"))
    )
    return churn_rollup(diff, dims, "source", dims_id_col="doc_id")


_CDC_INCREMENTAL_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id, doc_id % 3 AS batch, text FROM documents
    ),
    {_cdc_chunks_cte("docs", "ic", carry="batch", with_text=True)},
    ranked AS (
        SELECT doc_id, batch, c, n_toks, chunk_text,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY batch, doc_id, c) AS rn
        FROM chunks_ic
    ),
    clean AS (
        SELECT doc_id,
               string_agg(chunk_text, ' ' ORDER BY c) AS clean_text,
               SUM(n_toks) AS kept
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(a.batch AS BIGINT) AS batch,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(COALESCE(c.kept, 0) AS BIGINT) AS kept_tokens,
           CAST(len(a.t) - COALESCE(c.kept, 0) AS BIGINT) AS removed_tokens
    FROM alltoks_ic a LEFT JOIN clean c USING (doc_id)
    """


@workload(
    "q_dedup_cdc_incremental", oracle=_CDC_INCREMENTAL_ORACLE, tags=("ext-dedup",)
)
def q_dedup_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental chunk-store CDC dedup (operators/dedup.py
    incremental_cdc_dedup): the daily-increment form of q_cdc_removal
    — each new batch is chunked once and probed against the persisted
    chunk-fingerprint store (fps only, never text), exactly like
    q_dedup_incremental's signature store at exact-chunk granularity.
    The query replays THREE sequential batches (doc_id % 3) through
    the real operator — store handed forward each time — and the
    oracle certifies the replay-equals-batch identity: sequential
    first-seen-wins must equal ONE global keep-first pass ranked by
    (batch, id, chunk_idx), byte-for-byte on the rebuilt text and
    exact on the kept/removed accounting for every document.
    Per-increment cost at corpus scale: |batch| chunking + one
    fp-keyed anti-join — the store is never re-chunked."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    store = None
    outs = []
    for b in range(3):
        bd = d.filter(F.col("doc_id") % 3 == b)
        clean, store = dedup.incremental_cdc_dedup(bd, store, "doc_id", "text")
        outs.append(clean.withColumn("batch", F.lit(b).cast("long")))
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.withColumnRenamed("id", "doc_id").select(
        "doc_id", "batch", "clean_text", "kept_tokens", "removed_tokens"
    )


_BITEXT_ORACLE = """
    WITH src AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE label % 2 = 0
    ),
    tgt AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE label % 2 = 1
    ),
    fwd_scored AS (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               CAST(round(list_cosine_similarity(t.v, s.v) * 1000000)
                    AS BIGINT) AS cq,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_cosine_similarity(t.v, s.v) DESC, t.vec_id
               ) AS rn
        FROM src s CROSS JOIN tgt t
    ),
    fwd AS (SELECT src_id, tgt_id, cq FROM fwd_scored WHERE rn <= 4),
    bwd_scored AS (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               CAST(round(list_cosine_similarity(s.v, t.v) * 1000000)
                    AS BIGINT) AS cq,
               ROW_NUMBER() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY list_cosine_similarity(s.v, t.v) DESC, s.vec_id
               ) AS rn
        FROM tgt t CROSS JOIN src s
    ),
    bwd AS (SELECT src_id, tgt_id, cq FROM bwd_scored WHERE rn <= 4),
    f_avg AS (SELECT src_id, SUM(cq) AS fsum, COUNT(*) AS fn
              FROM fwd GROUP BY 1),
    b_avg AS (SELECT tgt_id, SUM(cq) AS bsum, COUNT(*) AS bn
              FROM bwd GROUP BY 1),
    cands AS (
        SELECT src_id, tgt_id, MAX(cq) AS cq FROM (
            SELECT * FROM fwd UNION ALL SELECT * FROM bwd
        ) GROUP BY 1, 2
    ),
    scored AS (
        SELECT src_id, tgt_id, cq,
               CASE WHEN (CAST(fsum AS DOUBLE) / fn
                          + CAST(bsum AS DOUBLE) / bn) / 2.0 <> 0.0
                    THEN CAST(cq AS DOUBLE)
                         / ((CAST(fsum AS DOUBLE) / fn
                             + CAST(bsum AS DOUBLE) / bn) / 2.0)
                    ELSE 0.0 END AS m
        FROM cands JOIN f_avg USING (src_id) JOIN b_avg USING (tgt_id)
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY m DESC, tgt_id) AS rs,
               ROW_NUMBER() OVER (PARTITION BY tgt_id
                                  ORDER BY m DESC, src_id) AS rt
        FROM scored
    )
    SELECT src_id, tgt_id,
           round(CAST(cq AS DOUBLE) / 1000000, 6) AS cos_sim,
           round(m, 6) AS margin
    FROM ranked WHERE rs = 1 AND rt = 1 AND m >= 1.06
    """


@workload("q_bitext_mine", oracle=_BITEXT_ORACLE, tags=("ext-sim",))
def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/bitext.py mine_bitext —
    the public Artetxe & Schwenk ACL'19 ratio-margin recipe): even
    labels play the source language, odd labels the target; pairs are
    mutual margin-best matches with margin ≥ 1.06 (the ratio margin
    normalizes hubness away — raw-cosine best matches over-select hub
    vectors). k-NN both directions via the two-sided tiled GEMM
    (similarity.blocked_topk — both sides are corpora, so nothing may
    collect to the driver); everything after the top-k frames is
    exact-integer arithmetic (cosines quantized to 1e-6 BIGINT units),
    which is what lets the oracle replay the entire mine and the
    driver hash-certify mined pairs. At web scale swap the exact tiled
    scan for the LSH/IVF candidate paths upstream of the same margin
    filter."""
    from etl_demos_spark.operators.bitext import mine_bitext

    e = T(spark, sf_dir, "embeddings")
    src = e.filter(F.col("label") % 2 == 0)
    tgt = e.filter(F.col("label") % 2 == 1)
    return mine_bitext(src, tgt, "vec_id", "embedding", k=4, threshold=1.06)


_MIXTURE_PLAN_ORACLE = """
    WITH g AS (
        SELECT source AS "group",
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
                    AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1
    ),
    w AS (
        SELECT *,
               CAST(CASE "group"
                    WHEN 'src0' THEN 0.30 WHEN 'src1' THEN 0.20
                    WHEN 'src2' THEN 0.10 WHEN 'src3' THEN 0.05
                    WHEN 'src4' THEN 0.25 WHEN 'src5' THEN 0.10
                    ELSE 0.0 END AS DOUBLE) AS weight
        FROM g
    ),
    q AS (SELECT *, CAST(round(weight * 1000000) AS BIGINT) AS wq FROM w),
    s AS (SELECT *, SUM(wq) OVER () AS wsumq FROM q),
    r AS (
        SELECT *,
               CASE WHEN total_tokens > 0 AND wsumq > 0
                    THEN CAST(wq AS DOUBLE) / CAST(wsumq AS DOUBLE)
                         * 40000.0 / CAST(total_tokens AS DOUBLE)
                    ELSE 0.0 END AS rate
        FROM s
    ),
    e AS (SELECT *, least(rate, 4.0) AS epochs FROM r)
    SELECT "group", n_docs, total_tokens, weight,
           round(rate, 6) AS rate,
           round(epochs, 6) AS epochs,
           CAST(round(epochs * total_tokens) AS BIGINT) AS planned_tokens,
           CAST(round((rate - epochs) * total_tokens) AS BIGINT)
               AS shortfall_tokens
    FROM e
    """


@workload("q_mixture_plan", oracle=_MIXTURE_PLAN_ORACLE, tags=("ext-trainprep",))
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planner (operators/sampling.py mixture_plan):
    Pile/Dolma-style mixture weights + a token budget → per-source
    sampling rates, with the oversampling cap at 4 epochs and the
    induced shortfall REPORTED (no silent caps). This is the
    arithmetic layer above the rate-based sampler (q_mixture_sample
    consumes rates like these) and below the packer. The renormalizing
    weight sum runs over 1e-6-quantized BIGINT units so the whole plan
    is a deterministic function of exact integers — bit-replayable in
    DuckDB."""
    from etl_demos_spark.operators.sampling import mixture_plan

    d = T(spark, sf_dir, "documents")
    weights = {
        "src0": 0.30, "src1": 0.20, "src2": 0.10,
        "src3": 0.05, "src4": 0.25, "src5": 0.10,
    }
    return mixture_plan(d, "source", weights, budget_tokens=40000, max_epochs=4.0)


_CALIBRATION_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok WHERE tok <> '' GROUP BY 1, 2
    ), w AS (
        SELECT i AS bucket,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2001 - 1000 AS w_int
        FROM range(4096) t(i)
    ), s AS (
        SELECT doc_id,
               ROUND(1.0 / (1.0 + exp(-(CAST(SUM(cnt * w_int) AS DOUBLE)
                                        / 1000.0))), 4) AS prob
        FROM feats JOIN w USING (bucket)
        GROUP BY doc_id
    ), lab AS (
        SELECT s.doc_id, s.prob,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM s JOIN documents d USING (doc_id)
    ), quant AS (
        SELECT CAST(round(prob * 10000) AS BIGINT) AS pq, y FROM lab
    ), binned AS (
        -- bin on the integer form (pq*bins)/10^4, same exact-in-float64
        -- arithmetic the Spark side uses — floor(prob*bins) on doubles
        -- bins 0.3 down at every 1/bins boundary
        SELECT least(CAST(floor((pq * 10) / 10000.0) AS BIGINT), 9) AS bin,
               pq, y
        FROM quant
    ), g AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(pq) AS BIGINT) AS spq
        FROM binned GROUP BY 1
    ), t AS (
        SELECT *,
               abs(spq - 10000 * n_pos) AS dev,
               SUM(abs(spq - 10000 * n_pos)) OVER () AS devsum,
               SUM(n) OVER () AS ntot
        FROM g
    )
    SELECT bin, n, n_pos,
           round(CAST(spq AS DOUBLE) / n / 10000.0, 6) AS avg_conf,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
           round(CAST(dev AS DOUBLE) / n / 10000.0, 6) AS abs_gap,
           round(CAST(devsum AS DOUBLE) / (ntot * 10000.0), 6) AS ece
    FROM t
    """


@workload("q_calibration", oracle=_CALIBRATION_ORACLE, tags=("ext-classify",))
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration report (operators/classifier.py
    calibration_report): reliability table + expected calibration
    error for the seeded fixture model's probabilities against the
    lang='en' ground truth — the acceptance gate a quality-classifier
    deployment runs before probabilities drive sampling rates. ECE
    reduces to an exact-integer numerator over a constant denominator
    (probs quantize to 1e-4 BIGINT units; Σ_b |sum_pq_b − 10⁴·pos_b|
    is order-independent), so the whole report replays bit-for-bit in
    DuckDB — a naive double Σ of per-bin products would not."""
    from etl_demos_spark.operators import classifier as clf

    d = T(spark, sf_dir, "documents")
    feats = clf.hashed_features(d, "text", "doc_id", 4096)
    w = spark.range(4096).select(
        F.col("id").alias("bucket"),
        clf.seeded_milli_weights(F.col("id")).alias("w_int"),
    )
    scored = clf.linear_score_milli(feats, w, "doc_id").join(
        d.select("doc_id", (F.col("lang") == "en").cast("long").alias("y")),
        "doc_id",
    )
    return clf.calibration_report(scored, "y", "prob", bins=10)
