"""The benchmark's workloads: one function per workload runs one round.

A round is one complete pass of the workload's pipeline. Every call into
an engine layer goes through ``Round.op`` under the span of that layer;
the op forces its output at the span boundary, and the round checks the
output's digest against the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_demos_spark.data import load_table
from etl_demos_spark.operators.dedup import (
    hamming_chunk_pairs,
    minhash_lsh_pairs,
    minhash_signatures_from_docs,
)
from etl_demos_spark.operators.embedding_dedup import (
    connected_components,
    cosine_pairs_gemm,
)
from etl_demos_spark.operators.image_dedup import DHASH_BITS, image_signatures
from etl_demos_spark.plans import incremental, quality
from etl_demos_spark.workload import REGISTRY
from oracle import (
    BANDS,
    IMAGE_HAMMING,
    LATE_CUTOFF,
    LATE_OVERLAP,
    NUM_HASHES,
    TEXT_THRESHOLD,
    VECTOR_THRESHOLD,
    spark_digest,
    value_digest,
)

# Inputs each workload registers at set-up (see run.setup).
TABLES = {
    "warehouse": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "near_dedup": ("documents", "embeddings", "images"),
}


def _profile(df, qty: str, day: str):
    """Ingestion profile of a raw table: one full scan."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(qty).cast("decimal(18,2)")).cast("double").alias("total"),
        F.date_format(F.min(day), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max(day), "yyyy-MM-dd").alias("last_day"),
    )


def warehouse(r) -> None:
    """Medallion build over the star schema: scan → staging casts →
    dims → star-join facts (the registry's relational headline queries)
    → marts written and a late batch merged through plans.incremental →
    quality gate on the written marts."""
    spark, d = r.spark, str(r.inputs)
    li = load_table(spark, d, "lineitem")
    r.op("data.scan", "lineitem_profile", lambda: r.force(_profile(li, "l_quantity", "l_shipdate")))

    def query(name):
        return lambda: r.force(REGISTRY[name].fn(spark, d))

    staged = r.op("staging.cast", "q_project_cast", query("q_project_cast"))
    first = r.op("keys.dims", "q_window_dedup", query("q_window_dedup"))
    for q in ("q_star_join", "q_date_join"):
        r.op("starjoin.facts", q, query(q))

    marts = r.out / "marts"
    lineitem_mart = str(marts / "lineitem")
    staged = staged.withColumn("ship_year", F.substring("ship_date", 1, 4).cast("int"))
    line_key = ["order_id", "line_number"]
    r.op(
        "incremental.write",
        "mart_first_order",
        lambda: incremental.merge_upsert(spark, first, str(marts / "first_order"), ["custkey"]),
        written=marts,
    )
    r.op(
        "incremental.write",
        "mart_lineitem_initial",
        lambda: incremental.merge_upsert_partitioned(
            spark,
            staged.filter(F.col("ship_date") < LATE_CUTOFF),
            lineitem_mart,
            line_key,
            ["ship_year"],
        ),
        written=marts,
        check=False,
    )
    # the late batch restates the month before the cutoff: a true upsert
    # into the partition that already holds it
    r.op(
        "incremental.merge",
        "mart_lineitem",
        lambda: incremental.merge_upsert_partitioned(
            spark,
            staged.filter(F.col("ship_date") >= LATE_OVERLAP),
            lineitem_mart,
            line_key,
            ["ship_year"],
        ),
        digest=lambda df: spark_digest(df.drop("ship_year")),
        written=marts,
    )

    def gate():
        built = {
            name: spark.read.parquet(str(marts / name))
            for name in ("first_order", "lineitem")
        }
        return quality.run_assertions(
            built,
            [
                ("first_order", "unique", ["custkey"]),
                ("lineitem", "unique", line_key),
                ("lineitem", "accepted_values", ["return_flag"], {"values": ["A", "N", "R"]}),
            ],
        )

    r.op("quality.assert", "quality", gate, digest=value_digest)


def near_dedup(r) -> None:
    """One-shot curation of a multimodal record corpus: MinHash
    signatures (persisted as the signature store) → LSH band join and
    verify; embedding-cosine GEMM; image dHash decode and its Hamming
    band join; connected components over the union of the three
    near-duplicate graphs → keep one record per cluster → write the
    curated corpus."""
    spark, d = r.spark, str(r.inputs)
    docs = load_table(spark, d, "documents")
    vectors = load_table(spark, d, "embeddings")
    images = load_table(spark, d, "images")
    store = str(r.out / "signature_store")
    curated = str(r.out / "curated")

    r.op(
        "dedup.signatures",
        "signature_store",
        lambda: incremental.append(minhash_signatures_from_docs(docs, num_hashes=NUM_HASHES), store),
        digest=lambda _: spark_digest(spark.read.parquet(store)),
        written=r.out,
    )
    text_pairs = r.op(
        "dedup.lsh",
        "text_pairs",
        lambda: r.force(
            minhash_lsh_pairs(docs, num_hashes=NUM_HASHES, bands=BANDS, threshold=TEXT_THRESHOLD)
        ),
    )
    # both counts are fixed per seed: the oracle's band join, and the
    # row count of the verified pairs the digest check holds the op to
    cands, verified = r.bench.expected["_text_candidates"], r.bench.expected["text_pairs"][1]
    r.count("dedup.lsh", candidates=cands, verified=verified,
            verified_per_candidate=verified / max(1, cands))
    vector_pairs = r.op(
        "embedding_dedup.gemm",
        "vector_pairs",
        lambda: r.force(cosine_pairs_gemm(vectors, threshold=VECTOR_THRESHOLD)),
        digest=lambda df: spark_digest(df.select("id_a", "id_b")),
    )
    image_sigs = r.op(
        "image_dedup.decode",
        "image_signatures",
        lambda: r.force(image_signatures(images, "dhash")),
    )
    image_pairs = r.op(
        "dedup.lsh",
        "image_pairs",
        lambda: r.force(hamming_chunk_pairs(image_sigs, DHASH_BITS, IMAGE_HAMMING)),
    )

    def keep():
        edges = (
            text_pairs.select("id_a", "id_b")
            .unionByName(vector_pairs.select("id_a", "id_b"))
            .unionByName(image_pairs.select("id_a", "id_b"))
        )
        comps = connected_components(edges)
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id")
        )
        incremental.append(docs.join(losers, "doc_id", "left_anti"), curated)

    r.op(
        "embedding_dedup.cc",
        "curated",
        keep,
        digest=lambda _: spark_digest(spark.read.parquet(curated)),
        written=r.out,
    )


ROUNDS = {"warehouse": warehouse, "near_dedup": near_dedup}
