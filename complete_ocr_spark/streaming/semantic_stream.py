"""Incremental SEMANTIC dedup for arriving documents — the streaming twin
of curation's SemDeDup tier (functions.similarity.embedding_near_dup_srp +
connected components), closing curate_stream's round-7 carve-out ("the
semantic and media tiers stay batch-only").

Store layout (the dedup_stream banded-store shape, on SRP keys):

* ``bands/batch_id=K/vb=B`` — (doc, tbl, bucket) SRP band keys of batch K,
  vb = pmod(bucket, n_value_buckets): a probe prunes to the vb partitions
  its own keys hash into, so per-batch read cost tracks |batch| x
  corpus/n_value_buckets, never the corpus.
* ``vecs/batch_id=K/db=B`` — (doc, v) the batch's embeddings, db =
  pmod(xxhash64(doc), n_doc_buckets): the exact-cosine verify fetches ONLY
  the db partitions its candidates hash into (SRP candidates are tiny
  relative to the corpus, so the vector payload never rides a full scan).
* ``pairs/batch_id=K`` — every VERIFIED pair (doc, dup_of, dup_batch,
  cos): batch-curation's semantic tier drops cluster non-minimums, and a
  later arrival can bridge clusters — but unlike the lexical near-dup
  tier, the semantic tier runs over the NEAR-DUP SURVIVORS, whose set
  itself changes under near-dup promotion. An online cluster log cannot
  subtract a member's edges after the fact, so promotion instead reruns
  connected components over the persisted pair set RESTRICTED to current
  upstream survivors (curate_stream.read_curated_incr) — exact batch
  semantics at every prefix, at |verified pairs| cost (candidate sets are
  tiny relative to n; the corpus is never rescanned).
* ``flags/batch_id=K`` — docs with a strictly-earlier verified match: the
  batch-time ``semantic_dup`` evidence (a strictly-earlier match makes the
  doc a cluster non-minimum under monotone-id arrival, so batch-time flags
  are a sound subset of the final promotion).

The verify is bit-identical to the batch tier: round(cosine, 6) >=
threshold over the same SRP hyperplanes (deterministic from (dim, n_bits,
table, seed)), so streaming-found pairs equal embedding_near_dup_srp's
pairs over the same corpus.

Scale shape per batch: one Arrow SRP-kernel map over the batch, one
vb-pruned band probe, one db-pruned vector fetch for the candidates, the
round-cosine filter, three (batch_id, ...)-partitioned dynamic-overwrite
writes. Everything tracks |batch| + |candidates|.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.similarity import SRP_SEED, cosine, srp_hyperplanes
from ..io import (
    geometry_guard,
    has_parquet,
    prior_partitions,
    require_local,
    write_partitioned,
)
from .dedup_stream import _doc_bucket, _earlier_pairs

N_VALUE_BUCKETS = 16
N_DOC_BUCKETS = 16


def semantic_paths(out_root: str) -> tuple[str, str, str, str]:
    out_root = require_local(out_root, "semantic-stream out_root")
    return (
        os.path.join(out_root, "bands"),
        os.path.join(out_root, "vecs"),
        os.path.join(out_root, "pairs"),
        os.path.join(out_root, "flags"),
    )


def _srp_keys(batch: DataFrame, dim: int, n_bits: int, n_tables: int,
              seed: int) -> DataFrame:
    """(doc, tbl, bucket) SRP band keys — the Arrow matmul kernel
    (kernels.srp), bit-compatible with the Catalyst folds the batch tier's
    oracle transcribes."""
    from ..kernels.srp import make_srp_buckets_batch

    planes = [srp_hyperplanes(dim, n_bits, table=t, seed=seed)
              for t in range(n_tables)]
    id_type = dict(batch.dtypes)["doc"]
    return batch.select(F.col("doc").alias("vid"), F.col("v")).mapInPandas(
        make_srp_buckets_batch(planes),
        schema=f"vid {id_type}, tbl int, bucket bigint",
    ).select(F.col("vid").alias("doc"), "tbl", "bucket")


def make_semantic_dedup_batch(spark: SparkSession, out_root: str,
                              id_col: str = "doc_id",
                              vec_col: str = "embedding",
                              dim: int = 64,
                              threshold: float = 0.95,
                              n_bits: int = 10, n_tables: int = 2,
                              seed: int = SRP_SEED,
                              n_value_buckets: int = N_VALUE_BUCKETS,
                              n_doc_buckets: int = N_DOC_BUCKETS):
    """foreachBatch body over (id_col, vec_col) rows — the arriving docs
    that HAVE embeddings (batch curation's inner-join semantics: no
    vector, no semantic evidence). Parameters mirror curate_corpus'
    semantic tier; the full set persists in the geometry sidecar and a
    resume under different parameters refuses loudly."""
    out_root = require_local(out_root, "semantic-stream out_root")
    band_path, vec_path, pair_path, flag_path = semantic_paths(out_root)
    geometry = {
        "kind": "semantic-stream",
        "dim": dim, "threshold": threshold,
        "n_bits": n_bits, "n_tables": n_tables, "seed": seed,
        "n_value_buckets": n_value_buckets,
        "n_doc_buckets": n_doc_buckets,
    }

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if batch_df.isEmpty():
            return
        geometry_guard(out_root, geometry,
                        filename="_semantic_geometry.json")
        batch = (
            batch_df.select(F.col(id_col).alias("doc"),
                            F.col(vec_col).alias("v"))
            .localCheckpoint()  # feeds keys, verify vectors, vec write
        )
        keys = (
            _srp_keys(batch, dim, n_bits, n_tables, seed)
            .withColumn("batch_id", F.lit(bid))
            .withColumn("vb", F.pmod(F.col("bucket"),
                                     F.lit(n_value_buckets)).cast("int"))
            .localCheckpoint()  # feeds probe, within-join, band write
        )
        prior = prior_partitions(spark, band_path, keys, "vb", bid)
        corpus_keys = keys if prior is None else keys.unionByName(prior)
        cands = (
            _earlier_pairs(keys, corpus_keys, ("tbl", "bucket"))
            .drop("batch_id")
            .distinct()  # a true pair collides in up to n_tables tables
            .localCheckpoint()
        )
        # db-pruned vector fetch for the earlier side; the batch side's
        # vectors ride the (batch-sized) localCheckpointed frame
        earlier_vecs = batch.select(F.col("doc").alias("dup_of"),
                                    F.col("v").alias("v2"))
        prior_vecs = prior_partitions(
            spark, vec_path,
            cands.select(_doc_bucket("dup_of", n_doc_buckets).alias("db")),
            "db", bid)
        if prior_vecs is not None:
            earlier_vecs = earlier_vecs.unionByName(prior_vecs.select(
                F.col("doc").alias("dup_of"), F.col("v").alias("v2")))
        matches = (
            cands
            .join(batch.select(F.col("doc"), F.col("v").alias("v1")), "doc")
            .join(earlier_vecs, "dup_of")
            .withColumn("cos", F.round(cosine(F.col("v1"), F.col("v2")), 6))
            .filter(F.col("cos") >= threshold)  # the batch tier's verify
            .select("doc", "dup_of", "dup_batch", "cos")
            .localCheckpoint()  # feeds flags AND the pair write
        )
        flags = matches.select("doc").distinct()
        write_partitioned(keys.repartition(n_value_buckets, "vb"), band_path,
                          "batch_id", "vb")
        write_partitioned(
            batch.withColumn("batch_id", F.lit(bid))
            .withColumn("db", _doc_bucket("doc", n_doc_buckets))
            .repartition(n_doc_buckets, "db"),
            vec_path, "batch_id", "db")
        for frame, path in ((matches, pair_path), (flags, flag_path)):
            write_partitioned(
                frame.withColumn("batch_id", F.lit(bid)).coalesce(1), path,
                "batch_id")

    return process_batch


def read_semantic_pairs(spark: SparkSession, out_root: str,
                        id_type: str = "bigint") -> DataFrame:
    """All verified pairs so far: (doc, dup_of, dup_batch, cos, batch_id).
    Empty-frame fallback keeps bootstrap reads total; its int batch columns
    are what a real read infers, so consumers see one schema."""
    pair_path = semantic_paths(out_root)[2]
    if not has_parquet(pair_path):
        return spark.createDataFrame(
            [], f"doc {id_type}, dup_of {id_type}, dup_batch int, "
                f"cos double, batch_id int")
    return spark.read.parquet(pair_path)


def read_semantic_flags(spark: SparkSession, out_root: str,
                        id_type: str = "bigint") -> DataFrame:
    """Docs with a strictly-earlier verified match: (doc, batch_id)."""
    flag_path = semantic_paths(out_root)[3]
    if not has_parquet(flag_path):
        return spark.createDataFrame([], f"doc {id_type}, batch_id int")
    return spark.read.parquet(flag_path)
