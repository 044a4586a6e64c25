"""Streaming incremental dedup against a persisted signature store —
the production shape of continuous corpus ingest:

    signature store (minhash bands of the EXISTING corpus, built once)
      |
    documents stream ──foreachBatch──> batch minhash bands
      -> probe the store by (band, band_key) equi-join
      -> exact-Jaccard verify against the store's shingle arrays
      -> append only NON-duplicates to the training shards
      -> append the survivors' bands to the store (so later batches
         dedup against earlier batches too)

At 100 TB the store is a first-class table bucketed by band_key; each
batch's probe cost tracks the BATCH (new-side band rows), never the
corpus — dedup_incremental_new_batch measured flat as the corpus grows
10x (SCALING.md, "Measured round-5 family scaling"). Batch-vs-batch
dedup works because every accepted batch folds its signatures into the
store before the next trigger.

Run: python examples/streaming_incremental_dedup.py
"""

from __future__ import annotations

import sys
import tempfile

import pyspark.sql.functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from goconnect_spark.queries.corpus import shingle_arrays_for  # noqa: E402
from goconnect_spark.queries.dedup import _JACCARD_T, minhash_bands_for  # noqa: E402
from goconnect_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _arrays_for_docs(docs):
    return shingle_arrays_for(
        docs.select("doc_id", F.split("text", " ").alias("toks"))
    )


def main():
    spark = get_spark("streaming-incremental-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # existing corpus = lower 80% of the id space; the stream replays
    # the full table, so its first 80% are all known duplicates and
    # the top 20% are genuinely new — an end-to-end assertable split
    cut = int(docs.agg(F.expr("(MAX(doc_id) * 4) DIV 5")).collect()[0][0])
    old_docs = docs.where(F.col("doc_id") < cut)

    store_dir = tempfile.mkdtemp(prefix="sigstore_")
    shard_dir = tempfile.mkdtemp(prefix="shards_")
    chk = tempfile.mkdtemp(prefix="chk_")

    old_arrays = _arrays_for_docs(old_docs).localCheckpoint()
    minhash_bands_for(old_arrays).write.mode("overwrite").parquet(
        f"{store_dir}/bands"
    )
    old_arrays.write.mode("overwrite").parquet(f"{store_dir}/arrays")

    def process_batch(batch, batch_id):
        # fresh store read per batch: foreachBatch re-reads the path,
        # so earlier batches' appended signatures are visible (the
        # refresh pattern enrich_with_dim documents)
        store_bands = spark.read.parquet(f"{store_dir}/bands")
        store_arrays = spark.read.parquet(f"{store_dir}/arrays")
        arrays = _arrays_for_docs(batch).localCheckpoint()
        bands = minhash_bands_for(arrays)
        cand = (
            bands.alias("nw")
            .join(store_bands.alias("od"), ["band", "band_key"])
            .select(
                F.col("nw.doc_id").alias("new_id"),
                F.col("od.doc_id").alias("old_id"),
            )
            .distinct()
        )
        dup_ids = (
            cand.join(
                arrays.select(
                    F.col("doc_id").alias("new_id"),
                    F.col("shset").alias("sa"),
                    F.col("n").alias("na"),
                ),
                "new_id",
            )
            .join(
                store_arrays.select(
                    F.col("doc_id").alias("old_id"),
                    F.col("shset").alias("sb"),
                    F.col("n").alias("nb"),
                ),
                "old_id",
            )
            .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
            .where(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
                >= _JACCARD_T
            )
            .select("new_id")
            .distinct()
        )
        fresh = batch.join(
            dup_ids, batch.doc_id == dup_ids.new_id, "left_anti"
        )
        fresh.write.mode("append").parquet(shard_dir)
        # fold the accepted docs' signatures into the store
        fresh_arrays = _arrays_for_docs(fresh).localCheckpoint()
        minhash_bands_for(fresh_arrays).write.mode("append").parquet(
            f"{store_dir}/bands"
        )
        fresh_arrays.write.mode("append").parquet(f"{store_dir}/arrays")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_DIR)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    kept = spark.read.parquet(shard_dir)
    n_new = docs.where(F.col("doc_id") >= cut).count()
    n_kept = kept.count()
    n_old_kept = kept.where(F.col("doc_id") < cut).count()
    print(f"stream rows: {docs.count()} | old-corpus cut: {cut}")
    print(f"kept: {n_kept} (old-id dups re-admitted: {n_old_kept}, new ids: {n_new})")
    # every pre-cut doc is (at least) a self-duplicate of the store
    assert n_old_kept == 0, "known duplicates leaked through the probe"
    assert n_kept <= n_new


if __name__ == "__main__":
    main()
