package graft.streaming

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous near-duplicate detection: a document stream checked per
  * micro-batch against the materialized MinHash sketch store
  * ([[Dedup.writeSketchStore]]), so an ingestion pipeline can flag (or
  * drop) near-dups in-flight instead of re-deduping the corpus offline.
  *
  * Shape: `foreachBatch` — the idiomatic Structured Streaming form for a
  * per-batch join with batch-local candidate dedup plus a store append
  * (neither is expressible as a pure streaming operator without unbounded
  * dedup state). Per batch:
  *  1. sketch the incoming docs (narrow, one pass per row);
  *  2. run the incremental LSH core — candidate volume scales with the
  *     BATCH's bucket collisions, never with corpus²;
  *  3. hand the verified pairs to `onBatch` (write them, alert, drop);
  *  4. append the batch's sketches so the next batch sees this one.
  * The append happens after `onBatch` returns, from the cached sketches —
  * the store snapshot a batch joins against never includes itself.
  */
object StreamingDedup {

  def nearDupStream(docs: DataFrame, storePath: String,
                    textCol: String, idCol: String,
                    shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
                    threshold: Double = 0.5, appendToStore: Boolean = true)
                   (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
    docs.writeStream.foreachBatch { (batch: Dataset[Row], epoch: Long) =>
      val spark = batch.sparkSession
      val fresh = batch.select(col(idCol).as("id"),
          word_shingles(Dedup.tokens(col(textCol)), shingleK).as("sh"))
        .withColumn("sig", minhash_sig(col("sh"), numHashes))
        .persist()
      try {
        val store = graft.StoreFs.read(spark, storePath)
        onBatch(Dedup.incrementalPairs(store, fresh, numHashes, bands, threshold),
          epoch)
        if (appendToStore) fresh.write.mode("append").parquet(storePath)
      } finally fresh.unpersist()
    }
  }
}
