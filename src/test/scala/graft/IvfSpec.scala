package graft

import graft.pipeline.{Ivf, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN: clustered corpus → probes recover brute-force neighbors. */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  // two tight clusters around (1,0,…) and (0,1,…) + deterministic jitter
  private def corpus = {
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f)
      val jit = base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d * 3) % 5) - 2)
      }
      (i.toLong, jit)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("train produces normalized centroids; assignment splits the clusters") {
    val cents = Ivf.train(corpus, c = 2, iters = 3)
    assert(cents.length == 2)
    cents.foreach { cv =>
      assert(math.abs(math.sqrt(cv.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val assigned = Ivf.assign(corpus, cents)
    val sizes = assigned.groupBy("list_id").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(20L, 20L)) // even/odd clusters separate
  }

  test("list_id-partitioned store prunes partitions at probe time (100 TB path)") {
    // the scale story: write assigned corpus partitionBy(list_id), probe
    // with a list_id filter — the scan must read only matching partitions
    val cents = Ivf.train(corpus, c = 2, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString
    Ivf.assign(corpus, cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    val store = spark.read.parquet(path)
    val probe = store.where(col("list_id") === 0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(list_id"), plan.take(1500))
    assert(probe.count() == 20)
    // a probe never scans the other list's files
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("list_id=1"))
  }

  test("r13: the materialized ANN index serves searches equal to the " +
       "in-memory path, exhaustive probe equals brute force, and the " +
       "cells scan is partition-pruned to the probe lists") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    Ivf.writeIndex(corpus, c = 2, path, iters = 2)
    val queries = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // served == in-memory on the same (deterministic) training
    val cents = Ivf.train(
      corpus.withColumn("embedding", col("embedding").cast("array<double>")),
      c = 2, iters = 2)
    val served = Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 1)
    assert(pairs(served) == pairs(Ivf.topK(
      Ivf.assign(corpus.withColumn("embedding",
        col("embedding").cast("array<double>")), cents),
      queries, cents, k = 5, nprobe = 1)))
    // exhaustive probe == brute force (the oracle contract)
    assert(pairs(Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 2)) ==
      pairs(Similarity.bruteForceTopK(
        corpus.withColumn("embedding", col("embedding").cast("array<double>")),
        queries, k = 5)))
    // the pruned probe reads ONLY its cells: literal partition filter in
    // the scan, and the untouched list's files never appear in the leaves
    val plan = served.queryExecution.executedPlan
    val scans = plan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("PartitionFilters") && scans.contains("list_id"),
      scans.take(1500))
    // both queries are in the same (even/odd) cluster geometry? if their
    // probes only cover one list, the other list's partition dir is absent
    val probed = served.select(col("neighbor_id") % 2).distinct().count()
    assert(probed >= 1) // sanity: results exist
  }

  test("ivf topk with nprobe=1 matches brute force on clustered data") {
    val cents = Ivf.train(corpus, c = 2, iters = 2)
    val assigned = Ivf.assign(corpus, cents)
    val queries = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ivf = Ivf.topK(assigned, queries, cents, k = 5, nprobe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(
        corpus.withColumn("embedding", col("embedding").cast("array<double>")),
        queries.withColumn("query_vec", col("query_vec").cast("array<double>")), k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute) // clusters are well separated → full recall
  }

  test("r13: ANN index maintenance — append under frozen centroids makes an " +
       "exhaustive probe equal brute force over the union; insert-only enforced") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_app").toString
    Ivf.writeIndex(corpus.where(col("vec_id") % 2 === 0), c = 2, path, iters = 2)
    Ivf.appendToIndex(spark, path, corpus.where(col("vec_id") % 2 === 1))
    val queries = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 2)) ==
      pairs(Similarity.bruteForceTopK(
        corpus.withColumn("embedding", col("embedding").cast("array<double>")),
        queries, k = 5)))
    // appended rows live inside the partitioned layout (probes stay pruned)
    val cells = spark.read.parquet(s"$path/cells")
    assert(cells.count() == 40 && cells.columns.contains("list_id"))
    // re-appending an existing id raises (insert-only contract, default mode)
    val e = intercept[IllegalArgumentException](
      Ivf.appendToIndex(spark, path, corpus.where(col("vec_id") === 1)))
    assert(e.getMessage.contains("insert-only"))
    // a batch carrying the same NEW id twice is malformed — it would serve
    // the id twice and the store probe can't see it; raises even with the
    // insert check off
    spark.conf.set("graft.append.insertCheck", "off")
    try {
      val dup = corpus.where(col("vec_id") === 1)
        .unionByName(corpus.where(col("vec_id") === 1))
        .withColumn("vec_id", col("vec_id") + 1000)
      val e2 = intercept[IllegalArgumentException](
        Ivf.appendToIndex(spark, path, dup))
      assert(e2.getMessage.contains("duplicate id"))
    } finally spark.conf.unset("graft.append.insertCheck")
  }

  test("r13: recallAtK is robust to duplicated rows on either side — " +
       "never reports recall above 1.0") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val dupApprox = Seq((1L, 10L), (1L, 10L)).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(dupApprox, exact).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == Map(1L -> 0.5), r.toString)
    val dupExact = exact.unionByName(exact)
    val r2 = Similarity.recallAtK(exact, dupExact).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r2 == Map(1L -> 1.0), r2.toString)
  }

  test("r13: tombstone delete filters served results immediately; compact " +
       "applies physically, clears the sidecar, and is idempotent; a " +
       "tombstoned id refuses re-insert until compacted") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    Ivf.writeIndex(corpus, c = 2, path, iters = 2)
    Ivf.deleteFromIndex(spark, path,
      corpus.where(col("vec_id").isin(2L, 4L)).select("vec_id"))
    val queries = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val survivors = corpus.where(!col("vec_id").isin(2L, 4L))
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val served = Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 2)
    assert(pairs(served) == pairs(Similarity.bruteForceTopK(survivors, queries, k = 5)))
    assert(!served.collect().map(_.getLong(1)).toSet.exists(Set(2L, 4L)))
    // a tombstoned id refuses re-insert EVEN with the insert check off —
    // the serve-time filter would silently hide the new row
    spark.conf.set("graft.append.insertCheck", "off")
    try {
      val e = intercept[IllegalArgumentException](
        Ivf.appendToIndex(spark, path, corpus.where(col("vec_id") === 2)))
      assert(e.getMessage.contains("tombstoned"))
    } finally spark.conf.unset("graft.append.insertCheck")
    // compact: physical removal, sidecar cleared, serving unchanged
    val (removed, parts) = Maintain.compactAnnIndex(spark, path)
    assert(removed == 2L && parts >= 1)
    assert(spark.read.parquet(s"$path/cells")
      .where(col("vec_id").isin(2L, 4L)).count() == 0)
    assert(!new java.io.File(s"$path/deletes").exists())
    assert(pairs(Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 2)) ==
      pairs(Similarity.bruteForceTopK(survivors, queries, k = 5)))
    // idempotent: nothing left to do
    assert(Maintain.compactAnnIndex(spark, path) == ((0L, 0)))
    // after compaction the id is genuinely gone — re-insert is legal again
    Ivf.appendToIndex(spark, path, corpus.where(col("vec_id") === 2))
    val back = corpus.where(col("vec_id") =!= 4L)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    assert(pairs(Ivf.topKFromStore(spark, path, queries, k = 5, nprobe = 2)) ==
      pairs(Similarity.bruteForceTopK(back, queries, k = 5)))
    // the crash windows of the per-list swap are rows of MaintainSpec's
    // store-swap kernel crash table
  }

  test("r13: recallAtK — 1.0 when the pruned probe recovers brute force, " +
       "exact fractions when it misses, 0.0 on an empty approximation") {
    val corpusD = corpus.withColumn("embedding",
      col("embedding").cast("array<double>"))
    val queries = corpusD.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(corpusD, queries, k = 5)
    // separated clusters: nprobe=1 recovers everything → recall 1.0/query
    val cents = Ivf.train(corpusD, c = 2, iters = 2)
    val pruned = Ivf.topK(Ivf.assign(corpusD, cents), queries, cents,
      k = 5, nprobe = 1)
    val r1 = Similarity.recallAtK(pruned, exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1.size == 2 && r1.values.forall(_ == 1.0), r1.toString)
    // a result missing 2 of 5 true neighbors per query scores exactly 0.6
    val crippled = exact.where(col("rank") <= 3)
    val r2 = Similarity.recallAtK(crippled, exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2.values.forall(_ == 0.6), r2.toString)
    // empty approximation: every query still reports, at 0.0
    val r3 = Similarity.recallAtK(exact.limit(0), exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r3.size == 2 && r3.values.forall(_ == 0.0), r3.toString)
  }

  test("r13: versioned index lifecycle — retrain builds beside the serving " +
       "version, the pointer flip is the only swap, prune keeps rollback depth") {
    val path = java.nio.file.Files.createTempDirectory("graft_ann_ver").toString
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val queries = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("query_vec"))
    def brute(c: org.apache.spark.sql.DataFrame) = Similarity.bruteForceTopK(
      c.withColumn("embedding", col("embedding").cast("array<double>")),
      queries, k = 5)
    // v1: half the corpus
    Ivf.writeVersionedIndex(corpus.where(col("vec_id") % 2 === 0),
      c = 2, path, iters = 2)
    assert(Ivf.currentVersion(spark, path).contains(1))
    assert(pairs(Ivf.topKFromVersionedStore(spark, path, queries, k = 5,
      nprobe = 2)) == pairs(brute(corpus.where(col("vec_id") % 2 === 0))))
    // a second seed raises — versions only move through retrainIndex
    intercept[IllegalArgumentException](
      Ivf.writeVersionedIndex(corpus, c = 2, path))
    // retrain on the FULL corpus: v2 appears, pointer flips, v1 stays on
    // disk as the rollback copy
    assert(Ivf.retrainIndex(corpus, c = 2, path, iters = 2) == 2)
    assert(Ivf.currentVersion(spark, path).contains(2))
    assert(pairs(Ivf.topKFromVersionedStore(spark, path, queries, k = 5,
      nprobe = 2)) == pairs(brute(corpus)))
    assert(new java.io.File(s"$path/v1/cells").exists())
    // maintenance verbs called on the ROOT resolve to the servable
    // version — never a silent tombstone beside the versions
    Ivf.deleteFromIndex(spark, path,
      corpus.where(col("vec_id") === 4).select("vec_id"))
    assert(new java.io.File(s"$path/v2/deletes").exists())
    assert(pairs(Ivf.topKFromVersionedStore(spark, path, queries, k = 5,
      nprobe = 2)) == pairs(brute(corpus.where(col("vec_id") =!= 4))))
    // compaction resolves the same way; a flat-path delete with no store
    // underneath raises instead of writing dead tombstones
    val (removedV, _) = Maintain.compactAnnIndex(spark, path)
    assert(removedV == 1L &&
      !new java.io.File(s"$path/v2/deletes").exists())
    intercept[IllegalArgumentException](Ivf.deleteFromIndex(spark,
      path + "/nonexistent", corpus.limit(1).select("vec_id")))
    // prune reclaims retired versions, never the current one
    assert(Maintain.pruneIndexVersions(spark, path) == Seq(1))
    assert(!new java.io.File(s"$path/v1").exists())
    assert(Ivf.currentVersion(spark, path).contains(2))
    assert(pairs(Ivf.topKFromVersionedStore(spark, path, queries, k = 5,
      nprobe = 2)) == pairs(brute(corpus.where(col("vec_id") =!= 4))))
    // nothing left below the rollback depth: prune is idempotent
    assert(Maintain.pruneIndexVersions(spark, path).isEmpty)
  }

  test("bbq: sign-bit packing round-trips hamming; exhaustive oversample " +
       "equals brute force; 65+ dims pack into a second word") {
    val c64 = corpus.withColumn("embedding", col("embedding").cast("array<double>"))
    val q = c64.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val bbq = Similarity.bbqTopK(c64, q, k = 5, oversample = 20) // 100 ≥ 40
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(c64, q, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bbq == brute)
    // packing: opposite sign patterns are maximally distant, equal are 0;
    // a 65th dimension lands in word 2 and still counts
    val pair = Seq(
      (1L, Array.fill(65)(1.0)),
      (2L, Array.fill(65)(-1.0)),
      (3L, Array.fill(65)(1.0))).toDF("vec_id", "embedding")
    val b = Similarity.binarize(pair, "embedding")
    val packed = b.select("vec_id", "b_emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(packed(1L).length == 2) // 65 dims → 2 words
    val hd = b.alias("x").crossJoin(b.alias("y"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        Similarity.hamming(col("x.b_emb"), col("y.b_emb")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(hd((1L, 3L)) == 0)
    assert(hd((1L, 2L)) == 65)
  }
}
