package graft

import graft.streaming.StreamingIndexer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S1: the mutation stream drives the same upsert pipeline per micro-batch. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark

  test("streaming upsert: last-write-wins applied per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "v")

    var state: DataFrame = Seq.empty[(String, Long, String)].toDF("doc_id", "ver", "v")
    val q = StreamingIndexer.upsertStream(mutations, "doc_id", Seq("ver"),
      sink = (batch, _) => {
        // a foreachBatch DataFrame is only valid during its batch — a real
        // sink writes it out; here we materialize into a fresh local DF
        val rows = batch.collect().toIndexedSeq
        val mat = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), batch.schema)
        state = Indexer.upsert(state, mat, "doc_id", Seq("ver"))
      })
      .start()
    try {
      input.addData(("k1", 1L, "a"), ("k1", 2L, "b"), ("k2", 1L, "x"))
      q.processAllAvailable()
      input.addData(("k2", 5L, "y"))
      q.processAllAvailable()
    } finally q.stop()

    val out = state.orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(out == Seq(("k1", "b"), ("k2", "y")))
  }

  test("streaming index maintenance: postings appended per micro-batch serve search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-postings").toString
    // seed store so the first append lands on an existing layout
    TextIndex.writePostings(TextIndex.buildPostings(
      Seq(("seed", 0L, "initial corpus doc")).toDF("doc_id", "ver", "text"),
      "doc_id", Seq("text"), 8), dir)

    var state: DataFrame = Seq(("seed", 0L, "initial corpus doc"))
      .toDF("doc_id", "ver", "text")
    val q = StreamingIndexer.upsertStreamIndexed(mutations, "doc_id", Seq("ver"),
      fields = Seq("text"), postingsPath = dir, nBuckets = 8,
      sink = (batch, _) => {
        val rows = batch.collect().toIndexedSeq
        val mat = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), batch.schema)
        state = Indexer.upsert(state, mat, "doc_id", Seq("ver"))
      })
      .start()
    try {
      input.addData(("k1", 1L, "spark runs fast"), ("k2", 1L, "unrelated words"))
      q.processAllAvailable()
      // k2 rewritten: loses 'unrelated', gains 'spark'
      input.addData(("k2", 2L, "now about spark too"))
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.option("basePath", dir).parquet(dir)
    val hits = TextIndex.searchIndexed(state, store, "text:spark",
      IndexConfig(), Seq("doc_id"), Set("text"), 8)
    assert(hits.select("doc_id").as[String].collect().toSet == Set("k1", "k2"))
    // the stale 'unrelated' posting for k2 must not resurface the old doc
    val gone = TextIndex.searchIndexed(state, store, "text:unrelated",
      IndexConfig(), Seq("doc_id"), Set("text"), 8)
    assert(gone.count() == 0)
  }

  test("r11: insertStreamServed maintains postings+norms per micro-batch — " +
       "streamed BM25 equals an all-at-once batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-stream-bm25").toString
    val seed = Seq((1L, 0L, "spark makes batch fast"))
      .toDF("doc_id", "ver", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8), s"$base/postings")
    TextIndex.buildNorms(seed, "doc_id", Seq("text"))
      .write.parquet(s"$base/norms")
    val q = StreamingIndexer.insertStreamServed(mutations, "doc_id", Seq("ver"),
      fields = Seq("text"), postingsPath = s"$base/postings",
      normsPath = s"$base/norms", nBuckets = 8).start()
    try {
      input.addData((2L, 1L, "batch jobs move data"), (3L, 1L, "spark spark spark"))
      q.processAllAvailable()
      input.addData((4L, 1L, "nothing to see"))
      q.processAllAvailable()
    } finally q.stop()
    val all = seed.unionByName(Seq(
      (2L, 1L, "batch jobs move data"), (3L, 1L, "spark spark spark"),
      (4L, 1L, "nothing to see")).toDF("doc_id", "ver", "text"))
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch"), nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = scores(
      spark.read.option("basePath", s"$base/postings").parquet(s"$base/postings"),
      spark.read.parquet(s"$base/norms"))
    val batchBuilt = scores(
      TextIndex.buildPostings(all, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(all, "doc_id", Seq("text")))
    assert(streamed == batchBuilt, s"streamed=$streamed batch=$batchBuilt")
  }

  test("r12: upsertStreamServed survives a mid-stream EDIT — store-served " +
       "BM25 hash-equals an all-at-once batch rebuild of the final corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-stream-upsert").toString
    // versioned seed: postings AND norms carry the conventional gen 0
    val seed = Seq((1L, 0L, "spark makes batch fast"))
      .toDF("doc_id", "ver", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8)
        .withColumn("gen", lit(0L)), s"$base/postings")
    TextIndex.buildNorms(seed, "doc_id", Seq("text")).withColumn("gen", lit(0L))
      .write.parquet(s"$base/norms")
    val q = StreamingIndexer.upsertStreamServed(mutations, "doc_id", Seq("ver"),
      fields = Seq("text"), postingsPath = s"$base/postings",
      normsPath = s"$base/norms", nBuckets = 8).start()
    try {
      input.addData((2L, 1L, "batch jobs move data"), (3L, 1L, "spark spark spark"))
      q.processAllAvailable()
      // EDIT doc 2 in place: 'jobs'/'move' disappear, 'spark' appears —
      // tf, df, dl, and avgdl must all see ONLY the new version
      input.addData((2L, 2L, "spark pipelines stream batch data"))
      q.processAllAvailable()
    } finally q.stop()
    val all = seed.unionByName(Seq(
      (2L, 2L, "spark pipelines stream batch data"),
      (3L, 1L, "spark spark spark")).toDF("doc_id", "ver", "text"))
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch", "jobs"),
          nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = scores(
      spark.read.option("basePath", s"$base/postings").parquet(s"$base/postings"),
      spark.read.parquet(s"$base/norms"))
    val batchBuilt = scores(
      TextIndex.buildPostings(all, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(all, "doc_id", Seq("text")))
    assert(streamed == batchBuilt, s"streamed=$streamed batch=$batchBuilt")
    // the stale generation is physically present but dead: raw postings
    // still hold doc 2's old 'jobs' row, served scores exclude it
    val raw = spark.read.option("basePath", s"$base/postings")
      .parquet(s"$base/postings")
    assert(raw.where($"token" === "jobs" && $"doc_id" === 2L).count() == 1)
    assert(!streamed.contains(2L) ||
      !batchBuilt.contains(2L) || streamed(2L) == batchBuilt(2L))
  }

  test("r12: segment-aware streamed appends — postings land per segment, " +
       "reindexSegment + upsertNorms repair ONE segment after an edit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "text", "seg")
    val base = java.nio.file.Files.createTempDirectory("graft-stream-seg").toString
    val seed = Seq((1L, 0L, "spark makes batch fast", "a"),
      (2L, 0L, "data moves in pipelines", "b"))
      .toDF("doc_id", "ver", "text", "seg")
    TextIndex.writePostings(
      TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8, Some("seg")),
      s"$base/postings", Some("seg"))
    TextIndex.buildNorms(seed, "doc_id", Seq("text"))
      .write.parquet(s"$base/norms")
    val q = StreamingIndexer.insertStreamServed(mutations, "doc_id", Seq("ver"),
      fields = Seq("text"), postingsPath = s"$base/postings",
      normsPath = s"$base/norms", nBuckets = 8,
      segmentCol = Some("seg")).start()
    try {
      input.addData((3L, 1L, "spark streams data", "a"),
        (4L, 1L, "batch data lands here", "b"))
      q.processAllAvailable()
    } finally q.stop()
    // an in-place edit of doc 4 through the insert path raises, and
    // nothing is written
    val edit = Seq((4L, "spark replaces the batch text", "b"))
      .toDF("doc_id", "text", "seg")
    def storeRows() = (spark.read.parquet(s"$base/norms").count(),
      spark.read.option("basePath", s"$base/postings")
        .parquet(s"$base/postings").count())
    val before = storeRows()
    val e = intercept[IllegalArgumentException](
      StreamingIndexer.applyInsertServedBatch(edit, 1L, "doc_id", Seq("text"),
        s"$base/postings", s"$base/norms", 8, segmentCol = Some("seg")))
    assert(e.getMessage.contains("insert-only"), e.getMessage)
    assert(storeRows() == before)
    // a pipeline that appends blind lets the edit slip through and skews
    // segment b: a second norms row for doc 4, new postings beside the old
    TextIndex.buildNorms(edit, "doc_id", Seq("text"))
      .write.mode("append").parquet(s"$base/norms")
    TextIndex.appendPostings(edit, "doc_id", Seq("text"), s"$base/postings", 8,
      Some("seg"))
    // both segment partitions exist — lifecycle ops stay directory ops
    val segDirs = new java.io.File(s"$base/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(segDirs == Set("seg=a", "seg=b"), segDirs.toString)
    val current = Seq(
      (1L, "spark makes batch fast", "a"),
      (2L, "data moves in pipelines", "b"),
      (3L, "spark streams data", "a"),
      (4L, "spark replaces the batch text", "b"))
      .toDF("doc_id", "text", "seg")
    // bounded repair: ONLY segment b's postings rebuild; norms merge by key
    TextIndex.reindexSegment(spark, current, "doc_id", Seq("text"),
      s"$base/postings", 8, "seg", "b")
    TextIndex.upsertNorms(current.where($"seg" === "b"), "doc_id",
      Seq("text"), s"$base/norms")
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch", "data"),
          nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val served = scores(
      spark.read.option("basePath", s"$base/postings").parquet(s"$base/postings"),
      spark.read.parquet(s"$base/norms"))
    val rebuilt = scores(
      TextIndex.buildPostings(current, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(current, "doc_id", Seq("text")))
    assert(served == rebuilt, s"served=$served rebuilt=$rebuilt")
  }

  test("r12: redelivered micro-batches are skipped — the _graft_batch " +
       "marker makes the per-batch appends idempotent") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream-redeliver").toString
    val seed = Seq((1L, "spark makes batch fast")).toDF("doc_id", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8), s"$base/postings")
    TextIndex.buildNorms(seed, "doc_id", Seq("text"))
      .write.parquet(s"$base/norms")
    val b0 = Seq((2L, "fresh content arrives")).toDF("doc_id", "text")
    assert(StreamingIndexer.applyInsertServedBatch(b0, 0L, "doc_id",
      Seq("text"), s"$base/postings", s"$base/norms", 8))
    val normsAfter = spark.read.parquet(s"$base/norms").count()
    val postingsAfter = spark.read.option("basePath", s"$base/postings")
      .parquet(s"$base/postings").count()
    // at-least-once redelivery of batch 0: skipped whole, stores unchanged
    assert(!StreamingIndexer.applyInsertServedBatch(b0, 0L, "doc_id",
      Seq("text"), s"$base/postings", s"$base/norms", 8))
    assert(spark.read.parquet(s"$base/norms").count() == normsAfter)
    assert(spark.read.option("basePath", s"$base/postings")
      .parquet(s"$base/postings").count() == postingsAfter)
    // the next NEW batch still applies
    assert(StreamingIndexer.applyInsertServedBatch(
      Seq((3L, "more new content")).toDF("doc_id", "text"), 1L, "doc_id",
      Seq("text"), s"$base/postings", s"$base/norms", 8))
    assert(spark.read.parquet(s"$base/norms").count() == normsAfter + 1)
    // the upsert twin shares the marker discipline (same store group)
    assert(!StreamingIndexer.applyUpsertServedBatch(b0, 1L, "doc_id",
      Seq("text"), s"$base/postings", s"$base/norms", 8))
  }

  test("r13: annStreamServed — streamed appends under frozen centroids " +
       "serve exactly brute force over seed + all batches; redelivery " +
       "skips whole; the crash window converges without double rows; an " +
       "edit wearing a replay's id raises") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def vecs(ids: Range): Seq[(Long, Array[Double])] = ids.map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0, 0.0)
                 else Array(0.0, 1.0, 0.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01 * (((i * 7 + d * 3) % 5) - 2) })
    }
    val path = java.nio.file.Files.createTempDirectory("graft-stream-ann").toString
    graft.pipeline.Ivf.writeIndex(
      vecs(0 until 20).toDF("vec_id", "embedding"), c = 2, path, iters = 2)
    val input = MemoryStream[(Long, Array[Double])]
    val q = StreamingIndexer.annStreamServed(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input.addData(vecs(20 until 30): _*)
      q.processAllAvailable()
      input.addData(vecs(30 until 40): _*)
      q.processAllAvailable()
    } finally q.stop()
    val all = vecs(0 until 40).toDF("vec_id", "embedding")
    val queries = all.where($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    def pairs(df: DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(graft.pipeline.Ivf.topKFromStore(spark, path, queries,
        k = 5, nprobe = 2)) ==
      pairs(graft.pipeline.Similarity.bruteForceTopK(all, queries, k = 5)))
    // redelivery of an already-marked batch: skipped whole (ids 0 and 1 ran)
    val cellsBefore = spark.read.parquet(s"$path/cells").count()
    assert(!StreamingIndexer.applyAnnStreamBatch(
      vecs(20 until 30).toDF("vec_id", "embedding"), 0L, path))
    assert(spark.read.parquet(s"$path/cells").count() == cellsBefore)
    // crash window: batch 2's append COMMITTED but the marker write didn't
    // (pending marker present, _graft_batch still at 1) — redelivery must
    // converge: content probe sees rows present-and-equal, no second append
    val b2 = vecs(40 until 46).toDF("vec_id", "embedding")
    StreamingIndexer.writePending(spark, s"$path/cells", 2L)
    graft.pipeline.Ivf.appendToIndex(spark, path, b2)
    assert(StreamingIndexer.applyAnnStreamBatch(b2, 2L, path))
    assert(spark.read.parquet(s"$path/cells")
      .where($"vec_id" >= 40).count() == 6) // one copy, not two
    // ...and the converged store serves the union exactly
    val all2 = vecs(0 until 46).toDF("vec_id", "embedding")
    assert(pairs(graft.pipeline.Ivf.topKFromStore(spark, path, queries,
        k = 5, nprobe = 2)) ==
      pairs(graft.pipeline.Similarity.bruteForceTopK(all2, queries, k = 5)))
    // an EDITED vector wearing a replay's batch id raises, converging never
    // becomes edit tolerance
    StreamingIndexer.writePending(spark, s"$path/cells", 3L)
    graft.pipeline.Ivf.appendToIndex(spark, path,
      vecs(46 until 48).toDF("vec_id", "embedding"))
    val edited = vecs(46 until 48)
      .map { case (i, v) => (i, v.map(_ * -1.0)) }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      StreamingIndexer.applyAnnStreamBatch(edited, 3L, path))
    assert(e.getMessage.contains("DIFFERENT content"))
  }

  test("r13: ivfPqStreamServed — code-only streamed appends under frozen " +
       "models; lossless exhaustive serve equals brute force after the " +
       "stream; crash window converges; a versioned root refuses a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (0L, Array(1.0, 0.9, 0.0, 0.1, 0.0, 0.0, 0.1, 0.0)),
      (1L, Array(0.9, 1.0, 0.1, 0.0, 0.0, 0.1, 0.0, 0.0)),
      (2L, Array(1.0, 0.8, 0.1, 0.1, 0.1, 0.0, 0.0, 0.1)),
      (10L, Array(0.0, 0.1, 1.0, 0.9, 0.1, 0.0, 0.0, 0.0)),
      (11L, Array(0.1, 0.0, 0.9, 1.0, 0.0, 0.1, 0.0, 0.0)),
      (12L, Array(0.0, 0.0, 1.0, 0.7, 0.0, 0.0, 0.1, 0.1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-stream-ivfpq").toString
    // lossless models trained on the FULL corpus; the second cluster's
    // rows then LEAVE (delete + compact) and return through the stream —
    // the returning codes are identical, so exhaustive serve is exact
    graft.pipeline.Pq.writeIvfPqIndex(corpus, c = 2, m = 4, path, ksub = 8,
      pqIters = 0, ivfIters = 2)
    graft.pipeline.Ivf.deleteFromIndex(spark, path,
      Seq(10L, 11L, 12L).toDF("vec_id"))
    Maintain.compactAnnIndex(spark, path)
    val input = MemoryStream[(Long, Array[Double])]
    val q = StreamingIndexer.ivfPqStreamServed(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input.addData(rows.filter(r => r._1 == 10L || r._1 == 11L): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 == 12L): _*)
      q.processAllAvailable()
    } finally q.stop()
    def pairs(df: DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val queries = corpus.where(col("vec_id").isin(0L, 10L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    assert(pairs(graft.pipeline.Pq.ivfPqTopKFromStore(spark, path, queries,
        k = 3, nprobe = 2)) ==
      pairs(graft.pipeline.Similarity.bruteForceTopK(
        corpus.withColumn("embedding", col("embedding").cast("array<double>")),
        queries, k = 3)))
    // the streamed cells stayed code-only
    assert(spark.read.parquet(s"$path/cells").columns.toSet ==
      Set("list_id", "vec_id", "code"))
    // crash window: batch 5's append committed, marker didn't — converges
    val b5 = Seq((20L, Array(0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    StreamingIndexer.writePending(spark, s"$path/cells", 5L)
    graft.pipeline.Pq.appendToIvfPqIndex(spark, path, b5)
    assert(StreamingIndexer.applyIvfPqStreamBatch(b5, 5L, path))
    assert(spark.read.parquet(s"$path/cells")
      .where(col("vec_id") === 20L).count() == 1)
    // an edited vector wearing the replay's id raises on the code compare
    StreamingIndexer.writePending(spark, s"$path/cells", 6L)
    graft.pipeline.Pq.appendToIvfPqIndex(spark, path,
      Seq((21L, Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)))
        .toDF("vec_id", "embedding"))
    val e = intercept[IllegalArgumentException](
      StreamingIndexer.applyIvfPqStreamBatch(
        Seq((21L, Array(0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0)))
          .toDF("vec_id", "embedding"), 6L, path))
    assert(e.getMessage.contains("DIFFERENT codes"))
    // a versioned ROOT refuses a streamed appender — bind one version
    val root = java.nio.file.Files.createTempDirectory("graft-stream-vroot").toString
    graft.pipeline.Pq.writeVersionedIvfPqIndex(corpus, c = 2, m = 4, root,
      ksub = 8, pqIters = 0, ivfIters = 2)
    val ev = intercept[IllegalArgumentException](
      StreamingIndexer.applyIvfPqStreamBatch(b5, 0L, root))
    assert(ev.getMessage.contains("versioned index root"))
  }

  test("r11: suggester freshness composes in foreachBatch — an insert-only " +
       "stream keeps the LM store current via appendSuggestStore") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val mutations = input.toDF().toDF("doc_id", "ver", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sugg").toString
    val seed = Seq(("seed", 0L, "spark stream spark stream"))
      .toDF("doc_id", "ver", "text")
    Search.writeSuggestStore(seed, "text", dir)
    // the building blocks compose: same foreachBatch that upserts docs
    // appends the batch's LM delta (insert-only stream by contract)
    val q = StreamingIndexer.upsertStream(mutations, "doc_id", Seq("ver"),
      sink = (batch, _) => {
        val rows = batch.collect().toIndexedSeq
        val mat = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), batch.schema)
        Search.appendSuggestStore(mat, "text", dir)
      }).start()
    try {
      input.addData(("k1", 1L, "spark batch"), ("k2", 1L, "stream batch"))
      q.processAllAvailable()
    } finally q.stop()
    // store counts now reflect seed + streamed docs exactly
    val served = Search.phraseSuggestFromStore(spark, dir, "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq
    val direct = Search.phraseSuggest(
      seed.unionByName(Seq(("k1", 1L, "spark batch"), ("k2", 1L, "stream batch"))
        .toDF("doc_id", "ver", "text")), "text", "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(served == direct, s"served=$served direct=$direct")
  }

  test("windowed counts emit closed windows through a real stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingIndexer.windowedCounts(events, "ts", "event_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("wc_out").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 00:10:00"), "click", 1.0),
                    (t("2024-01-01 00:50:00"), "click", 2.0))
      q.processAllAvailable()
      // advance event time far enough that watermark (max - 2h) closes hour 0
      input.addData((t("2024-01-01 04:00:00"), "view", 3.0))
      q.processAllAvailable()
      input.addData((t("2024-01-01 08:00:00"), "view", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT window.start, event_type, n FROM wc_out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(out.contains(("2024-01-01 00:00:00.0", "click", 2L)))
  }

  test("streaming date_histogram agg: finalized buckets equal the batch Aggs result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body = """{"query":{"term":{"event_type":"click"}},
                   "aggs":{"per_hour":{"date_histogram":
                     {"field":"ts","calendar_interval":"hour"},
                   "aggs":{"total":{"sum":{"field":"value"}}}}}}"""
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Aggs.runStream(events, body, watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("agg_stream_out").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val hour0 = Seq((t("2024-01-01 00:05:00"), "click", 1.5),
      (t("2024-01-01 00:45:00"), "click", 2.0),
      (t("2024-01-01 00:50:00"), "view", 9.0)) // filtered by the query
    try {
      input.addData(hour0: _*)
      q.processAllAvailable()
      // event time moves past hour0 + watermark -> hour-0 bucket finalizes
      input.addData((t("2024-01-01 02:00:00"), "click", 4.0))
      q.processAllAvailable()
      input.addData((t("2024-01-01 05:00:00"), "click", 8.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT key, doc_count, total FROM agg_stream_out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    // the same body over the same rows as a batch: closed buckets must agree
    val batch = Aggs.runSingle(
        (hour0 ++ Seq((t("2024-01-01 02:00:00"), "click", 4.0)))
          .toDF("ts", "event_type", "value"), body)
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
    assert(streamed.contains(("2024-01-01 00:00:00.0", 2L, 3.5)))
    assert(streamed.contains(("2024-01-01 02:00:00.0", 1L, 4.0)))

    // fixed_interval maps to the same tumbling-window machinery
    val input2 = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q2 = Aggs.runStream(input2.toDF().toDF("ts", "event_type", "value"),
        """{"aggs":{"per_half":{"date_histogram":
             {"field":"ts","fixed_interval":"30m"}}}}""",
        watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("agg_stream_fixed").start()
    try {
      input2.addData((t("2024-01-01 00:05:00"), "click", 1.0),
        (t("2024-01-01 00:40:00"), "view", 2.0))
      q2.processAllAvailable()
      input2.addData((t("2024-01-01 03:00:00"), "view", 3.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val fixed = spark.sql("SELECT key, doc_count FROM agg_stream_fixed")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
    assert(fixed.contains(("2024-01-01 00:00:00.0", 1L)) &&
      fixed.contains(("2024-01-01 00:30:00.0", 1L)), fixed.toString)
  }

  test("file-based readStream over fixture parquet matches the batch result") {
    import org.apache.spark.sql.functions._
    // stage the fixture as an arriving file (S1: readStream on a change feed)
    val stage = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      stage.resolve("events.parquet"))
    val batch = spark.read.parquet(stage.toString)
      .withColumn("ts", Tsx.ltz(col("ts")))
    val expected = batch.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val stream = spark.readStream.schema(spark.read.parquet(stage.toString).schema)
      .parquet(stage.toString)
      .withColumn("ts", Tsx.ltz(col("ts")))
    val q = stream.groupBy(col("event_type")).count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("fs_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT event_type, count FROM fs_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("streaming lifecycle: mutation stream upserts into a searchable store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_stream_store").toString
    Seq(("1", 1L, "alpha doc"), ("2", 1L, "beta doc"))
      .toDF("doc_id", "_v", "text").write.mode("overwrite").parquet(path)
    val input = MemoryStream[(String, Long, String)]
    val q = StreamingIndexer.upsertStream(
      input.toDF().toDF("doc_id", "_v", "text"), "doc_id", Seq("_v"),
      sink = (batch, _) => {
        // merge into the physical store; materialize before the overwrite
        // (a lazy plan would read the path it is rewriting)
        val existing = spark.read.parquet(path)
        val merged = Indexer.upsert(existing, batch, "doc_id", Seq("_v"))
          .collect().toIndexedSeq
        spark.createDataFrame(
            spark.sparkContext.parallelize(merged), existing.schema)
          .write.mode("overwrite").parquet(path)
      }).start()
    try {
      input.addData(("2", 2L, "beta updated spark"), ("3", 1L, "gamma spark doc"))
      q.processAllAvailable()
    } finally q.stop()
    val store = spark.read.parquet(path)
    assert(store.count() == 3)
    // the store is searchable and reflects the streamed mutations (S1→S3→S6)
    val hits = Search.search(store, "text:spark", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(hits.toSeq == Seq("2", "3"))
  }

  test("streaming session_window: native session aggregation under a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("user", "tsSec")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .groupBy(col("user"), session_window(col("ts"), "30 minutes").as("sw"))
      .count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("native_sess").start()
    try {
      input.addData(("u1", 1000.0), ("u1", 1600.0), ("u2", 500.0))
      q.processAllAvailable()
      input.addData(("u1", 9000.0)) // 2h later → second u1 session
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT user, count FROM native_sess")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // sessions merge ACROSS micro-batches: u1 = [2 events, 1 event]
    assert(out == Map("u1" -> Seq(1L, 2L), "u2" -> Seq(1L)))
  }

  test("streaming sessionization (mapGroupsWithState) matches the batch twin") {
    import graft.pipeline.Sessionize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.SessEvent]
    val q = Sessionize.assignStream(input.toDS(), gapSec = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    try {
      // u1: two events 10 min apart (one session), then 2h gap (new session);
      // u2: single event. State must survive across micro-batches.
      input.addData(Sessionize.SessEvent("u1", 1L, 1000.0),
                    Sessionize.SessEvent("u1", 2L, 1600.0),
                    Sessionize.SessEvent("u2", 10L, 500.0))
      q.processAllAvailable()
      input.addData(Sessionize.SessEvent("u1", 3L, 9000.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT user, eventId, sessionSeq FROM sess_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == Set(("u1", 1L, 1), ("u1", 2L, 1), ("u1", 3L, 2), ("u2", 10L, 1)))

    // batch twin over the same events
    val batch = Seq(("u1", 1L, 1000.0), ("u1", 2L, 1600.0), ("u2", 10L, 500.0),
        ("u1", 3L, 9000.0))
      .toDF("user", "eventId", "tsSec")
      .withColumn("ts", timestamp_seconds(col("tsSec")))
    val assigned = Sessionize.assign(batch, "user", "ts", gapSec = 1800,
        orderCols = Seq("eventId"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    assert(assigned == Set(("u1", 1L, 1L), ("u1", 2L, 1L), ("u1", 3L, 2L), ("u2", 10L, 1L)))
  }

  test("streaming sessionization expires idle users' state (EventTimeTimeout)") {
    import graft.pipeline.Sessionize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val input = MemoryStream[Sessionize.SessEventT]
    val q = Sessionize.assignStreamExpiring(
        input.toDS().withWatermark("ts", "0 seconds"), gapSec = 60)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_exp_out").start()
    try {
      input.addData(Sessionize.SessEventT("u1", 1L, t(100)))
      q.processAllAvailable() // watermark → 100; u1 timeout set to 160
      input.addData(Sessionize.SessEventT("u2", 20L, t(10000)))
      q.processAllAvailable() // watermark → 10000, far past u1's timeout
      input.addData(Sessionize.SessEventT("u2", 21L, t(20000)))
      q.processAllAvailable() // this batch fires u1's timeout → state removed
      input.addData(Sessionize.SessEventT("u1", 2L, t(30000)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT user, eventId, sessionSeq FROM sess_exp_out")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getInt(2))).toMap
    // u1's second event restarts at seq 1: fresh state, the old one was
    // dropped by the timeout (with retained state the >gap event would be
    // seq 2 — the discriminator that proves removal)
    assert(out == Map(("u1", 1L) -> 1, ("u2", 20L) -> 1,
      ("u2", 21L) -> 2, ("u1", 2L) -> 1))
  }

  test("streaming exact dedup: duplicate deliveries collapse across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    // stateful streaming dropDuplicates — the streaming twin of
    // Indexer.exactlyOnce: state remembers keys across micro-batches
    val q = input.toDF().toDF("doc_id", "v")
      .dropDuplicates("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      input.addData(("k1", "a"), ("k1", "a"), ("k2", "b"))
      q.processAllAvailable()
      input.addData(("k1", "a"), ("k3", "c")) // k1 replayed in a later batch
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT doc_id FROM dedup_out")
      .collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("k1", "k2", "k3"))
  }

  test("compiled search predicates filter a live stream (S1+R2 composition)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the search compiler emits plain Column trees, so a compiled query is
    // directly a streaming filter — live routing/alerting on mutations
    val compiled = QueryCompiler.compile("text:spark AND NOT lang:de")
    val input = MemoryStream[(String, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "lang")
      .where(compiled.predicate)
      .withColumn("_score", compiled.score)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_search_out").start()
    try {
      input.addData(("1", "spark batch", "en"), ("2", "spark joins", "de"),
        ("3", "sort merge", "en"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT doc_id, _score FROM stream_search_out")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out == Seq(("1", 1)))
  }

  test("exactly-once stream dedups within the watermark with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val q = StreamingIndexer.exactlyOnceStream(
        input.toDF().toDF("doc_id", "mut_id", "ts"),
        "doc_id", "mut_id", "ts", watermark = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("eo_out").start()
    try {
      // duplicate delivery inside one batch collapses
      input.addData(("k1", 1L, t(100)), ("k1", 1L, t(100)), ("k2", 1L, t(101)))
      q.processAllAvailable()
      // replay in a later batch, still within the watermark → suppressed
      input.addData(("k1", 1L, t(105)))
      q.processAllAvailable()
      // advance watermark far past k1's state, then replay again: state
      // was expired, so the replay passes through — the documented bound
      // (duplicates beyond the delivery-delay window are the upstream's
      // contract violation, accepted in exchange for bounded state)
      input.addData(("k9", 1L, t(10000)))
      q.processAllAvailable()
      input.addData(("k1", 1L, t(10001)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT doc_id, mut_id FROM eo_out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.count(_ == (("k1", 1L))) == 2) // once early, once post-expiry
    assert(out.count(_ == (("k2", 1L))) == 1)
  }

  test("windowed counts with watermark (batch-equivalent check)") {
    import spark.implicits._
    val events = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0))
      .toDF("ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = StreamingIndexer.windowedCounts(events, "ts", "event_type")
      .select(col("window.start").cast("string"), col("event_type"), col("n"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 2L),
      ("2024-01-01 01:00:00", "view", 1L)))
  }

  test("streaming near-dup flags against the sketch store; batches see earlier batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sketch_stream").toString
    val store = s"$dir/store"
    // corpus: two distinct docs, sketched once offline
    graft.pipeline.Dedup.writeSketchStore(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
          (2L, "one two three four five six")).toDF("doc_id", "text"),
      store, "text", "doc_id", shingleK = 3, numHashes = 32)

    val input = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDedup.nearDupStream(
      input.toDF().toDF("doc_id", "text"), store, "text", "doc_id",
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.5) {
      (pairs, _) =>
        flagged ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    }.start()
    try {
      // batch 1: doc 10 near-dups store doc 1; doc 11 is novel
      input.addData((10L, "alpha beta gamma delta epsilon eta"),
                    (11L, "seven eight nine ten eleven twelve"))
      q.processAllAvailable()
      assert(flagged.sorted.toSeq == Seq((1L, 10L)))
      // batch 2: doc 12 near-dups doc 11 — only visible if batch 1 was
      // appended to the store (the continuity contract)
      input.addData((12L, "seven eight nine ten eleven thirteen"))
      q.processAllAvailable()
      assert(flagged.sorted.toSeq == Seq((1L, 10L), (11L, 12L)))
    } finally q.stop()
    // store now holds corpus + both batches
    assert(spark.read.parquet(store).count() == 5)
  }

  test("streaming terms agg: running per-key totals accumulate across " +
       "micro-batches; query filter applies; unknown options are loud") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body = """{"query": {"term": {"lang": "en"}},
      "aggs": {"by_src": {"terms": {"field": "src"},
        "aggs": {"mx": {"max": {"field": "v"}}}}}}"""
    val input = MemoryStream[(String, String, Double)]
    val q = Aggs.runStream(input.toDF().toDF("src", "lang", "v"), body)
      .writeStream.outputMode("complete").format("memory")
      .queryName("terms_stream").start()
    try {
      input.addData(("web", "en", 1.0), ("web", "en", 5.0), ("book", "en", 2.0),
        ("web", "fr", 99.0)) // filtered by the query
      q.processAllAvailable()
      input.addData(("web", "en", 3.0)) // accumulates into the web bucket
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT key, doc_count, mx FROM terms_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(("web", 3L, 5.0), ("book", 1L, 2.0)), out.toString)
    assert(intercept[IllegalArgumentException](Aggs.runStream(
      spark.readStream.format("rate").load(),
      """{"aggs": {"t": {"terms": {"field": "value", "size": 5}}}}"""))
      .getMessage.contains("sink-side"))
  }

  test("r12: streamed n-gram gate — batches score against the corpus so " +
       "far, counts fold in additively, redelivery is skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-stream-ng").toString
    val seed = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"))
      .toDF("doc_id", "text")
    pipeline.TextStats.writeNgramCounts(seed, "text", 3, s"$base/ng")
    val scored = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Double])]
    val input = MemoryStream[(Long, String)]
    val q = StreamingIndexer.ngramGateStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, s"$base/ng",
      sink = (df, _) => scored ++= df.select("doc_id", "dup_ngram_frac")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))).start()
    val b1 = Seq((3L, "the quick brown dog"), (4L, "one two three four"),
      (5L, "one two three five"))
    val b2 = Seq((6L, "one two three six"), (7L, "hi"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val byId = scored.toMap
    // batch 1 vs the SEED corpus: doc 3 repeats seed boilerplate ('the
    // quick brown' ×2 there), docs 4/5 are fresh — their shared gram is
    // not yet in the store when they score
    assert(byId(3L) == Some(0.5) && byId(4L) == Some(0.0) &&
      byId(5L) == Some(0.0), byId.toString)
    // batch 2 vs seed+batch1: 'one two three' now counts 2 in the store —
    // the gate ADVANCED; a sub-n doc scores null but passes through
    assert(byId(6L) == Some(0.5) && byId(7L) == None, byId.toString)
    // the store after the stream equals a batch build over everything
    val all = seed.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    pipeline.TextStats.writeNgramCounts(all, "text", 3, s"$base/ng_ref")
    // r14: streamed appends land as delta segments — compare the SERVING
    // view (base + deltas summed), the store's contract surface
    def m(p: String) = pipeline.TextStats.readCountStore(spark, p, "g", "cg")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(m(s"$base/ng") == m(s"$base/ng_ref"))
    // at-least-once redelivery: an already-applied id is skipped whole
    val before = m(s"$base/ng")
    val applied = StreamingIndexer.applyNgramGateBatch(
      b1.toDF("doc_id", "text"), 0L, "doc_id", "text", 3, s"$base/ng",
      sink = (_, _) => fail("redelivered batch must not reach the sink"))
    assert(!applied && m(s"$base/ng") == before)
  }

  test("r13: a replay of a HALF-APPLIED insert batch CONVERGES — no " +
       "poison-pill raise, no duplicate rows, at every crash point") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-crashwin").toString
    val pp = s"$base/postings"; val np = s"$base/norms"; val sp = s"$base/sugg"
    def apply(docs: DataFrame, id: Long) =
      StreamingIndexer.applyInsertServedBatch(docs, id, "doc_id",
        Seq("text"), pp, np, 8, suggestPath = Some(sp),
        suggestField = Some("text"))
    // seeded store group (the insertStreamServed contract: LM stores are
    // seeded by writeSuggestStore before the stream starts)
    val seed = Seq((100L, "seed corpus words")).toDF("doc_id", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8), pp)
    TextIndex.buildNorms(seed, "doc_id", Seq("text")).write.parquet(np)
    Search.writeSuggestStore(seed, "text", sp)
    val b0 = Seq((1L, "spark makes batch fast")).toDF("doc_id", "text")
    assert(apply(b0, 0L))
    // crash point A: pending + norms landed; postings, suggest, marker did
    // not. The old strict probe would now collide with the batch's OWN
    // keys and throw forever — at-least-once redelivery wedged the stream.
    val b1 = Seq((2L, "fresh spark content"), (3L, "more batch data"))
      .toDF("doc_id", "text")
    StreamingIndexer.writePending(spark, pp, 1L)
    TextIndex.appendNorms(b1, "doc_id", Seq("text"), np)
    assert(apply(b1, 1L)) // converges, no raise
    // crash point B: everything but the marker landed (suggest stamped)
    val b2 = Seq((4L, "entirely new words")).toDF("doc_id", "text")
    StreamingIndexer.writePending(spark, pp, 2L)
    TextIndex.appendNorms(b2, "doc_id", Seq("text"), np)
    TextIndex.appendPostings(b2, "doc_id", Seq("text"), pp, 8)
    Search.appendSuggestStore(b2, "text", sp, Some(2L))
    assert(apply(b2, 2L)) // converges, skips every store
    // zero duplicates anywhere: the streamed stores hash-equal an
    // all-at-once batch build of the full corpus
    val all = seed.unionByName(b0).unionByName(b1).unionByName(b2)
    def bm25(p: DataFrame, n: DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch"), nBuckets = 8)
        .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e6))
        .toMap
    assert(spark.read.parquet(np).count() == 5L) // one norms row per doc
    assert(bm25(spark.read.option("basePath", pp).parquet(pp),
        spark.read.parquet(np)) ==
      bm25(TextIndex.buildPostings(all, "doc_id", Seq("text"), 8),
        TextIndex.buildNorms(all, "doc_id", Seq("text"))))
    Search.writeSuggestStore(all, "text", s"$base/sugg_ref")
    // r14: streamed LM appends land as delta segments — compare the
    // serving view (base + deltas summed)
    def uni(p: String) = pipeline.TextStats
      .readCountStore(spark, s"$p/unigrams", "w", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(uni(sp) == uni(s"$base/sugg_ref"))
    // replay tolerance is NOT edit tolerance: a pending id whose batch
    // carries DIFFERENT content for an existing key still raises
    StreamingIndexer.writePending(spark, pp, 3L)
    val edited = Seq((4L, "edited words entirely")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException](apply(edited, 3L))
    assert(ex.getMessage.contains("DIFFERENT content"), ex.getMessage)
  }

  test("r13: a NEW streaming query against an EXISTING store group raises " +
       "loudly and names the repair — never silently drops early batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val pp = s"$base/postings"; val np = s"$base/norms"
    def serve(input: MemoryStream[(Long, Long, String)]) =
      StreamingIndexer.insertStreamServed(
        input.toDF().toDF("doc_id", "ver", "text"),
        "doc_id", Seq("ver"), Seq("text"), pp, np, 8)
    // stream A builds the store; its marker records A's queryId
    val inA = MemoryStream[(Long, Long, String)]
    val qA = serve(inA).start()
    try {
      inA.addData((1L, 1L, "spark makes batch fast"), (2L, 1L, "more data"))
      qA.processAllAvailable()
    } finally qA.stop()
    // stream B: fresh checkpoint, batch ids restart at 0 — before r13 its
    // batch 0 read as already-applied and was silently dropped from the
    // index; now the lineage mismatch raises and names the repair
    val inB = MemoryStream[(Long, Long, String)]
    val qB = serve(inB).start()
    val exB = intercept[Exception] {
      SparkSpecBase.quietFailedTasks(SparkSpecBase.MicroBatchLogger) {
        try { inB.addData((3L, 1L, "lost words")); qB.processAllAvailable() }
        finally qB.stop()
      }
    }
    def rootMsg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(rootMsg).getOrElse("")
    assert(rootMsg(exB).contains("resetBatchMarker"), rootMsg(exB).take(500))
    // doc 3 was NOT silently half-indexed
    assert(spark.read.parquet(np).where(col("doc_id") === 3L).count() == 0)
    // the named repair makes an intentional takeover work
    StreamingIndexer.resetBatchMarker(spark, pp)
    val inC = MemoryStream[(Long, Long, String)]
    val qC = serve(inC).start()
    try {
      inC.addData((4L, 1L, "taken over cleanly"))
      qC.processAllAvailable()
    } finally qC.stop()
    assert(spark.read.parquet(np).where(col("doc_id") === 4L).count() == 1)
    // restarting the SAME query from its checkpoint keeps working — the
    // lineage is the queryId, stable across restarts (pinned implicitly by
    // qC's batches above landing after qA's marker was reset; a same-id
    // restart shares the checkpoint and therefore the recorded lineage)
  }

  test("r13: the n-gram gate's scored frame is materialized BEFORE the " +
       "store advances — a lazy sink still reads pre-batch scores") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-lazysink").toString
    val seed = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"))
      .toDF("doc_id", "text")
    pipeline.TextStats.writeNgramCounts(seed, "text", 3, s"$base/ng")
    // the deliberately-lazy sink: keeps the frame, evaluates AFTER the
    // batch body has already folded the batch into the store
    var kept: DataFrame = null
    val b1 = Seq((3L, "the quick brown dog")).toDF("doc_id", "text")
    assert(StreamingIndexer.applyNgramGateBatch(b1, 0L, "doc_id", "text", 3,
      s"$base/ng", sink = (df, _) => { kept = df }))
    val late = kept.select("doc_id", "dup_ngram_frac").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pre-batch truth: 'the quick brown' counts 2 in the SEED store (docs
    // 1, 2), so doc 3 scores 0.5; an unmaterialized plan would re-read the
    // store that now also holds doc 3's grams and self-flag 'quick brown
    // dog' — scoring 1.0
    assert(late == Map(3L -> 0.5), late.toString)
  }

  test("r13: n-gram gate crash window — counts merged but marker missing: " +
       "the redelivery skips whole instead of double-counting or " +
       "re-scoring against the advanced store") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ngcrash").toString
    val seed = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    pipeline.TextStats.writeNgramCounts(seed, "text", 3, s"$base/ng")
    def counts() = pipeline.TextStats.readCountStore(spark, s"$base/ng", "g", "cg")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // half-applied batch 0: pending + (stamped) count merge landed, the
    // sink ran with correct scores, the marker write crashed
    val b0 = Seq((2L, "the quick brown cat")).toDF("doc_id", "text")
    StreamingIndexer.writePending(spark, s"$base/ng", 0L)
    pipeline.TextStats.appendNgramCounts(b0, "text", 3, s"$base/ng", Some(0L))
    val after = counts()
    // redelivery: skipped whole — the sink must NOT see re-scored (now
    // self-flagging) rows, and the counts must not double
    val applied = StreamingIndexer.applyNgramGateBatch(b0, 0L, "doc_id",
      "text", 3, s"$base/ng",
      sink = (_, _) => fail("half-applied replay must not re-run the sink " +
        "against a store that already contains the batch"))
    assert(!applied && counts() == after)
    // and the NEXT batch proceeds normally
    assert(StreamingIndexer.applyNgramGateBatch(
      Seq((3L, "one two three four")).toDF("doc_id", "text"), 1L, "doc_id",
      "text", 3, s"$base/ng", sink = (_, _) => ()))
    assert(counts() != after)
  }
}
