package graft
// (segment naming goldens appended below mirror ElasticIndexTest.java:129-168)

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical maintenance plane: partitioned layout + directory drops. */
class MaintainSpec extends AnyFunSuite {
  import MaintainSpec._
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  test("segment TTL physically drops old partition directories (M5/M8)") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_drop").toString
    Seq(("2024-01", 1), ("2024-02", 2), ("2024-03", 3))
      .toDF("segment", "v")
      .write.mode("overwrite").partitionBy("segment").parquet(path)

    val dropped = Maintain.dropSegmentDirs(spark, path, "segment", _ >= "2024-02")
    assert(dropped == Seq("2024-01"))
    val left = spark.read.parquet(path).select("segment").distinct()
      .collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("2024-02", "2024-03"))
  }

  test("dropSegmentDirs unescapes URI-escaped timestamp segment names") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_ts").toString
    Seq(("2024-01-01 00:00:00", 1), ("2024-02-01 00:00:00", 2))
      .toDF("segment", "v") // ':' is URI-escaped to %3A in partition dirs
      .write.mode("overwrite").partitionBy("segment").parquet(path)
    val dropped = Maintain.dropSegmentDirs(spark, path, "segment",
      _ >= "2024-02-01 00:00:00")
    assert(dropped == Seq("2024-01-01 00:00:00"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("purgeEmptySegments drops only directories with no live docs (M3)") {
    val path = java.nio.file.Files.createTempDirectory("graft_purge").toString
    Seq(("2024-01", 1), ("2024-02", 2)).toDF("segment", "v")
      .write.mode("overwrite").partitionBy("segment").parquet(path)
    // simulate a segment whose docs all expired: empty partition dir
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(path, "segment=2099-01"))
    val docs = spark.read.parquet(path)
    val dropped = Maintain.purgeEmptySegments(spark, path, "segment", docs)
    assert(dropped == Seq("2099-01"))
    assert(spark.read.parquet(path).count() == 2)
  }

  test("dropSegmentDirs on a missing path is a no-op") {
    assert(Maintain.dropSegmentDirs(spark, "/tmp/graft_does_not_exist_xyz",
      "segment", _ => true).isEmpty)
  }

  test("writeSegmented clusters by segment: one file per partition dir") {
    val path = java.nio.file.Files.createTempDirectory("graft_wseg").toString
    val docs = (1 to 1000).map(i => (i, s"2024-0${i % 3 + 1}")).toDF("id", "segment")
      .repartition(8) // many input tasks — the anti-pattern precondition
    Indexer.writeSegmented(docs, path)
    val fs = new java.io.File(path).listFiles().filter(_.getName.startsWith("segment="))
    assert(fs.length == 3)
    // clustered write → a single parquet file per segment dir, not 8
    fs.foreach { dir =>
      val parts = dir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${dir.getName} has $parts files")
    }
    assert(spark.read.parquet(path).count() == 1000)
  }

  test("segment index names match the reference goldens") {
    // reference: ElasticIndexTest.java:129-168
    val alias = Maintain.aliasName("testKeyspace", "testTable")
    assert(alias == "testkeyspace_testtable")
    val at = java.time.Instant.parse("2016-11-18T10:30:00Z")
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Off, at) ==
      "testkeyspace_testtable_index@")
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Month, at) ==
      "testkeyspace_testtable_index@2016-11")
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Hour, at) ==
      "testkeyspace_testtable_index@2016-11-18-10")
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Day, at) ==
      "testkeyspace_testtable_index@2016-11-18")
    // CUSTOM requires a name, lowercased (reference WCC-862)
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Fixed(1000),
      at, Some("2016-11-18-10")) == "testkeyspace_testtable_index@2016-11-18-10")
    assert(Maintain.segmentIndexName(alias, SegmentGranularity.Fixed(1000),
      at, Some("MiXeD")) == "testkeyspace_testtable_index@mixed")
    intercept[IllegalArgumentException] {
      Maintain.segmentIndexName(alias, SegmentGranularity.Fixed(1000), at, None)
    }
  }

  test("compactSegments merges small files per segment, data preserved") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // a fragmented store: 6 files per segment (the incremental-upsert
    // aftermath writeSegmented's clustering normally prevents)
    val df = (1 to 600).map(i => (i.toLong, s"seg${i % 2}", s"v$i"))
      .toDF("id", "segment", "v")
    df.repartition(6).write.mode("overwrite").partitionBy("segment").parquet(path)
    val before = spark.read.parquet(path).orderBy("id").collect()
    val report = Maintain.compactSegments(spark, path, "segment")
    assert(report.map(r => (r._1, r._2, r._3)).sortBy(_._1) ==
      Seq(("seg0", 6, 1), ("seg1", 6, 1)))
    val after = spark.read.parquet(path).orderBy("id").collect()
    assert(after.sameElements(before)) // byte-identical rows, fewer files
    // second run is a no-op: already compact (1 file < minFilesToCompact)
    assert(Maintain.compactSegments(spark, path, "segment").isEmpty)
  }

  test("segmentStats: per-segment docs, string bytes, field presence — " +
       "one partial-aggregated pass") {
    import spark.implicits._
    val df = Seq(("a", "s1", "xx", java.lang.Double.valueOf(1.0)),
                 ("b", "s1", null, null),
                 ("c", "s2", "yyyy", java.lang.Double.valueOf(2.0)))
      .toDF("id", "segment", "t", "x")
    val out = Maintain.segmentStats(df, "segment").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // (docs, store_bytes = Σ len(id)+len(t), docs_id, docs_t, docs_x)
    assert(out == Map("s1" -> ((2L, 4L, 2L, 1L, 1L)),
                      "s2" -> ((1L, 5L, 1L, 1L, 1L))), out.toString)
    assert(Maintain.segmentStats(df, "segment").columns.toSeq ==
      Seq("segment", "docs", "store_bytes", "docs_id", "docs_t", "docs_x"))
    // exactly one exchange: partials combine map-side, never a per-segment job
    val plan = Maintain.segmentStats(df, "segment")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan.take(1500))
    assert(intercept[IllegalArgumentException](
      Maintain.segmentStats(df, "nope")).getMessage.contains("not in the frame"))
  }

  test("concurrency contract: targeted compact never touches other " +
       "segments' files, and store creation races absorb via overwrite") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ccw").toString
    val df = (1 to 400).map(i => (i.toLong, s"seg${i % 2}", s"v$i"))
      .toDF("id", "segment", "v")
    df.repartition(4).write.mode("overwrite").partitionBy("segment").parquet(path)
    // a "concurrent" writer lands an extra batch in seg1 before a compact
    // targeting seg0 only — the non-target segment, files and all, must
    // come through untouched (segment dirs are the isolation unit)
    Seq((1000L, "seg1", "late")).toDF("id", "segment", "v")
      .write.mode("append").partitionBy("segment").parquet(path)
    val seg1Before = new java.io.File(s"$path/segment=seg1").list().sorted.toSeq
    val report = Maintain.compactSegments(spark, path, "segment",
      target = _ == "seg0")
    assert(report.map(_._1) == Seq("seg0"))
    val seg1After = new java.io.File(s"$path/segment=seg1").list().sorted.toSeq
    assert(seg1After == seg1Before, "non-target segment files changed")
    val all = spark.read.parquet(path)
    assert(all.count() == 401 && all.where(col("v") === "late").count() == 1)
    // creation race: a second creator overwrites and wins wholesale — the
    // reference's resource_already_exists-is-success analog, and what
    // makes re-running a failed build idempotent
    Indexer.writeSegmented(df, path, "segment")
    assert(spark.read.parquet(path).count() == 400)
  }

  test("segmentIndexNameCol labels rows with their physical segment name") {
    val df = Seq(("2024-03-05 10:30:00", 1)).toDF("ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = df.select(Maintain.segmentIndexNameCol(
      "ks_t", SegmentGranularity.Month, col("ts"))).head.getString(0)
    assert(out == "ks_t_index@2024-03")
    // Fixed frames have user-supplied names — the column form must refuse,
    // not silently emit the OFF-mode constant for every row
    intercept[IllegalArgumentException] {
      Maintain.segmentIndexNameCol("ks_t", SegmentGranularity.Fixed(1000), col("ts"))
    }
  }

  test("analyzeChain: tokenizers and the token-filter library") {
    import Maintain.analyzeChain
    assert(analyzeChain("Thé Fox-Runs", "standard", Seq("lowercase")) ==
      Seq("thé", "fox", "runs"))
    assert(analyzeChain("a b-c", "whitespace", Seq.empty) == Seq("a", "b-c"))
    assert(analyzeChain("Keep AS IS", "keyword", Seq.empty) == Seq("Keep AS IS"))
    assert(analyzeChain("Thé café", "standard",
      Seq("lowercase", "asciifolding")) == Seq("the", "cafe"))
    assert(analyzeChain("the quick THE fox", "standard",
      Seq("lowercase", "stop", "unique")) == Seq("quick", "fox"))
    assert(analyzeChain("ponies glasses visits mass fox", "standard",
      Seq("lowercase", "stemmer")) ==
      Seq("poni", "glass", "visit", "mass", "fox"))
    intercept[IllegalArgumentException](analyzeChain("x", "ngram", Seq.empty))
    intercept[IllegalArgumentException](analyzeChain("x", "standard", Seq("soundex")))
  }

  test("snapshot/restore: the store round-trips through arbitrary damage") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap_spec").toString
    val store = s"$base/store"
    val snap = s"$base/snap"
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    df.write.mode("overwrite").parquet(store)
    val n = Maintain.snapshot(spark, store, snap)
    assert(n > 0)
    // damage: truncate the store entirely
    df.limit(0).write.mode("overwrite").parquet(store)
    assert(spark.read.parquet(store).count() == 0)
    Maintain.restore(spark, snap, store)
    assert(spark.read.parquet(store).orderBy("id").collect().map(_.getInt(0)).toSeq
      == Seq(1, 2, 3))
    // a missing snapshot source fails loud
    intercept[IllegalArgumentException] {
      Maintain.restore(spark, s"$base/nope", store)
    }
  }

  test("reindex: query + pipeline land in the destination store") {
    val d = Seq((1, "en", "web"), (2, "de", "book"), (3, "en", "wiki"))
      .toDF("doc_id", "lang", "source")
    val dest = java.nio.file.Files.createTempDirectory("graft_reidx_spec")
      .toString + "/dest"
    val out = Indexer.reindex(spark, d, dest,
      query = Some("""{"query": {"term": {"lang": "en"}}}"""),
      pipeline = Some("""{"processors": [{"uppercase": {"field": "source"}}]}"""))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getInt(0), r.getString(2))).toSeq ==
      Seq((1, "WEB"), (3, "WIKI")))
    // the write is real: a fresh read of the dest path sees the same rows
    assert(spark.read.parquet(dest).count() == 2)
  }

  test("zorderRewrite: exact Morton corners, row preservation, degenerate key") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 3.0, 3.0), (3L, 0.0, 3.0),
      (4L, 3.0, 0.0)).toDF("id", "x", "y")
    val z = Maintain.zorderRewrite(pts, "x", "y", partitions = 2)
      .select("id", "_zorder")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 16-bit cells: min corner → 0, max corner → all 32 bits set; the
    // mixed corners take exactly the odd (x) / even (y) bit planes
    assert(z(1L) == 0L)
    assert(z(2L) == 0xFFFFFFFFL)
    assert(z(4L) == 0xAAAAAAAAL) // x=max, y=min → odd bits
    assert(z(3L) == 0x55555555L) // x=min, y=max → even bits
    // no row lost or duplicated by the repartition+sort
    assert(Maintain.zorderRewrite(pts, "x", "y").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a constant column degenerates to cell 0 (no div-by-zero)
    val const = Seq((1L, 5.0, 1.0), (2L, 5.0, 2.0)).toDF("id", "x", "y")
    val zc = Maintain.zorderRewrite(const, "x", "y")
      .select("_zorder").collect().map(_.getLong(0)).toSet
    assert(zc.forall(v => (v & 0xAAAAAAAAL) == 0L)) // x bits all zero
  }

  test("r11: store catalog sweep — every materialized layout (README " +
       "catalog) writes and serves through its own reader") {
    val base = java.nio.file.Files.createTempDirectory("graft_catalog").toString
    val docs = Seq(
      (1L, "en", "spark runs the fast query engine", "2024-01-15 10:00:00"),
      (2L, "en", "spark query planner details", "2024-02-15 10:00:00"),
      (3L, "de", "schnelle abfragen mit spark", "2024-02-16 10:00:00"))
      .toDF("doc_id", "lang", "text", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    // 1. doc store: segment-partitioned write, read back whole
    val segDocs = docs.withColumn("segment", date_format(col("ts"), "yyyy-MM"))
    Indexer.writeSegmented(segDocs, s"$base/docs")
    assert(spark.read.parquet(s"$base/docs").count() == 3)
    // 2. postings: sidecar round-trip + index-served search
    TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", Seq("text"), 8), s"$base/postings")
    val (_, meta) = TextIndex.openPostings(spark, s"$base/postings")
    assert(meta.nBuckets == 8 && meta.fields == Seq("text"))
    assert(TextIndex.searchStore(docs, s"$base/postings", "text:spark",
      IndexConfig(), Seq("doc_id")).count() == 3)
    // 3. norms: written + served by bm25Indexed
    TextIndex.buildNorms(docs, "doc_id", Seq("text"))
      .write.parquet(s"$base/norms")
    val bm = TextIndex.bm25Indexed(
      spark.read.option("basePath", s"$base/postings").parquet(s"$base/postings"),
      spark.read.parquet(s"$base/norms"), "text", Seq("query"), nBuckets = 8)
    assert(bm.count() == 2)
    // 4. suggest LM: write + serve
    Search.writeSuggestStore(docs, "text", s"$base/suggest")
    assert(Search.phraseSuggestFromStore(spark, s"$base/suggest",
      "spark queery", size = 1).count() == 1)
    // 5. completion dictionary: context-partitioned, served with contexts
    Search.writeCompletionStore(docs, "text", s"$base/completion",
      contextCols = Seq("lang"))
    assert(Search.completionSuggestFromStore(spark, s"$base/completion",
      "qu", size = 5, contexts = Map("lang" -> Seq("en"))).count() >= 1)
    // 6. minhash sketches: write + pair from store
    graft.pipeline.Dedup.writeSketchStore(docs, s"$base/sketches", "text", "doc_id")
    assert(graft.pipeline.Dedup.minhashPairsFromStore(spark, s"$base/sketches",
      threshold = 0.0).count() >= 0) // serves (tiny corpus may pair nothing)
    // 7. IVF lists: partitioned assignment store, partition-pruned probe
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)),
      (4L, Array(0.1, 0.9))).toDF("vec_id", "embedding")
    val cents = graft.pipeline.Ivf.train(vecs, c = 2, iters = 2)
    graft.pipeline.Ivf.assign(vecs, cents)
      .write.partitionBy("list_id").parquet(s"$base/ivf")
    val lists = spark.read.option("basePath", s"$base/ivf").parquet(s"$base/ivf")
    assert(lists.select("list_id").distinct().count() == 2)
    val queries = Seq((100L, Array(1.0, 0.05))).toDF("query_id", "query_vec")
    val nn = graft.pipeline.Ivf.topK(lists, queries, cents, k = 2, nprobe = 1)
    assert(nn.count() == 2)
    // 8. whitespace bigram LM: write + serve per-doc NLL
    graft.pipeline.TextStats.writeBigramLm(docs, "text", s"$base/bigram_lm")
    assert(graft.pipeline.TextStats.bigramLogLossFromStore(
      docs, "text", "doc_id", s"$base/bigram_lm").count() == 3)
    // 9. n-gram counts: write + serve the boilerplate gate
    graft.pipeline.TextStats.writeNgramCounts(docs, "text", 2, s"$base/ngrams")
    assert(graft.pipeline.TextStats.dupNgramFractionFromStore(
      docs, "text", "doc_id", 2, s"$base/ngrams").count() == 3)
    // 10. tokenizer: write merges + frozen vocab, serve input_ids
    graft.pipeline.Bpe.writeTokenizer(docs, "text", 4, s"$base/tokenizer")
    val enc = graft.pipeline.Bpe.encodeToIdsFromStore(
      docs, "doc_id", "text", s"$base/tokenizer")
    assert(enc.count() == 3 &&
      enc.agg(min(col("n_tokens"))).head.getInt(0) > 0)
  }

  test("r13: annIndexStats — list balance, tombstone backlog, and version " +
       "resolution, without ever reading a vector column") {
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0, 0.0)
                 else Array(0.0, 1.0, 0.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01 * (((i * 7 + d * 3) % 5) - 2) })
    }.toDF("vec_id", "embedding")
    val flat = java.nio.file.Files.createTempDirectory("graft_ann_stats").toString
    graft.pipeline.Ivf.writeIndex(corpus, c = 2, flat, iters = 2)
    def stats(p: String) = Maintain.annIndexStats(spark, p).collect()(0)
    val s0 = stats(flat)
    // two well-separated clusters of 20: perfectly balanced lists
    assert((s0.getLong(0), s0.getLong(1), s0.getLong(2), s0.getLong(3),
      s0.getLong(4), s0.getLong(5), s0.getLong(6)) ==
      ((2L, 40L, 2L, 20L, 20L, 0L, -1L)))
    // tombstones count as backlog; physical rows are untouched until compact
    graft.pipeline.Ivf.deleteFromIndex(spark, flat, Seq(0L, 2L).toDF("vec_id"))
    val s1 = stats(flat)
    assert(s1.getLong(1) == 40L && s1.getLong(5) == 2L)
    Maintain.compactAnnIndex(spark, flat)
    val s2 = stats(flat)
    assert(s2.getLong(1) == 38L && s2.getLong(5) == 0L)
    // a versioned root resolves through _graft_current
    val vroot = java.nio.file.Files.createTempDirectory("graft_ann_stats_v").toString
    graft.pipeline.Ivf.writeVersionedIndex(corpus, c = 2, vroot, iters = 2)
    val sv = stats(vroot)
    assert(sv.getLong(1) == 40L && sv.getLong(6) == 1L)
  }

  test("r13: rebuildSuggestStore is the sanctioned freshness path for " +
       "edited corpora — whole-store swap, cadence-gated, stamped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sugg_rb").toString
    val before = Seq((1L, "spark stream spark stream"), (2L, "spark batch"))
      .toDF("doc_id", "text")
    // the corpus then takes an EDIT the additive LM store cannot absorb
    val after = Seq((1L, "flink stream flink stream"), (2L, "spark batch"))
      .toDF("doc_id", "text")
    Search.writeSuggestStore(before, "text", dir) // unstamped seed
    def served() = Search.phraseSuggestFromStore(spark, dir, "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getInt(2))).toSeq
    def direct(d: org.apache.spark.sql.DataFrame) =
      Search.phraseSuggest(d, "text", "spork streem", 3)
        .collect().map(r => (r.getString(0), r.getInt(2))).toSeq
    assert(served() == direct(before))
    // an unstamped store counts as infinitely old: the cadence knob does
    // not block the first sanctioned rebuild
    assert(Maintain.rebuildSuggestStore(after, "text", dir,
      nowEpochSec = 1000L, ifOlderThanSec = 3600L))
    assert(served() == direct(after), "suggestions must reflect the edit")
    // within cadence: the sweep is a no-op (still serving the rebuild)
    assert(!Maintain.rebuildSuggestStore(before, "text", dir,
      nowEpochSec = 1500L, ifOlderThanSec = 3600L))
    assert(served() == direct(after))
    // past cadence: the sweep acts
    assert(Maintain.rebuildSuggestStore(before, "text", dir,
      nowEpochSec = 5000L, ifOlderThanSec = 3600L))
    assert(served() == direct(before))
  }

  test("r13: rebuildCompletionStore — the completion dictionary's " +
       "sanctioned freshness path under edits, cadence-gated like the LM's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compl_rb").toString
    val before = Seq((1L, "en", "scala scaffold"), (2L, "en", "scatter plot"))
      .toDF("doc_id", "lang", "text")
    val after = Seq((1L, "en", "scala scala"), (2L, "en", "scatter plot"))
      .toDF("doc_id", "lang", "text")
    Search.writeCompletionStore(before, "text", dir, contextCols = Seq("lang"))
    def served() = Search.completionSuggestFromStore(spark, dir, "sca", 10,
        contexts = Map("lang" -> Seq("en")))
      .collect().map(r => r.getString(0)).toSet
    assert(served() == Set("scala", "scaffold", "scatter"))
    // unstamped seed counts as infinitely old; the rebuild swaps whole
    assert(Maintain.rebuildCompletionStore(after, "text", dir,
      nowEpochSec = 1000L, ifOlderThanSec = 3600L, contextCols = Seq("lang")))
    assert(served() == Set("scala", "scatter"), "the edit must drop scaffold")
    // within cadence: no-op
    assert(!Maintain.rebuildCompletionStore(before, "text", dir,
      nowEpochSec = 1500L, ifOlderThanSec = 3600L, contextCols = Seq("lang")))
    assert(served() == Set("scala", "scatter"))
  }

  // ---- crash states of the store-swap kernel (StoreFs) ----
  //
  // Each swap walks: staged → live renamed aside → staged renamed in →
  // aside deleted. A crash can stop it after any of the first three steps.
  // Every row below builds its store, puts it into each crash state with
  // plain file operations (the staged copy is junk that would break a read
  // if it were ever promoted), runs the operation again, and compares the
  // answer with a run that never crashed.

  private def crashRows: Seq[CrashRow] = {
    val segDocs = (1 to 300).map(i => (i.toLong, s"seg${i % 3}", s"v$i"))
      .toDF("id", "segment", "v")
    val textDocs = (1 to 40).map(i => (i, s"tok$i the quick brown fox tok${i % 7}"))
      .toDF("doc_id", "text")
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0) else Array(0.0, 1.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01 * (((i * 7 + d * 3) % 5) - 2) })
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def dataFiles(dir: java.io.File): Int =
      dir.listFiles.count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    Seq(
      CrashRow("compactSegments",
        b => segDocs.repartition(4).write.partitionBy("segment").parquet(s"$b/t"),
        b => Maintain.compactSegments(spark, s"$b/t", "segment"),
        b => (rows(spark.read.parquet(s"$b/t")),
          new java.io.File(s"$b/t").listFiles.filter(_.getName.startsWith("segment="))
            .map(d => d.getName -> dataFiles(d)).toMap),
        b => partition(s"$b/t", "segment=seg1")),
      CrashRow("compactPostings",
        { b =>
          val p = TextIndex.buildPostings(textDocs, "doc_id", Seq("text"), 4)
          TextIndex.writePostings(p.unionByName(p), s"$b/p")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$b/p/_graft_batch"), "7|q")
        },
        b => TextIndex.compactPostings(spark, s"$b/p"),
        { b =>
          val (df, meta) = TextIndex.openPostings(spark, s"$b/p")
          (rows(df.select("doc_id", "field", "token", "tf", "bucket")), meta,
            java.nio.file.Files.readString(java.nio.file.Paths.get(s"$b/p/_graft_batch")))
        },
        b => wholeDir(s"$b/p")),
      CrashRow("compactAnnIndex",
        { b =>
          graft.pipeline.Ivf.writeIndex(vecs, c = 2, s"$b/a", iters = 2)
          graft.pipeline.Ivf.deleteFromIndex(spark, s"$b/a", Seq(2L, 5L).toDF("vec_id"))
        },
        b => Maintain.compactAnnIndex(spark, s"$b/a"),
        b => (rows(spark.read.parquet(s"$b/a/cells").select("vec_id", "list_id")),
          new java.io.File(s"$b/a/deletes").exists),
        { b =>
          val l = spark.read.parquet(s"$b/a/cells").where(col("vec_id") === 2L)
            .select("list_id").head.getInt(0)
          partition(s"$b/a/cells", s"list_id=$l")
        }),
      CrashRow("subtractNgramCounts",
        b => graft.pipeline.TextStats.writeNgramCountsKeyed(textDocs, "text", "doc_id", 3, s"$b/ng"),
        b => graft.pipeline.TextStats.subtractNgramCounts(spark, s"$b/ng", Seq(3, 17).toDF("id")),
        b => (rows(graft.pipeline.TextStats.dupNgramFractionFromKeyedStore(
            textDocs.where(!col("doc_id").isin(3, 17)), "text", "doc_id", 3, s"$b/ng")),
          rows(spark.read.parquet(s"$b/ng/bydoc"))),
        { b =>
          val nb = java.nio.file.Files.readString(
            java.nio.file.Paths.get(s"$b/ng/bydoc/_graft_buckets")).trim.toLong
          val bk = Seq(3).toDF("doc_id").select(pmod(xxhash64(col("doc_id")), lit(nb)))
            .head.getLong(0)
          partition(s"$b/ng/bydoc", s"bucket=$bk")
        }),
      CrashRow("deleteFromSketchStore",
        b => graft.pipeline.Dedup.writeSketchStore(textDocs, s"$b/s", "text", "doc_id"),
        b => graft.pipeline.Dedup.deleteFromSketchStore(spark, s"$b/s", Seq(3, 17).toDF("id")),
        b => rows(spark.read.parquet(s"$b/s").select("id")),
        b => wholeDir(s"$b/s"))
    )
  }

  test("store-swap kernel: every caller's next run recovers a crash at " +
       "each swap step and answers as if it never crashed") {
    import org.apache.commons.io.FileUtils
    def fresh(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString
    def junkStaged(d: SwapDirs): Unit = {
      assert(d.staged.mkdirs() || d.staged.isDirectory)
      java.nio.file.Files.writeString(
        new java.io.File(d.staged, "part-00000-junk.parquet").toPath, "not parquet")
    }
    val failures = for {
      row <- crashRows
      expected = { val b = fresh("ref"); row.setup(b); row.op(b); row.answer(b) }
      step <- Seq("staged", "aside", "renamed")
      problem <- {
        val b = fresh(step)
        row.setup(b)
        val d = row.swap(b)
        assert(d.live.isDirectory, s"${row.name}: no live ${d.live}")
        try {
          step match {
            case "staged" => junkStaged(d)
            case "aside" => assert(d.live.renameTo(d.aside)); junkStaged(d)
            case "renamed" =>
              val old = new java.io.File(b, "pre_op_copy")
              FileUtils.copyDirectory(d.live, old)
              row.op(b)
              assert(old.renameTo(d.aside))
          }
          row.op(b)
          val got = row.answer(b)
          val left = Seq(d.staged, d.aside).filter(_.exists)
          (if (got != expected) Seq(s"${row.name}/$step: answer $got != $expected")
           else Nil) ++
            (if (left.nonEmpty) Seq(s"${row.name}/$step: left behind $left") else Nil)
        } catch {
          case e: Exception => Seq(s"${row.name}/$step: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    } yield problem
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

object MaintainSpec {
  /** Where one swap of a caller lives on disk. */
  final case class SwapDirs(live: java.io.File, staged: java.io.File,
                            aside: java.io.File)

  def wholeDir(path: String): SwapDirs = {
    val d = new java.io.File(path)
    SwapDirs(d, new java.io.File(d.getParent, d.getName + ".swap_tmp"),
      new java.io.File(d.getParent, d.getName + ".swap_old"))
  }

  def partition(root: String, name: String): SwapDirs =
    SwapDirs(new java.io.File(root, name),
      new java.io.File(root, s".swap_tmp/$name"),
      new java.io.File(root, s".swap_old_$name"))

  final case class CrashRow(name: String, setup: String => Unit,
                            op: String => Unit, answer: String => Any,
                            swap: String => SwapDirs)
}
