package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Inverted-index build, cover analysis, candidate pruning, and — the
  * load-bearing contract — bit-identical results vs the scan executor. */
class TextIndexSpec extends AnyFunSuite {
  lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark makes batch fast", "en", "src1"),
    (2L, "batch jobs filter rows", "en", "src2"),
    (3L, "filtering is nicht batch", "de", "src1"),
    (4L, "Spark-streaming handles state", "en", "src3"),
    (5L, "nothing relevant here", "de", "src2"),
    (6L, null, "en", "src1")
  ).toDF("doc_id", "text", "lang", "source")

  private val fields = Set("text", "lang", "source")

  test("buildPostings: tokens are maximal word runs, lowered, distinct") {
    val p = TextIndex.buildPostings(docs, "doc_id", Seq("text"), nBuckets = 8)
    val d4 = p.where($"doc_id" === 4L).select("token").as[String].collect().sorted
    // "Spark-streaming handles state" → the '-' splits a run, case folds
    assert(d4.toSeq == Seq("handles", "spark", "state", "streaming"))
    // null text → no postings, not a null token
    assert(p.where($"doc_id" === 6L).count() == 0)
    // distinct per (token, field, doc_id)
    val dup = p.groupBy("token", "field", "doc_id").count().where($"count" > 1)
    assert(dup.count() == 0)
    // bucket is stable and within range
    assert(p.agg(min("bucket"), max("bucket")).head() match {
      case r => r.getInt(0) >= 0 && r.getInt(1) < 8
    })
  }

  test("termsAggIndexed: token frequencies from postings alone, freq-desc token-asc") {
    val p = TextIndex.buildPostings(
      Seq((1L, "spark spark batch"), (2L, "spark jobs"), (3L, "batch"))
        .toDF("doc_id", "text"), "doc_id", Seq("text"), nBuckets = 4)
    val out = TextIndex.termsAggIndexed(p, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // spark: 3 occurrences in 2 docs; batch: 2 in 2; jobs cut by k
    assert(out.toSeq == Seq(("spark", 3L, 2L), ("batch", 2L, 2L)))
  }

  test("cover: AND picks a side, OR needs both, NOT/fuzzy/regex fall back") {
    assert(TextIndex.coverable("text:spark", fields))
    assert(TextIndex.coverable("text:spark OR text:batch", fields))
    assert(TextIndex.coverable("text:filt* AND lang:de", fields))
    // AND with one uncoverable side is still served by the other side
    assert(TextIndex.coverable("text:spark AND text:fuzz~1", fields))
    assert(TextIndex.coverable("text:(spark OR batch)^2 AND -lang:de", fields))
    // literal word-run probes: phrases, punctuated terms, mid-pattern
    // wildcards, proximity
    assert(TextIndex.coverable("text:\"batch fast\"", fields))
    assert(TextIndex.coverable("text:sp?rk", fields))  // prefix probe 'sp'
    assert(TextIndex.coverable("text:a\\-b", fields))  // eq probe on a run
    assert(TextIndex.coverable("text:\"batch fast\"~2", fields))
    // OR with an uncoverable branch cannot bound the result
    assert(!TextIndex.coverable("text:spark OR text:fuzz~1", fields))
    assert(!TextIndex.coverable("NOT text:spark", fields))
    assert(!TextIndex.coverable("text:/sp.rk/", fields))
    assert(!TextIndex.coverable("text:*ark", fields))  // no run before wildcard
    assert(!TextIndex.coverable("title:spark", fields)) // unindexed field
    assert(!TextIndex.coverable("text:(a OR", fields)) // malformed → false
  }

  test("cover: ES-DSL operators") {
    def c(q: String) = TextIndex.coverable(q, fields)
    assert(c("""{"query":{"term":{"text":"spark"}}}"""))
    assert(c("""{"query":{"match":{"text":"spark"}}}"""))
    // multi-word match analyzes to OR'd terms → per-term probe union
    assert(c("""{"query":{"match":{"text":"spark batch"}}}"""))
    assert(c("""{"query":{"match_phrase":{"text":{"query":"batch fast","slop":1}}}}"""))
    assert(c("""{"query":{"prefix":{"text":"filt"}}}"""))
    assert(c("""{"query":{"wildcard":{"text":"filt*"}}}"""))
    assert(c("""{"query":{"match_phrase_prefix":{"text":"quick bro"}}}"""))
    assert(c("""{"query":{"terms":{"lang":["en","de"]}}}"""))
    assert(c("""{"query":{"bool":{"must":[{"match":{"text":"spark"}},{"range":{"n_chars":{"gte":10}}}]}}}"""))
    assert(c("""{"query":{"bool":{"should":[{"match":{"text":"spark"}},{"match":{"text":"batch"}}]}}}"""))
    assert(c("""{"query":{"dis_max":{"queries":[{"match":{"text":"spark"}},{"term":{"lang":"de"}}]}}}"""))
    assert(c("""{"query":{"constant_score":{"filter":{"match":{"text":"spark"}},"boost":3}}}"""))
    assert(c("""{"query":{"query_string":{"query":"text:spark AND lang:en"}}}"""))
    assert(c("""{"query":{"multi_match":{"query":"spark","fields":["text","source^2"]}}}"""))
    assert(c("""{"query":{"multi_match":{"query":"spark batch","fields":["text"]}}}"""))
    // not coverable: unbounded or non-token leaves
    assert(!c("""{"query":{"match_all":{}}}"""))
    assert(!c("""{"query":{"range":{"n_chars":{"gte":10}}}}"""))
    assert(!c("""{"query":{"exists":{"field":"text"}}}"""))
    assert(!c("""{"query":{"regexp":{"text":"sp.rk"}}}"""))
    assert(!c("""{"query":{"fuzzy":{"text":"spark"}}}"""))
    assert(!c("""{"query":{"ids":{"values":["1"]}}}"""))
    assert(!c("""{"query":{"term":{"n_chars":42}}}"""))  // numeric term
    // bool: scoring-only should (must present, msm default 0) can't bound;
    // a covered must clause can
    assert(!c("""{"query":{"bool":{"must":[{"range":{"n_chars":{"gte":1}}}],"should":[{"match":{"text":"spark"}}]}}}"""))
    assert(c("""{"query":{"bool":{"must":[{"match":{"text":"spark"}}],"must_not":[{"match":{"text":"batch"}}]}}}"""))
    // should with explicit msm>=1 bounds even with uncovered must
    assert(c("""{"query":{"bool":{"must":[{"range":{"n_chars":{"gte":1}}}],"should":[{"match":{"text":"spark"}}],"minimum_should_match":1}}}"""))
  }

  private val parity = Seq(
    "text:spark OR text:batch",
    "text:filt* AND lang:de",
    "text:(spark OR batch)^2 AND -lang:de",
    "text:spark AND text:stream*",
    "source:src1 AND (text:batch OR text:state)",
    "#options:load-rows=false#text:batch",
    "#options:load-source=true#text:batch AND NOT lang:de",
    "#options:load-rows=false,load-source=true#text:batch AND NOT lang:de",
    // rank order differs from doc order: the boosted doc 4 ranks first
    "text:batch OR text:streaming^3",
    "#options:load-source=true#text:batch OR text:streaming^3",
    // literal-run covers: phrase, punctuated term, proximity, '?' wildcard
    "text:\"batch fast\"",
    "text:sp?rk",
    "text:\"filtering nicht\"~1",
    // ES-DSL shapes served from the index
    """{"query":{"bool":{"must":[{"match":{"text":"batch"}}],"must_not":[{"term":{"lang":"de"}}]}}}""",
    """{"query":{"dis_max":{"queries":[{"match":{"text":"spark"}},{"term":{"lang":"de"}}]}}}""",
    """{"query":{"terms":{"source":["src1","src3"]}}}""",
    """{"query":{"multi_match":{"query":"spark","fields":["text","source"]}}}""",
    // r6 operators: bool-prefix covered; the rest scan-fallback
    """{"query":{"match_bool_prefix":{"text":"spark batc"}}}""",
    """{"query":{"simple_query_string":{"query":"spark | batc* -nicht",
        "fields":["text"]}}}""",
    """{"query":{"function_score":{"query":{"match":{"text":"spark"}},
        "functions":[{"weight":3}],"boost_mode":"multiply"}}}""",
    // uncoverable → transparent scan fallback, still identical
    "NOT text:spark",
    "text:batc~1",
    """{"query":{"range":{"doc_id":{"gte":1,"lt":4}}}}"""
  )

  test("searchIndexed ≡ Search.search on every query shape (verified and pure-index)") {
    val postings = TextIndex.buildPostings(docs, "doc_id", fields.toSeq, 8)
    for (q <- parity; pure <- Seq(false, true)) {
      val scan = Search.search(docs, q, IndexConfig(), Seq("doc_id"))
      val indexed = TextIndex.searchIndexed(docs, postings, q, IndexConfig(),
        Seq("doc_id"), fields, 8, pureIndex = pure)
      assert(indexed.schema.map(f => (f.name, f.dataType)) ==
        scan.schema.map(f => (f.name, f.dataType)), s"schema for: $q (pure=$pure)")
      // ordered: every path returns its hits in rank order, the pure
      // path's loaded rows and `_source` included
      val a = scan.collect().map(_.toSeq).toSeq
      val b = indexed.collect().map(_.toSeq).toSeq
      assert(a == b, s"result mismatch for: $q (pure=$pure)")
    }
  }

  test("pure-index path: flags evaluate NOT/null-field and load-source correctly") {
    val postings = TextIndex.buildPostings(docs, "doc_id", fields.toSeq, 8)
    // doc 6 has null text: NOT text:spark must match it (null-safe negation)
    val q = "source:src1 AND NOT text:spark"
    val scan = Search.search(docs, q, IndexConfig(), Seq("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    val pure = TextIndex.searchIndexed(docs, postings, q, IndexConfig(),
        Seq("doc_id"), fields, 8, pureIndex = true)
      .select("doc_id").as[Long].collect().toSet
    assert(pure == scan && pure.contains(6L))
    // load-source parity through the pure path
    val qs = "#options:load-rows=false,load-source=true#text:batch"
    val a = Search.search(docs, qs, IndexConfig(), Seq("doc_id"))
      .collect().map(_.toSeq).toSeq
    val b = TextIndex.searchIndexed(docs, postings, qs, IndexConfig(),
      Seq("doc_id"), fields, 8, pureIndex = true).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("driver-side bucketOf matches the Spark write-path expression") {
    val toks = Seq("spark", "batch", "a", "zz_9", "longtokenvalue", "0")
    val sparkSide = toks.toDF("token")
      .select($"token", pmod(xxhash64($"token"), lit(64)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (t <- toks)
      assert(TextIndex.bucketOf(t, 64) == sparkSide(t), s"bucket drift for '$t'")
  }

  test("written store: equality probe prunes partitions and pushes the token filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postings").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", fields.toSeq, 16), dir)
    val store = spark.read.option("basePath", dir).parquet(dir)
    val cands = TextIndex.candidateIds(store,
      Set(TextIndex.EqProbe("text", "spark")), 16)
    val plan = cands.queryExecution.executedPlan.toString
    // directory-level pruning on the bucket partition column
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition filter in:\n$plan")
    // token equality pushed to parquet
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(token,spark)"),
      s"token filter not pushed in:\n$plan")
    assert(cands.as[Long].collect().toSet == Set(1L, 4L))
    // prefix probe: pushed StartsWith, correct supersets
    val pre = TextIndex.candidateIds(store,
      Set(TextIndex.PrefixProbe("text", "filt")), 16)
    assert(pre.queryExecution.executedPlan.toString.contains("StringStartsWith(token,filt)"))
    assert(pre.as[Long].collect().toSet == Set(2L, 3L))
  }

  test("postings carry exact term frequencies; norms count word-run tokens") {
    val d = Seq((1L, "spark spark-fast spark. batch"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val p = TextIndex.buildPostings(d, "doc_id", Seq("text"), 8)
    val tf = p.where($"doc_id" === 1L).select("token", "tf").as[(String, Int)]
      .collect().toMap
    // "spark spark-fast spark. batch" → runs: spark, spark, fast, spark, batch
    assert(tf == Map("spark" -> 3, "fast" -> 1, "batch" -> 1))
    val norms = TextIndex.buildNorms(d, "doc_id", Seq("text"))
    val dl = norms.select("doc_id", "dl").as[(Long, Int)].collect().toMap
    assert(dl == Map(1L -> 5, 2L -> 0, 3L -> 0)) // empty and null → 0, present
  }

  test("bm25Indexed == Search.bm25 on clean single-space text") {
    // whitespace tokens == word runs here, so the two analyzer views agree
    val d = Seq(
      (1L, "spark makes batch fast"),
      (2L, "batch jobs move data"),
      (3L, "spark spark spark"),
      (4L, "nothing to see")
    ).toDF("doc_id", "text")
    val scan = Search.bm25(d, "text", Seq("spark", "batch"))
      .where($"_bm25" > 0)
      .select($"doc_id", round($"_bm25", 6).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idx = TextIndex.bm25Indexed(
        TextIndex.buildPostings(d, "doc_id", Seq("text"), 8),
        TextIndex.buildNorms(d, "doc_id", Seq("text")), "text",
        Seq("spark", "batch"), nBuckets = 8)
      .select($"doc_id", round($"_bm25", 6).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(idx == scan)
    // ranking sanity: single-term query — tf-heavy doc 3 outranks doc 1
    val one = TextIndex.bm25Indexed(
        TextIndex.buildPostings(d, "doc_id", Seq("text"), 8),
        TextIndex.buildNorms(d, "doc_id", Seq("text")), "text",
        Seq("spark"), nBuckets = 8)
      .select($"doc_id", $"_bm25").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one(3L) > one(1L))
  }

  test("bm25Indexed rejects non-probe terms") {
    val d = Seq((1L, "x")).toDF("doc_id", "text")
    val p = TextIndex.buildPostings(d, "doc_id", Seq("text"), 8)
    val n = TextIndex.buildNorms(d, "doc_id", Seq("text"))
    intercept[IllegalArgumentException] {
      TextIndex.bm25Indexed(p, n, "text", Seq("sp*rk"), nBuckets = 8)
    }
  }

  test("segment-partitioned postings: index lifecycle follows the store's") {
    val segDocs = Seq(
      (1L, "spark in january", "2024-01"),
      (2L, "spark in february", "2024-02"),
      (3L, "other words here", "2024-02")
    ).toDF("doc_id", "text", "segment")
    val storeDir = java.nio.file.Files.createTempDirectory("graft-seg-docs").toString
    val postDir = java.nio.file.Files.createTempDirectory("graft-seg-postings").toString
    Indexer.writeSegmented(segDocs, storeDir)
    TextIndex.writePostings(
      TextIndex.buildPostings(segDocs, "doc_id", Seq("text"), 8, Some("segment")),
      postDir, Some("segment"))
    // same directory op expires data and index together (M5/M8)
    val droppedDocs = Maintain.dropSegmentDirs(spark, storeDir, "segment", _ >= "2024-02")
    val droppedIdx = Maintain.dropSegmentDirs(spark, postDir, "segment", _ >= "2024-02")
    assert(droppedDocs == Seq("2024-01") && droppedIdx == Seq("2024-01"))
    val docsNow = spark.read.option("basePath", storeDir).parquet(storeDir)
    val store = spark.read.option("basePath", postDir).parquet(postDir)
    // pure-index search: doc 1's postings left with its segment — no stale hit
    val hits = TextIndex.searchIndexed(docsNow, store,
      "#options:load-rows=false#text:spark", IndexConfig(), Seq("doc_id"),
      Set("text"), 8, pureIndex = true)
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(2L))
    // bucket pruning still applies across segment dirs
    val plan = TextIndex.candidateIds(store,
      Set(TextIndex.EqProbe("text", "spark")), 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
  }

  test("positional postings: positions recorded; phrase candidates require order") {
    val d = Seq(
      (1L, "alpha beta gamma"),        // in order, adjacent
      (2L, "beta then much later alpha"), // both tokens, wrong order
      (3L, "alpha filler filler beta"),   // in order, gapped
      (4L, "alpha only here"),            // missing beta
      (5L, "beta alpha beta")             // second beta restores order
    ).toDF("doc_id", "text")
    val p = TextIndex.buildPostingsPositional(d, "doc_id", Seq("text"), 8)
    // positions are word-run indices, sorted
    val pos = p.where($"doc_id" === 5L && $"token" === "beta")
      .select("positions").as[Seq[Int]].head()
    assert(pos == Seq(0, 2))
    val cands = TextIndex.phraseCandidates(p, "text", "alpha beta", 8)
      .as[Long].collect().toSet
    // 1 and 3: in order; 5: alpha@1 < beta@2; 2 excluded (order), 4 (missing)
    assert(cands == Set(1L, 3L, 5L))
    // the full query path stays bit-identical to the scan on the tighter set
    for (q <- Seq("text:\"alpha beta\"", "text:\"alpha beta\"~2",
                  "text:\"alpha beta\"~0 AND text:gamma")) {
      val scan = Search.search(d, q, IndexConfig(), Seq("doc_id"))
        .collect().map(_.toSeq).toSet
      val idx = TextIndex.searchIndexed(d, p, q, IndexConfig(),
        Seq("doc_id"), Set("text"), 8).collect().map(_.toSeq).toSet
      assert(idx == scan, s"positional parity for: $q")
    }
    // plain-store paths still work on the positional schema superset
    val hits = TextIndex.searchIndexed(d, p, "text:gamma", IndexConfig(),
      Seq("doc_id"), Set("text"), 8, pureIndex = true)
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("reindexSegment repairs overwrite staleness for one segment only") {
    val v1 = Seq(
      (1L, "spark alpha", "2024-01"),
      (2L, "stale words", "2024-02")
    ).toDF("doc_id", "text", "segment")
    val postDir = java.nio.file.Files.createTempDirectory("graft-reindex").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(v1, "doc_id", Seq("text"), 8, Some("segment")),
      postDir, Some("segment"))
    // doc 2 overwritten in place within its segment
    val now = Seq(
      (1L, "spark alpha", "2024-01"),
      (2L, "fresh content", "2024-02")
    ).toDF("doc_id", "text", "segment")
    TextIndex.reindexSegment(spark, now, "doc_id", Seq("text"), postDir, 8,
      "segment", "2024-02")
    val store = spark.read.option("basePath", postDir).parquet(postDir)
    // stale token gone; fresh token found; other segment untouched
    def pureHits(q: String) = TextIndex.searchIndexed(now, store,
        s"#options:load-rows=false#$q", IndexConfig(), Seq("doc_id"),
        Set("text"), 8, pureIndex = true)
      .select("doc_id").as[Long].collect().toSet
    assert(pureHits("text:stale").isEmpty)
    assert(pureHits("text:fresh") == Set(2L))
    assert(pureHits("text:spark") == Set(1L))
  }

  test("searchWithTotalIndexed: totals match the scan path, shards read the store") {
    val segDocs = docs.withColumn("segment",
      concat(lit("s"), (col("doc_id") % 2).cast("string")))
    val postings = TextIndex.buildPostings(segDocs, "doc_id", fields.toSeq, 8)
    val q = "text:batch OR text:spark"
    val scan = Search.searchWithTotal(segDocs, q, IndexConfig(), Seq("doc_id"),
      Some("segment")).collect().map(_.toSeq).toSet
    val idx = TextIndex.searchWithTotalIndexed(segDocs, postings, q,
        IndexConfig(), Seq("doc_id"), Some("segment"), fields, 8)
      .collect().map(_.toSeq).toSet
    assert(idx == scan)
  }

  test("self-describing store: openPostings/searchStore recover the write params") {
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val built = TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 32)
    // the build stamps its parameters on `bucket`: the sidecar is written
    // from the stamp, with no read-back of the store
    val stamp = built.schema("bucket").metadata
    assert(stamp.getLong(TextIndex.StampBuckets) == 32L &&
      stamp.getStringArray(TextIndex.StampFields).toSeq == Seq("lang", "text"))
    TextIndex.writePostings(built, dir)
    val (_, meta) = TextIndex.openPostings(spark, dir)
    assert(meta == TextIndex.IndexMeta(32, Seq("lang", "text"), false, None))
    // a frame without the stamp (read back from a store) gets its sidecar
    // from the written rows instead
    val copy = java.nio.file.Files.createTempDirectory("graft-meta-copy").toString
    TextIndex.writePostings(StoreFs.read(spark, Seq(dir), Some(dir)), copy)
    assert(TextIndex.openPostings(spark, copy)._2 == meta)
    // searchStore needs no caller-supplied parameters and matches the scan
    val q = "text:spark OR text:batch"
    val scan = Search.search(docs, q, IndexConfig(), Seq("doc_id"))
      .collect().map(_.toSeq).toSet
    assert(TextIndex.searchStore(docs, dir, q, IndexConfig(), Seq("doc_id"))
      .collect().map(_.toSeq).toSet == scan)
    assert(TextIndex.searchStore(docs, dir, q, IndexConfig(), Seq("doc_id"),
      pureIndex = true).collect().map(_.toSeq).toSet == scan)
    // sidecar-less store (hand-written): parameters reconstructed from data
    val fs = new org.apache.hadoop.fs.Path(dir, "_graft_index.json")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_index.json"), false)
    val (_, inferred) = TextIndex.openPostings(spark, dir)
    assert(inferred.nBuckets == 32 && inferred.fields == Seq("lang", "text"))
    // positional + segmented store round-trips its flags
    val dir2 = java.nio.file.Files.createTempDirectory("graft-meta2").toString
    val segDocs = docs.withColumn("seg", lit("s1"))
    TextIndex.writePostings(
      TextIndex.buildPostingsPositional(segDocs, "doc_id", Seq("text"), 8, Some("seg")),
      dir2, Some("seg"))
    val (_, m2) = TextIndex.openPostings(spark, dir2)
    assert(m2 == TextIndex.IndexMeta(8, Seq("text"), true, Some("seg")))
  }

  /** A corpus large enough that no postings file comes out sorted by
    * chance: 400 docs, 37 tokens, ids not in row order. */
  private def wideDocs = (0 until 400).map { i =>
    def w(k: Int) = s"w${(i * 7 + k * 13) % 37}"
    ((i * 919L) % 1000, Seq(w(0), w(1), w(2), w(3)).mkString(" "),
      if (i % 3 == 0) "de" else "en", s"s${i % 2}")
  }.toDF("doc_id", "text", "lang", "segment")

  /** Every file under `dir` is `(token, field, doc_id)`-sorted and its
    * `doc_id` chunks are `encoding`, with no dictionary. */
  private def assertPostingsLayout(dir: String, files: Seq[java.io.File],
                                   encoding: String,
                                   numericIds: Boolean = true): Unit = {
    assert(files.nonEmpty, s"no postings files under $dir")
    files.foreach { f =>
      val rows = SparkSpecBase.fileRows(f, "token", "field", "doc_id")
      assert(SparkSpecBase.ascending(rows, if (numericIds) Set(2) else Set.empty),
        s"${f.getPath} is not (token, field, doc_id)-sorted")
      val enc = SparkSpecBase.chunkEncodings(f, "doc_id")
      assert(enc.contains(encoding) && !enc.exists(_.contains("DICTIONARY")),
        s"${f.getPath}: doc_id encodings $enc")
    }
  }

  test("postings files are (token, field, doc_id)-sorted with a delta-coded, " +
       "dictionary-free doc_id: build, append, compaction, segments") {
    val d = wideDocs
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    TextIndex.writePostings(TextIndex.buildPostings(d.where($"doc_id" < 600L),
      "doc_id", Seq("text", "lang"), 4), dir)
    val built = SparkSpecBase.dataFiles(dir)
    assertPostingsLayout(dir, built, "DELTA_BINARY_PACKED")
    TextIndex.appendPostings(d.where($"doc_id" >= 600L), "doc_id",
      Seq("text", "lang"), dir, 4)
    assertPostingsLayout(dir,
      SparkSpecBase.dataFiles(dir).filterNot(built.toSet), "DELTA_BINARY_PACKED")
    TextIndex.compactPostings(spark, dir)
    assertPostingsLayout(dir, SparkSpecBase.dataFiles(dir), "DELTA_BINARY_PACKED")
    // a string partition column ahead of the bucket keeps the order too
    val seg = java.nio.file.Files.createTempDirectory("graft-sorted-seg").toString
    TextIndex.writePostings(TextIndex.buildPostings(d, "doc_id", Seq("text"), 4,
      Some("segment")), seg, Some("segment"))
    assertPostingsLayout(seg, SparkSpecBase.dataFiles(seg), "DELTA_BINARY_PACKED")
    // string ids are front-coded
    val str = java.nio.file.Files.createTempDirectory("graft-sorted-str").toString
    TextIndex.writePostings(TextIndex.buildPostings(
      d.withColumn("doc_id", format_string("d%04d", $"doc_id")), "doc_id",
      Seq("text"), 4), str)
    assertPostingsLayout(str, SparkSpecBase.dataFiles(str), "DELTA_BYTE_ARRAY",
      numericIds = false)
  }

  test("a store written in the earlier layout serves appends in the sorted " +
       "v2 layout exactly like a rebuild") {
    val d = wideDocs
    val mixed = java.nio.file.Files.createTempDirectory("graft-v1").toString
    // the earlier layout: v1 pages, a dictionary-coded doc_id, no sidecar
    TextIndex.buildPostings(d.where($"doc_id" < 600L), "doc_id",
        Seq("text", "lang"), 4)
      .write.mode("overwrite").partitionBy("bucket").parquet(mixed)
    val v1 = SparkSpecBase.dataFiles(mixed)
    assert(v1.nonEmpty && v1.forall(f =>
      SparkSpecBase.chunkEncodings(f, "doc_id").exists(_.contains("DICTIONARY"))))
    TextIndex.appendPostings(d.where($"doc_id" >= 600L), "doc_id",
      Seq("text", "lang"), mixed, 4)
    assertPostingsLayout(mixed,
      SparkSpecBase.dataFiles(mixed).filterNot(v1.toSet), "DELTA_BINARY_PACKED")
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-v2").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(d, "doc_id", Seq("text", "lang"), 4), rebuilt)
    assert(TextIndex.openPostings(spark, mixed)._2 ==
      TextIndex.openPostings(spark, rebuilt)._2)
    for {
      q <- Seq("text:w3", "text:w1 OR text:w20", "text:w1* AND lang:de",
        "#options:load-rows=false#text:w5 AND NOT lang:de")
      pure <- Seq(false, true)
    } {
      def hits(p: String) = TextIndex.searchStore(d, p, q, IndexConfig(),
        Seq("doc_id"), pure).collect().map(_.toSeq).toSeq
      val want = hits(rebuilt)
      assert(want.nonEmpty, q)
      assert(hits(mixed) == want, s"$q (pure = $pure)")
    }
  }

  test("empty corpus: store writes cleanly, searches fall back to scan") {
    val empty = docs.where($"doc_id" < 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(empty, "doc_id", Seq("text"), 8), dir)
    val (_, meta) = TextIndex.openPostings(spark, dir)
    assert(meta.fields.isEmpty)
    // empty field set → no cover → transparent scan fallback, right answer
    val hits = TextIndex.searchStore(docs, dir, "text:spark", IndexConfig(),
      Seq("doc_id"))
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("compaction preserves the sidecar and a segmented layout") {
    val segDocs = Seq((1L, "spark here", "s1"), (2L, "batch there", "s2"))
      .toDF("doc_id", "text", "segment")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-meta").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(segDocs, "doc_id", Seq("text"), 8, Some("segment")),
      dir, Some("segment"))
    TextIndex.appendPostings(
      Seq((3L, "spark again", "s2")).toDF("doc_id", "text", "segment"),
      "doc_id", Seq("text"), dir, 8, Some("segment"))
    TextIndex.compactPostings(spark, dir)
    val (_, meta) = TextIndex.openPostings(spark, dir)
    assert(meta == TextIndex.IndexMeta(8, Seq("text"), false, Some("segment")))
    // segment dirs survived the rewrite — lifecycle ops still apply
    val dropped = Maintain.dropSegmentDirs(spark, dir, "segment", _ != "s1")
    assert(dropped == Seq("s1"))
    val store = spark.read.option("basePath", dir).parquet(dir)
    val hits = TextIndex.searchIndexed(
      segDocs.unionByName(Seq((3L, "spark again", "s2")).toDF("doc_id", "text", "segment"))
        .where($"segment" =!= "s1"),
      store, "#options:load-rows=false#text:spark", IndexConfig(),
      Seq("doc_id"), Set("text"), 8, pureIndex = true)
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("append-only maintenance: new batch searchable; stale postings harmless") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postings-inc").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", fields.toSeq, 8), dir)
    // doc 2 rewritten (loses 'filter', gains 'spark'), doc 7 new
    val updated = Seq(
      (2L, "batch jobs moved to spark", "en", "src2"),
      (7L, "fresh filter document", "en", "src9")
    ).toDF("doc_id", "text", "lang", "source")
    TextIndex.appendPostings(updated, "doc_id", fields.toSeq, dir, 8)
    val store = spark.read.option("basePath", dir).parquet(dir)
    val current = docs.where($"doc_id" =!= 2L)
      .unionByName(updated)
    // new docs found via appended postings
    val hits = TextIndex.searchIndexed(current, store, "text:filter",
      IndexConfig(), Seq("doc_id"), fields, 8)
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(7L))
    // doc 2's stale 'filter' posting is a false candidate the verifier
    // dropped; its new 'spark' posting serves queries
    val sp = TextIndex.searchIndexed(current, store, "text:spark",
      IndexConfig(), Seq("doc_id"), fields, 8)
    assert(sp.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the streaming batch marker must SURVIVE compaction (r13): losing it
    // silently discarded both the redelivery skip and the lineage guard
    val markerPath = new org.apache.hadoop.fs.Path(dir, "_graft_batch")
    val mfs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mout = mfs.create(markerPath, true)
    try mout.write("7|some-query-id".getBytes("UTF-8")) finally mout.close()
    // compaction dedups without changing answers
    val (before, after) = TextIndex.compactPostings(spark, dir)
    assert(after <= before)
    val min = mfs.open(markerPath)
    val marker = try scala.io.Source.fromInputStream(min, "UTF-8").mkString
                 finally min.close()
    assert(marker == "7|some-query-id",
      s"compaction must preserve the _graft_batch marker, got '$marker'")
    val store2 = spark.read.option("basePath", dir).parquet(dir)
    val sp2 = TextIndex.searchIndexed(current, store2, "text:spark",
      IndexConfig(), Seq("doc_id"), fields, 8)
    assert(sp2.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("r11: termVectorsFromStore equals the direct corpus form, and " +
       "rejects non-positional stores and unindexed fields") {
    val d = Seq((1L, "spark spark-fast spark. batch"), (2L, "batch jobs"),
      (3L, "spark alone"), (4L, ""), (5L, null))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tv_store").toString
    TextIndex.writePostings(
      TextIndex.buildPostingsPositional(d, "doc_id", Seq("text"), 8), dir)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("_tv_id", "term").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val stored = norm(TextIndex.termVectorsFromStore(spark, dir, "text",
      Seq("1", "3")))
    val direct = norm(Search.termVectors(d, "doc_id", "text", Seq("1", "3")))
    assert(stored == direct, s"stored=$stored direct=$direct")
    // non-positional store refuses loudly (first_position would be a lie)
    val flat = java.nio.file.Files.createTempDirectory("graft_tv_flat").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(d, "doc_id", Seq("text"), 8), flat)
    assert(intercept[IllegalArgumentException](
      TextIndex.termVectorsFromStore(spark, flat, "text", Seq("1")))
      .getMessage.contains("positions"))
    assert(intercept[IllegalArgumentException](
      TextIndex.termVectorsFromStore(spark, dir, "lang", Seq("1")))
      .getMessage.contains("not indexed"))
  }

  test("r11: appendNorms on insert-only batches equals a full rebuild; " +
       "BM25 served from appended postings+norms matches the all-at-once " +
       "stores") {
    val a = Seq((1L, "spark makes batch fast"), (2L, "batch jobs move data"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "spark spark spark"), (4L, "nothing to see"))
      .toDF("doc_id", "text")
    val all = a.unionByName(b)
    val dir = java.nio.file.Files.createTempDirectory("graft_norms_app").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(a, "doc_id", Seq("text"), 8), s"$dir/postings")
    TextIndex.appendPostings(b, "doc_id", Seq("text"), s"$dir/postings", 8)
    TextIndex.buildNorms(a, "doc_id", Seq("text"))
      .write.mode("overwrite").parquet(s"$dir/norms")
    TextIndex.appendNorms(b, "doc_id", Seq("text"), s"$dir/norms")
    // the norms table is row-identical to the rebuild (per-doc facts)
    val appended = spark.read.parquet(s"$dir/norms")
      .select("doc_id", "field", "dl").as[(Long, String, Int)].collect().toSet
    val rebuilt = TextIndex.buildNorms(all, "doc_id", Seq("text"))
      .select("doc_id", "field", "dl").as[(Long, String, Int)].collect().toSet
    assert(appended == rebuilt)
    // BM25 from the appended stores == BM25 from all-at-once builds
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch"), nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fromStores = scores(
      spark.read.option("basePath", s"$dir/postings").parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/norms"))
    val direct = scores(
      TextIndex.buildPostings(all, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(all, "doc_id", Seq("text")))
    assert(fromStores == direct, s"stores=$fromStores direct=$direct")
  }

  test("r12: appendNorms ENFORCES the insert-only contract — an edited " +
       "key raises instead of silently skewing BM25") {
    val dir = java.nio.file.Files.createTempDirectory("graft_norms_probe").toString
    val seed = Seq((1L, "alpha beta gamma"), (2L, "delta words here"))
      .toDF("doc_id", "text")
    TextIndex.buildNorms(seed, "doc_id", Seq("text"))
      .write.parquet(s"$dir/norms")
    // genuinely new key: append goes through
    TextIndex.appendNorms(Seq((3L, "fresh doc")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), s"$dir/norms")
    assert(spark.read.parquet(s"$dir/norms").count() == 3)
    // edited key: loud failure, nothing written
    val err = intercept[IllegalArgumentException](
      TextIndex.appendNorms(Seq((2L, "edited text")).toDF("doc_id", "text"),
        "doc_id", Seq("text"), s"$dir/norms"))
    assert(err.getMessage.contains("insert-only"), err.getMessage)
    assert(spark.read.parquet(s"$dir/norms").count() == 3)
  }

  test("r12: upsertNorms merges by key; with gen stamps bm25Indexed drops " +
       "an edited doc's stale postings generation — equals a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_norms").toString
    val v0 = Seq((1L, "spark makes batch fast"), (2L, "batch jobs move data"))
      .toDF("doc_id", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(v0, "doc_id", Seq("text"), 8)
        .withColumn("gen", lit(0L)), s"$dir/postings")
    TextIndex.buildNorms(v0, "doc_id", Seq("text")).withColumn("gen", lit(0L))
      .write.parquet(s"$dir/norms")
    // upsert batch: doc 2 EDITED, doc 3 new — postings append at gen 1,
    // norms merge by key at gen 1
    val batch = Seq((2L, "spark pipelines stream data"), (3L, "spark spark"))
      .toDF("doc_id", "text")
    TextIndex.appendPostings(batch, "doc_id", Seq("text"), s"$dir/postings",
      8, gen = Some(1L))
    TextIndex.upsertNorms(batch, "doc_id", Seq("text"), s"$dir/norms",
      gen = Some(1L))
    // norms: one row per key; edited key carries the new dl and gen
    val norms = spark.read.parquet(s"$dir/norms")
    assert(norms.count() == 3)
    assert(norms.where($"doc_id" === 2L).select("dl", "gen")
      .as[(Int, Long)].head() == ((4, 1L)))
    val current = Seq((1L, "spark makes batch fast"),
      (2L, "spark pipelines stream data"), (3L, "spark spark"))
      .toDF("doc_id", "text")
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "batch", "jobs"),
          nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val served = scores(
      spark.read.option("basePath", s"$dir/postings").parquet(s"$dir/postings"),
      norms)
    val rebuilt = scores(
      TextIndex.buildPostings(current, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(current, "doc_id", Seq("text")))
    assert(served == rebuilt, s"served=$served rebuilt=$rebuilt")
    // doc 2's stale 'jobs' row is physically present but never scores
    assert(spark.read.option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings")
      .where($"token" === "jobs" && $"doc_id" === 2L).count() == 1)
    assert(!served.keySet.exists(id =>
      !rebuilt.contains(id)), "a dead-generation doc leaked into scores")
  }

  test("r13: deleteDocs drops a doc from served BM25 immediately (norms is " +
       "the live-docs authority); purgeDeadPostings reclaims its postings " +
       "physically, preserving layout and sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del_docs").toString
    val docs = Seq((1L, "spark makes batch fast"),
      (2L, "query engines move data"), (3L, "spark query spark"),
      (4L, "nothing relevant here")).toDF("doc_id", "text")
    TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", Seq("text"), 8), s"$dir/postings")
    TextIndex.buildNorms(docs, "doc_id", Seq("text")).write.parquet(s"$dir/norms")
    def scores(p: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25Indexed(p, n, "text", Seq("spark", "query"), nBuckets = 8)
        .select($"doc_id", round($"_bm25", 6).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def served() = scores(
      spark.read.option("basePath", s"$dir/postings").parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/norms"))
    // delete doc 3 (a scorer): N, avgdl, df, and the result set must all
    // reflect the deletion at once — equals a rebuild without the doc
    TextIndex.deleteDocs(spark, s"$dir/norms", Seq(3L).toDF("doc_id"))
    val survivors = docs.where($"doc_id" =!= 3L)
    val rebuilt = scores(
      TextIndex.buildPostings(survivors, "doc_id", Seq("text"), 8),
      TextIndex.buildNorms(survivors, "doc_id", Seq("text")))
    assert(served() == rebuilt, s"served=${served()} rebuilt=$rebuilt")
    // the postings rows are dead weight until the purge — then gone, with
    // the store's bucket layout and self-describing sidecar intact
    val deadBefore = spark.read.option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings").where($"doc_id" === 3L).count()
    assert(deadBefore > 0)
    TextIndex.purgeDeadPostings(spark, s"$dir/postings", s"$dir/norms")
    val store = spark.read.option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings")
    assert(store.where($"doc_id" === 3L).count() == 0)
    assert(store.columns.contains("bucket"))
    assert(TextIndex.openPostings(spark, s"$dir/postings")._2.nBuckets == 8)
    assert(served() == rebuilt) // serving unchanged by the physical reclaim
  }

  test("the word_runs analyzer builds the same postings, positional postings " +
       "and norms as split(lower(x), '[^a-z0-9_]+') over mixed-script text") {
    val corpus = Seq(
      (1L, "  --Spark_2 streams, FAST!  ", "en"),
      (2L, "café CAFÉ Über straße ß", "de"),
      (3L, "数据 中文spark 数据_x 中文", "zh"),
      (4L, "e\u0301clair spark\u0301 \u0301x", "fr"),
      (5L, "İstanbul ISTANBUL ıi I i İ", "tr"),
      (6L, "", ""),
      (7L, null, null),
      (8L, "__ 42 a_b 1x x1 _x_ 007 a__b", "en"),
      (9L, "...,;", "en"),
      (10L, "spark spark SPARK-spark", "\u212Aelvin")).toDF("doc_id", "text", "lang")
    // the reference analyzer and the builds spelled with it, as the index
    // was built before the native kernel
    def ref(c: org.apache.spark.sql.Column) =
      filter(split(lower(c.cast("string")), "[^a-z0-9_]+"), t => length(t) > 0)
    def fanOut(fs: Seq[String], toks: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      corpus.select(col("doc_id"), explode(array(fs.map(f =>
          struct(lit(f).as("field"), toks(col(f)).as("toks"))): _*)).as("_ft"))
        .select(col("_ft.field").as("field"), col("doc_id"), col("_ft.toks"))
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", pmod(xxhash64(col("token")), lit(8)).cast("int"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (fs <- Seq(Seq("text"), Seq("text", "lang"))) {
      val plain = bucketed(fanOut(fs, ref)
        .select(col("field"), col("doc_id"), explode(col("toks")).as("token"))
        .groupBy("token", "field", "doc_id").agg(count(lit(1)).cast("int").as("tf")))
      val positional = bucketed(fanOut(fs, ref)
        .select(col("field"), col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
        .groupBy("token", "field", "doc_id").agg(count(lit(1)).cast("int").as("tf"),
          sort_array(collect_list(col("pos"))).as("positions")))
      val norms = fs.map(f => corpus.select(col("doc_id"), lit(f).as("field"),
        size(ref(coalesce(col(f).cast("string"), lit("")))).as("dl"))).reduce(_.union(_))
      val want = rows(plain)
      assert(want.size > 20, s"$fs: too few postings to mean anything")
      assert(rows(TextIndex.buildPostings(corpus, "doc_id", fs, 8)) == want, fs)
      assert(rows(TextIndex.buildPostingsPositional(corpus, "doc_id", fs, 8)) ==
        rows(positional), fs)
      assert(rows(TextIndex.buildNorms(corpus, "doc_id", fs)) == rows(norms), fs)
    }
  }

  test("the driver-side analyzer ignores the JVM default locale: under a " +
       "Turkish locale Maintain.analyze equals the tokens buildPostings writes") {
    def postingsOf(text: String) = TextIndex.buildPostings(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", Seq("text"), 8)
      .select("token").as[String].collect().sorted.toSeq
    // an ASCII value: its index tokens do not depend on the locale at all
    val ascii = "TITLE of the INDEX, Izmir_1"
    val dir = java.nio.file.Files.createTempDirectory("graft_tr_locale").toString
    TextIndex.writePostings(TextIndex.buildPostings(
      Seq((1L, ascii)).toDF("doc_id", "text"), "doc_id", Seq("text"), 8), dir)
    val stored = TextIndex.openPostings(spark, dir)._1.select("token").as[String]
      .collect().sorted.toSeq
    assert(stored == Seq("index", "izmir_1", "of", "the", "title"))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      assert("TITLE".toLowerCase.split("[^a-z0-9_]+").toSeq == Seq("t", "tle"),
        "the locale did not take: the check would prove nothing")
      assert(Maintain.analyze(ascii).sorted == stored)
      // a non-ASCII value goes through Spark's lower() on both sides
      val mixed = "TITLE İstanbul ISTANBUL ıi"
      assert(Maintain.analyze(mixed).distinct.sorted == postingsOf(mixed))
      // synonym expansion analyzes match values the same way
      val expanded = QueryCompiler.expandSynonyms(
        """{"match": {"text": "TITLE"}}""", Map("title" -> Seq("heading")))
      assert(expanded.contains("heading"), expanded)
    } finally java.util.Locale.setDefault(saved)
  }
}
