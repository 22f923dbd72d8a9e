package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the shapes the 100 TB design depends on
  * must survive refactors — broadcast row-load, top-k without global sort,
  * filter/column pushdown into the parquet scan. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** `body`'s result and the Spark jobs it launched. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(tap)
    try {
      val out = body
      org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(tap)
  }

  test("search row-load joins broadcast the capped hit side (R9)") {
    val plan = planOf("q_search_rowload")
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (R5)") {
    val plan = planOf("q_search_rowload")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("delete anti-join broadcasts the delete set (S5)") {
    val plan = planOf("q_delete_antijoin")
    assert(plan.contains("BroadcastHashJoin LeftAnti") ||
      plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(500))
  }

  test("_source filtering prunes the parquet scan's ReadSchema") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.Search.search(docs,
      """{"query":{"match":{"text":"spark"}},"_source":["lang"]}""",
      graft.IndexConfig())
      .queryExecution.executedPlan.toString
    // text is read (the predicate needs it) but source/n_chars are NOT —
    // the response shaping became scan I/O reduction
    assert(!plan.contains("n_chars"), plan.take(1500))
    assert(!plan.contains("source:"), plan.take(1500))
  }

  test("predicate and column pruning reach the parquet scan") {
    val plan = planOf("q_delete_antijoin")
    // deletes side: status filter pushed into the scan
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)")
      || plan.contains("EqualTo(o_orderstatus,F)"), plan.take(2000))
    // docs side: only the key+linenumber columns are read
    assert(plan.contains("struct<l_orderkey:bigint,l_linenumber:int>"))
  }

  test("brute-force ANN broadcasts the probe set, never shuffles the corpus") {
    val plan = planOf("q_similarity_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("search stats are aggregate+broadcast, never a single-partition window") {
    // the r1 WindowExec trap: an unpartitioned window serializes the match
    // set into one partition; searchWithTotal must stay agg + broadcast
    val plan = planOf("q_search_meta")
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("sessionization windows are partitioned by user (bounded memory)") {
    val plan = planOf("q_sessionize")
    assert(plan.contains("Window"), plan.take(500))
    // partition spec present: hashpartitioning on user_id feeds the window
    assert(plan.contains("hashpartitioning(user_id"), plan.take(2000))
  }

  test("salted join spreads the hot key across (key, salt) partitions") {
    // _salt must appear in the join keys — a plain join (regressed salting)
    // would still broadcast-hash-join and pass a weaker assertion
    val plan = planOf("q_skew_join")
    assert(plan.contains("_salt"), plan.take(2000))
  }

  test("upsert merge never full-outer-shuffles the store") {
    // the store side rides a LEFT join (batch is the build side) plus a
    // key-only anti-join — a full-outer would exchange every store column
    val plan = planOf("q_upsert_merge")
    assert(!plan.contains("FullOuter"), plan.take(2000))
    assert(plan.contains("LeftOuter") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
  }

  test("vocabulary top-k is TakeOrderedAndProject, never a global sort") {
    val plan = planOf("q_text_vocab")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("chunking is a narrow explode — no shuffle") {
    val df = graft.pipeline.TextStats.chunk(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", 64, 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("doc projection is shuffle-free (S2 narrow pipeline)") {
    val docs = Indexer.buildDocs(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      Seq("l_orderkey"), Seq("l_linenumber"), IndexConfig(),
      java.sql.Timestamp.valueOf("2024-07-01 00:00:00"))
    val plan = docs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("pipeline upsert's insert path broadcast-anti-joins the small batch (S4)") {
    // at scale `existing` is the full store and the batch is one ingest
    // slice: the anti-join must build on the batch side, never sort-merge
    val plan = planOf("q_ingest_pipeline")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("ingest-pipeline transforms stay narrow — no extra exchange (S4)") {
    // the processor chain is Column-only; the only exchanges allowed are
    // the LWW window shuffle and the union's round-robin-free unions
    val t = IngestPipeline.compile(
      """{"processors":[{"lowercase":{"field":"l_returnflag"}},
                        {"set":{"field":"flag","value":"y"}},
                        {"gsub":{"field":"l_linestatus","pattern":"O","replacement":"0"}}]}""")
    val out = t(spark.read.parquet(s"$dir/lineitem.parquet"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("multi_match / regexp compile to one filtered scan, top-k capped (R3)") {
    val plan = planOf("q_search_dsl_multi")
    // a pure filter+score query: exactly one scan, the multi-field
    // predicate evaluated AT the scan (DataFilters), top-k via
    // TakeOrderedAndProject, and no join anywhere
    assert(plan.split("FileScan").length == 2, plan.take(800))
    assert(plan.contains("DataFilters: [(word_match(text"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("indexed search: semi join on candidates, bucket-pruned pushed postings scan (R+)") {
    val plan = planOf("q_search_indexed")
    // candidates restrict the doc scan via a semi join
    assert(plan.contains("LeftSemi"), plan.take(1200))
    // the postings scan prunes its bucket partition and pushes the token
    // equality (the prefix probe additionally pushes a StartsWith)
    assert(plan.contains("PartitionFilters") && plan.contains("bucket#"),
      plan.take(2000))
    assert(plan.contains("EqualTo(token,spark)"), plan.take(2000))
    assert(plan.contains("StringStartsWith(token,filt)"), plan.take(2000))
  }

  test("pure-index search never scans the doc store (R+)") {
    val plan = planOf("q_search_pure_index")
    // PK-only + all-exact leaves: the plan reads postings only — the
    // documents parquet appears nowhere; top-k is index-side
    assert(!plan.contains("documents.parquet"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("collapse under the default order is an aggregate, never a window") {
    // a key-partitioned window concentrates low-cardinality collapse keys
    // (5 langs over the corpus) onto a handful of tasks; the argmin
    // aggregate partial-combines map-side
    val plan = planOf("q_search_collapse")
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("min_by") || plan.contains("Aggregate"), plan.take(2000))
  }

  test("histogram zero-fill joins the frame axis broadcast, never shuffled") {
    // frames come from a bounded spark.range (≤100k rows by the guard) —
    // the bucket side must not exchange for the left join
    val plan = planOf("q_agg_date_zero_fill")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("r8: ES|QL pipes stay one fused plan — filter pushed, lookup broadcast") {
    val plan = planOf("q_esql_stats")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"),
      plan.take(3000))
    val lk = planOf("q_esql_lookup")
    assert(lk.contains("BroadcastHashJoin"), lk.take(3000))
    assert(!lk.contains("SortMergeJoin"), lk.take(3000))
    // INLINESTATS joins the group frame back broadcast, never a window
    val inl = planOf("q_esql_inlinestats")
    assert(inl.contains("BroadcastHashJoin") && !inl.contains("Window"),
      inl.take(3000))
  }

  test("r8: retriever rrf fuses capped lists; terms_enum prunes and pushes the prefix") {
    val plan = planOf("q_search_retriever")
    // each child is a capped top-k (TakeOrderedAndProject), fusion is one
    // hash aggregate — no sort-merge join anywhere
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("SortMergeJoin"),
      plan.take(3000))
    val te = planOf("q_terms_enum")
    assert(te.contains("PushedFilters: [IsNotNull(source), StringStartsWith(source,src1)]"),
      te.take(3000))
    assert(te.contains("ReadSchema: struct<source:string>"), te.take(3000))
  }

  test("r8: bigram NLL keeps corpus-instance shuffles to two, joins broadcast") {
    // the head-count table aggregates DISTINCT bigrams, never the exploded
    // instance relation: exactly two exchanges carry instance-keyed rows
    // (the count groupBy and the final per-doc aggregate); the two count
    // tables are vocabulary-sized and broadcast into the scoring join
    val df = SparkEntry.queries("q_text_bigram_nll")(spark, dir)
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan.toString
    assert(!fin.contains("SortMergeJoin"), fin.take(4000))
    assert("BroadcastHashJoin".r.findAllIn(fin).length >= 2, fin.take(4000))
  }

  test("r8: ip_range is one scan + hash aggregate; sparse_vector stays scan-side") {
    val ip = planOf("q_agg_ip_range")
    assert(!ip.contains("SortMergeJoin") && !ip.contains("Window"), ip.take(3000))
    val sv = planOf("q_search_sparse_vector")
    assert(!sv.contains("CartesianProduct"), sv.take(3000))
  }

  test("r8s2: frequent_item_sets is one scan + one hash aggregate") {
    val p = planOf("q_agg_frequent_sets")
    // the subset lattice explodes row-side (Generate) into a single
    // aggregation — no join between per-size passes, no window
    assert(p.contains("Generate") && p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("r8s2: semanticDedup joins inside clusters only, never all-pairs") {
    val p = planOf("q_dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // cluster-keyed equi-join (label) carries the pair generation
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p.take(3000))
  }

  test("r8s2: _sql filter lands under the view and reaches the scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = EsSql.run(spark, Map("sqldocs" -> docs),
      """{"query": "SELECT lang, count(*) AS n FROM sqldocs GROUP BY lang",
          "filter": {"range": {"n_chars": {"gte": 200}}}}""")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,200)]") ||
      p.contains("GreaterThanOrEqual(n_chars,200)"), p.take(3000))
  }

  test("r8s2: native session_window is an aggregate, not a window function") {
    val p = planOf("q_session_window")
    assert(!p.contains("WindowExec") && !p.replace("session_window", "")
      .contains("Window("), p.take(3000))
    assert(p.contains("Aggregate") || p.contains("HashAggregate") ||
      p.contains("SortAggregate"), p.take(3000))
  }

  test("r8s2: zorder rewrite range-partitions on the Morton code") {
    val p = planOf("q_zorder")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning")
      || p.contains("REPARTITION_BY_RANGE"), p.take(2000))
    // exactly two scans: the 1-row min/max stats pass (broadcast back)
    // and the data pass — never a third
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 scans (stats + data), got $scans")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("r8s2: bloom prefilter evaluates might_contain scan-side, no cartesian") {
    val p = planOf("q_dedup_bloom")
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("r8s2: searchNamed flags ride the same scan — one FileScan only") {
    val p = planOf("q_search_named")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans\n" + p.take(3000))
  }

  test("r9: rrf and rankEval rank without a single-partition window") {
    // ranks come from globalRank's sorted monotonic-id + broadcast prefix
    // sum — no unpartitioned WindowExec anywhere on the search path
    val rrf = planOf("q_search_rrf")
    assert(!rrf.contains("Window"), rrf.take(3000))
    val re = planOf("q_rank_eval")
    assert(!re.contains("Window"), re.take(3000))
    // r10: the rank builds lazily (the zipWithIndex form launched the
    // sort at construction — the no-job test below pins laziness); the
    // offset and rated joins stay broadcast. (r11: ranking runs through
    // the custom GlobalRankPlan/GlobalRankExec operator — the count job
    // and the output rows share ONE shuffle dependency, so branch
    // consistency is structural; the operator must appear in the plan.)
    assert(re.contains("GlobalRank"), re.take(3000))
    assert(re.contains("BroadcastHashJoin"), re.take(3000))
  }

  test("r11: edit-distance dedup joins slim candidates — histogram bound " +
       "in the join condition, text re-joined only for verification") {
    val p = planOf("q_dedup_edit")
    // the L1 prefilter prunes INSIDE the candidate join (codegen'd int
    // math), before any levenshtein
    assert(p.contains("hist_l1("), p.take(3000))
    assert(p.contains("levenshtein"), p.take(3000))
    // the exploded probe side carries (id, len, hist) — never the text:
    // carrying text through the length-class join was the 22×-at-10×-rows
    // regression the sf1 medians caught
    val gen = p.linesIterator.find(_.contains("Generate explode")).getOrElse(
      fail("no Generate in plan:\n" + p.take(3000)))
    assert(!gen.contains("text#"), gen)
  }

  test("r11: globalRank ranks are exact with exchange reuse disabled — " +
       "branch consistency is structural, not optimizer-dependent") {
    // with two independent physical branches, each branch's
    // RangePartitioner samples its own boundaries under
    // exchange.reuse=false and ranks duplicate/gap (observed ~188k unique
    // over 200k rows); GlobalRankExec makes the count job and the output
    // rows share one shuffle dependency, so ranks stay exact regardless
    // of reuse
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val n = 50000
      val df = spark.range(n).select(
        concat(lit("d"), col("id")).as("doc_id"),
        (pmod(col("id") * 2654435761L, lit(1000003L))).cast("double").as("_score"))
      val ranks = Search.globalRank(df,
          Seq(desc("_score"), asc("doc_id")), "rk")
        .select(col("rk")).as[Long].collect().sorted
      assert(ranks.length == n)
      assert(ranks.head == 1L && ranks.last == n.toLong)
      assert(ranks.distinct.length == n,
        s"duplicate ranks: ${ranks.length - ranks.distinct.length}")
      // edge cases: empty frame ranks to empty, singleton to rank 1
      import spark.implicits._
      val empty = Seq.empty[(String, Double)].toDF("doc_id", "_score")
      assert(Search.globalRank(empty,
        Seq(desc("_score"), asc("doc_id")), "rk").count() == 0)
      val one = Search.globalRank(Seq(("a", 1.0)).toDF("doc_id", "_score"),
          Seq(desc("_score"), asc("doc_id")), "rk")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      assert(one == Seq(("a", 1L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
        case None => spark.conf.unset("spark.sql.exchange.reuse")
      }
    }
  }

  test("r10: completion store scan prunes by context partition and pushes " +
       "the prefix filter") {
    import spark.implicits._
    val corpus = Seq(("1", "en", "scala spark"), ("2", "de", "skala"), ("3", "fr", "scala"))
      .toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_plan_compl").toString
    Search.writeCompletionStore(corpus, "text", path, contextCols = Seq("lang"))
    val plan = Search.completionSuggestFromStore(spark, path, "sca", 5,
        contexts = Map("lang" -> Seq("en")))
      .queryExecution.executedPlan.toString
    // context filter becomes partition-directory pruning, prefix probe a
    // pushed StartsWith — the dictionary scan reads a sliver of the store
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(2000))
    assert(plan.contains("StringStartsWith(suggestion,sca)"), plan.take(2000))
  }

  test("r13: ANN serve with tombstones keeps partition pruning — the " +
       "deletes anti-join sits ABOVE the pruned cells scan, never widens it") {
    import spark.implicits._
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0, 0.0)
                 else Array(0.0, 1.0, 0.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01 * (((i * 7 + d * 3) % 5) - 2) })
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_plan_ann").toString
    graft.pipeline.Ivf.writeIndex(corpus, c = 2, path, iters = 2)
    graft.pipeline.Ivf.deleteFromIndex(spark, path,
      Seq(2L, 4L).toDF("vec_id"))
    val queries = corpus.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("query_vec"))
    val served = graft.pipeline.Ivf.topKFromStore(spark, path, queries,
      k = 5, nprobe = 1)
    val plan = served.queryExecution.executedPlan.toString
    // the cells scan still carries the literal probe-list partition filter
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      plan.take(2000))
    // the tombstone filter is an anti-join on the (small) sidecar, planned
    // as broadcast — never a shuffle of the probed cells
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // and the result is still tombstone-filtered
    assert(!served.collect().map(_.getLong(1)).toSet.exists(Set(2L, 4L)))
  }

  test("r10: globalRank builds lazily — constructing rrf launches no job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val a = Seq(("a", 3.0), ("b", 2.0), ("c", 1.0)).toDF("doc_id", "_score")
    val b = Seq(("a", 1.0), ("b", 2.5), ("c", 0.5)).toDF("doc_id", "_score")
    val built = Search.rrf(Seq(a, b), "doc_id", 60, 3) // no action yet
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"plan construction launched ${after - before} job(s)")
    // and the rank itself is right: global 1-based, sort-order exact
    val ranked = Search.globalRank(
        a.unionByName(b.withColumn("_score", col("_score") + 10)),
        Seq(desc("_score"), asc("doc_id")), "rk")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(ranked == Set(("b", 12.5, 1L), ("a", 11.0, 2L), ("c", 10.5, 3L),
      ("a", 3.0, 4L), ("b", 2.0, 5L), ("c", 1.0, 6L)), ranked.toString)
    built.collect() // sanity: the lazily-built rrf still executes
  }

  test("r12: dup-ngram store scoring pushes the cg >= 2 prune into the " +
       "store scan — the singleton Zipf tail never enters the join") {
    val plan = planOf("q_text_dup_ngrams_store")
    val scan = plan.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("cg"))
      .getOrElse(fail(s"no store scan with a cg filter in:\n${plan.take(3000)}"))
    assert(scan.contains("GreaterThanOrEqual(cg,2)"), scan)
  }

  test("r12: ES|QL MAD joins its median pre-pass broadcast, never " +
       "sort-merge — the pre-aggregate is group-cardinality-sized") {
    val plan = planOf("q_esql_mad")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("r14: the scan floor's size gate keeps small corpora narrow — no " +
       "repartition exchange sneaks under a projection-only query at " +
       "sf0.001, and no trailing cosmetic sort survives") {
    // q_quality_classifier is a pure projection; the r14 scan floor fires
    // only past Spread's 256 KB size gate, so the tiny gate corpus must keep
    // the zero-exchange plan (at sf0.1+ the same query deliberately
    // carries ONE repartition exchange — guide §2.5)
    val plan = planOf("q_quality_classifier")
    assert(!plan.contains("Exchange"), plan.take(2000))
    // and the r14 trailing-sort removal: no range partitioning anywhere
    assert(!plan.contains("rangepartitioning"), plan.take(2000))
  }

  test("r14: the delta-segmented count store SERVES base+delta summed — " +
       "the uncompacted append query's plan unions the base scan with " +
       "the delta segment and re-aggregates by gram") {
    val plan = planOf("q_ngram_store_append")
    // two parquet relations (base + .delta_* dir) unioned under one
    // gram-keyed aggregate; compaction (q_bigram_lm_append's path)
    // restores the single-relation pushdown plan
    assert(plan.contains("Union"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("r15: scanFloor never executes upstream stages of a shuffle-bearing " +
       "input — the probe is gated to narrow plans") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val aggregated = docs.groupBy(col("lang")).count()
    val (out, jobs) = jobsDuring(graft.pipeline.Spread.scanFloor(aggregated, col("lang")))
    // the pre-r15 probe materialized .rdd, which under AQE ran the
    // aggregate's query stage eagerly at plan-build time (then again at
    // the real action); the gate must return the frame unchanged with
    // ZERO jobs launched
    assert(jobs == 0, s"scanFloor launched $jobs job(s) on a shuffle-bearing input")
    assert(out eq aggregated, "shuffle-bearing input must pass through unchanged")
  }

  test("r15: the postings build reads the doc store ONCE for all fields " +
       "(in-row field fan-out, not a per-field scan union)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.TextIndex
      .buildPostings(docs, "doc_id", Seq("text", "lang", "source"), 16)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected one doc-store scan, found $scans:\n${plan.take(3000)}")
  }

  test("the postings and norms builds tokenize with word_runs inside a " +
       "whole-stage codegen stage") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    for ((name, built) <- Seq(
        "buildPostings" -> graft.TextIndex.buildPostings(docs, "doc_id", Seq("text"), 16),
        "buildPostings(2 fields)" ->
          graft.TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 16),
        "buildNorms" -> graft.TextIndex.buildNorms(docs, "doc_id", Seq("text", "lang")))) {
      built.collect() // the final adaptive plan, with its codegen stages
      val plan = built.queryExecution.executedPlan
      def own(p: SparkPlan) =
        p.expressions.flatMap(_.collect { case w: graft.functions.WordRuns => w })
      // a codegen stage ends at its InputAdapter
      def inStage(p: SparkPlan): Seq[graft.functions.WordRuns] = own(p) ++ (p match {
        case _: InputAdapter => Nil
        case _ => p.children.flatMap(inStage)
      })
      val all = helper.collect(plan) { case n => own(n) }.flatten
      val staged = helper.collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
      assert(all.nonEmpty, s"$name: no word_runs in\n$plan")
      assert(staged.size == all.size, s"$name: word_runs outside whole-stage codegen:\n$plan")
    }
  }

  test("a delete by key broadcasts the raw key side: deleteFromSketchStore " +
       "runs two jobs (broadcast + rewrite), no distinct shuffle") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_sketch_jobs").toString
    graft.pipeline.Dedup.writeSketchStore(Seq((1L, "spark makes batch fast"),
      (2L, "spark makes batch faster"), (3L, "nothing relevant here"))
      .toDF("doc_id", "text"), path, "text", "doc_id")
    val (_, jobs) = jobsDuring(
      graft.pipeline.Dedup.deleteFromSketchStore(spark, path, Seq(3L, 3L).toDF("id")))
    assert(jobs == 2, s"deleteFromSketchStore launched $jobs job(s)")
    assert(graft.StoreFs.read(spark, path).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("fixture tables open with no job: building q_doc_projection " +
       "launches none before its action") {
    val (built, jobs) = jobsDuring(SparkEntry.queries("q_doc_projection")(spark, dir))
    assert(jobs == 0, s"building q_doc_projection launched $jobs job(s)")
    assert(built.count() > 0)
  }

  // The append-contract probe (StoreFs.appendNeeded) on each store's
  // append path, pinned at the job counts the per-store probes it
  // replaced ran: the one kernel adds no job to any of them.
  private def tmpDir(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  test("bulk postings build: the sidecar comes from the build, not from " +
       "jobs that read the written store back") {
    import spark.implicits._
    val path = tmpDir("graft_pin_postings")
    val docs = Seq((1L, "spark makes batch fast", "en"),
      (2L, "batch jobs filter rows", "de")).toDF("doc_id", "text", "lang")
    val (_, jobs) = jobsDuring(TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 8), path))
    assert(jobs == 3, s"writePostings(buildPostings(…)) launched $jobs job(s)")
    assert(TextIndex.openPostings(spark, path)._2 ==
      TextIndex.IndexMeta(8, Seq("lang", "text"), false, None))
  }

  test("append-contract jobs: appendNorms on a fresh batch") {
    import spark.implicits._
    val path = s"${tmpDir("graft_pin_norms")}/norms"
    TextIndex.buildNorms(Seq((1L, "alpha beta"), (2L, "gamma delta words"))
      .toDF("doc_id", "text"), "doc_id", Seq("text")).write.parquet(path)
    val (_, jobs) = jobsDuring(TextIndex.appendNorms(
      Seq((3L, "fresh doc")).toDF("doc_id", "text"), "doc_id", Seq("text"), path))
    assert(jobs == 4, s"appendNorms launched $jobs job(s)")
    assert(StoreFs.read(spark, path).count() == 3)
  }

  test("append-contract jobs: appendNgramCountsKeyed fresh without a " +
       "batchId, and an exact replay with one") {
    import spark.implicits._
    val path = tmpDir("graft_pin_keyed")
    graft.pipeline.TextStats.writeNgramCountsKeyed(Seq((1, "the quick brown fox"),
      (2, "the quick brown cat")).toDF("id", "text"), "text", "id", 2, path)
    val (_, fresh) = jobsDuring(graft.pipeline.TextStats.appendNgramCountsKeyed(
      Seq((3, "a quick red fox")).toDF("id", "text"), "text", "id", 2, path))
    assert(fresh == 11, s"fresh keyed append launched $fresh job(s)")
    val b = Seq((4, "x y z")).toDF("id", "text")
    graft.pipeline.TextStats.appendNgramCountsKeyed(b, "text", "id", 2, path,
      batchId = Some(7L))
    val rows = StoreFs.read(spark, s"$path/bydoc").count()
    val (_, replay) = jobsDuring(graft.pipeline.TextStats.appendNgramCountsKeyed(
      b, "text", "id", 2, path, batchId = Some(7L)))
    assert(replay == 11, s"keyed replay launched $replay job(s)")
    assert(StoreFs.read(spark, s"$path/bydoc").count() == rows)
  }

  test("append-contract jobs: Ivf.appendToIndex") {
    import spark.implicits._
    val path = tmpDir("graft_pin_ivf")
    val corpus = (0 until 20).map { i =>
      (i.toLong, if (i % 2 == 0) Array(1.0, 0.1 * (i % 3)) else Array(0.1 * (i % 3), 1.0))
    }.toDF("vec_id", "embedding")
    graft.pipeline.Ivf.writeIndex(corpus.where($"vec_id" < 10), c = 2, path, iters = 2)
    val (_, jobs) = jobsDuring(
      graft.pipeline.Ivf.appendToIndex(spark, path, corpus.where($"vec_id" >= 10)))
    assert(jobs == 10, s"Ivf.appendToIndex launched $jobs job(s)")
    assert(StoreFs.read(spark, s"$path/cells").count() == 20)
  }

  test("append-contract jobs: a pending-replay applyInsertServedBatch " +
       "(norms landed, postings did not)") {
    import spark.implicits._
    val base = tmpDir("graft_pin_replay")
    val (pp, np) = (s"$base/postings", s"$base/norms")
    val seed = Seq((1L, "spark makes batch fast")).toDF("doc_id", "text")
    TextIndex.writePostings(TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8), pp)
    TextIndex.buildNorms(seed, "doc_id", Seq("text")).write.parquet(np)
    val b1 = Seq((2L, "fresh spark content"), (3L, "more batch data"))
      .toDF("doc_id", "text")
    graft.streaming.StreamingIndexer.writePending(spark, pp, 1L)
    TextIndex.appendNorms(b1, "doc_id", Seq("text"), np)
    val (applied, jobs) = jobsDuring(graft.streaming.StreamingIndexer
      .applyInsertServedBatch(b1, 1L, "doc_id", Seq("text"), pp, np, 8))
    assert(applied)
    assert(jobs == 11, s"pending-replay apply launched $jobs job(s)")
    assert(StoreFs.read(spark, np).count() == 3)
  }

  test("append-contract jobs: a pending-replay applyInsertServedBatch " +
       "(neither store landed)") {
    import spark.implicits._
    val base = tmpDir("graft_pin_replay_none")
    val (pp, np) = (s"$base/postings", s"$base/norms")
    val seed = Seq((1L, "spark makes batch fast")).toDF("doc_id", "text")
    TextIndex.writePostings(TextIndex.buildPostings(seed, "doc_id", Seq("text"), 8), pp)
    TextIndex.buildNorms(seed, "doc_id", Seq("text")).write.parquet(np)
    val b1 = Seq((2L, "fresh spark content"), (3L, "more batch data"))
      .toDF("doc_id", "text")
    graft.streaming.StreamingIndexer.writePending(spark, pp, 1L)
    val (applied, jobs) = jobsDuring(graft.streaming.StreamingIndexer
      .applyInsertServedBatch(b1, 1L, "doc_id", Seq("text"), pp, np, 8))
    assert(applied)
    // the norms delta is built and probed once; appending it through
    // appendNorms would build and probe it again (3 more jobs)
    assert(jobs == 8, s"pending-replay apply launched $jobs job(s)")
    assert(StoreFs.read(spark, np).count() == 3)
    assert(StoreFs.read(spark, pp).select("doc_id").distinct().count() == 3)
  }
}
