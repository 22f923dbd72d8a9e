package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.functions.json_flatten
import graft.pipeline.{Curate, Dedup, Multimodal, Sessionize, Similarity, TextStats}

/** Driver contract — one named query per implemented operator (SURVEY.md §2),
  * each with a DuckDB oracle in [[SparkEntry.oracleSql]] where the semantics
  * are ANSI-SQL-expressible (hash-verified by the driver on sf0.01), and
  * rows-only checks for the genuinely non-SQL ones (MinHash, SimHash, LSH).
  *
  * Determinism rules applied throughout (SURVEY.md §7.4):
  *  - `now` is always a literal parameter, never `current_timestamp()`;
  *  - double aggregates are `round(..., 2)` on both sides;
  *  - the compare harness sorts rows by all columns before hashing, so
  *    results carry NO cosmetic trailing `orderBy` (r14: a global sort
  *    re-runs the whole plan for the range partitioner's sampling pass —
  *    the one shuffle guide §2.4 says to delete; oracle SQL keeps its
  *    ORDER BY for readability). Sorts that select rows (`orderBy.limit`
  *    top-k) stay, they are semantics;
  *  - Spark aliases == oracle aliases, column for column.
  */
object SparkEntry {

  /** Cores for the entry points' sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The one session factory of every entry point ([[Bench]], [[Verify]],
    * [[Smoke]], [[ScaleUp]], [[FixtureManifest]] and the test suites):
    * `local[cpus]` with as many shuffle partitions, no UI, UTC, AQE on, and
    * `spark.sql.legacy.parquet.nanosAsLong` — the conf [[tbl]] depends on. */
  def localSession(cpus: Int, logLevel: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Fixture table loader. An `events.ts` stored as TIMESTAMP(NANOS) reads
    * only as a raw long, under [[localSession]]'s nanosAsLong; normalize it
    * back to a microsecond timestamp. */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = StoreFs.read(s, s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      // integer division — long/1000 via `/` goes through double and loses
      // low bits at 1e18 (corrupts ~1 in 8 ms-granularity timestamps by 1µs)
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  /** A partitioned store, with its root as the `basePath`. */
  private def partitioned(s: SparkSession, path: String): DataFrame =
    StoreFs.read(s, Seq(path), Some(path))

  // Every temp dir this object creates is registered here and removed by
  // one JVM shutdown hook — repeated driver/bench runs leave no debris.
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      tempDirs.forEach(p => rm(new java.io.File(p)))
    }))
  private def tmpDir(prefix: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(s"graft_$prefix").toString
    tempDirs.add(p)
    p
  }

  /** Write-once materialized stores (postings, norms, suggest LM,
    * completion dictionary), keyed by (kind, dataset dir): built on first
    * use, SERVED from disk on every later invocation — write-once is the
    * index's semantics, so repeat invocations (the driver benches each
    * query 3×) measure serve cost, not build cost. `q_postings_build`
    * stays un-memoized as the explicit build-cost probe. */
  private val storeFor =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def memoStore(kind: String, dir: String)(build: String => Unit): String =
    storeFor.getOrElseUpdate((kind, dir), {
      val p = tmpDir(kind)
      build(p)
      p
    })

  /** Fixed "now" for TTL/IndexationDate determinism (2024-07-01T00:00:00Z). */

  private val NowTs = java.sql.Timestamp.from(java.time.Instant.parse("2024-07-01T00:00:00Z"))
  private val NowEpoch = NowTs.toInstant.getEpochSecond

  /** Deterministic struct<lat,lon> points for the geo queries — integer
    * degree values derived from the customer key (exact double math on
    * both engine and oracle sides). */
  private def geoPoints(cust: DataFrame): DataFrame =
    cust.select(col("c_custkey").as("doc_id"),
      struct((col("c_custkey") % 180 - 90).cast("double").as("lat"),
             ((col("c_custkey") * 7) % 360 - 180).cast("double").as("lon"))
        .as("loc"))

  /** Parent/child join-field frame for has_child/has_parent: customers
    * (parents, id c<key>) and orders (children, id o<key> pointing at
    * c<custkey>) in one frame, ES join-field style. */
  private def familyFrame(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer")
      .select(concat(lit("c"), col("c_custkey")).as("doc_id"),
        lit("customer").as("join_name"),
        lit(null).cast("string").as("join_parent"),
        lit(null).cast("double").as("price"),
        col("c_acctbal").as("acctbal"))
    val ords = tbl(s, dir, "orders")
      .select(concat(lit("o"), col("o_orderkey")).as("doc_id"),
        lit("order").as("join_name"),
        concat(lit("c"), col("o_custkey")).as("join_parent"),
        col("o_totalprice").as("price"),
        lit(null).cast("double").as("acctbal"))
    cust.unionByName(ords)
  }

  /** Flagship (SURVEY.md §7.2 step 4): full-text search over the `documents`
    * corpus — Lucene-lite query compiled to Catalyst predicates, deterministic
    * term-count scoring, top-k, metadata enrichment, hits joined back to the
    * source rows (search→row-load, R9). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Indexer.buildDocs(tbl(spark, dir, "documents"),
      pkCols = Seq("doc_id"), ckCols = Nil, IndexConfig(indexationDate = false), NowTs)
    val hits = Search.searchWithTotal(docs, "text:spark OR text:batch", IndexConfig())
    // doc ids are strings in the doc store; restore the base table's key type
    Search.loadRows(
      hits.select(col("doc_id").cast("long").as("doc_id"), col("_score")),
      tbl(spark, dir, "documents"), Seq("doc_id"))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- read path: search executor (R1-R10, S6-S8) ----
    "q_search_topk" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Search.search(docs, "text:spark OR text:batch", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_qstring_or" -> ((s, dir) => {
      // query_string default_operator=OR with Lucene occur flags: bare
      // adjacency widens to OR, `-term` stays a conjunctive exclusion
      // (ES's implicit-OR contract a migrating user relies on)
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query":{"query_string":{"query":"text:spark text:batch -text:filter",
             "default_operator":"OR"}}}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_wildcard" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Search.search(docs, "text:filt* AND lang:de", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("_score"))
    }),
    "q_search_dsl_range" -> ((s, dir) => {
      val q = """{"query":{"bool":{"must":[{"range":{"value":{"gte":100,"lt":150}}},
                 {"term":{"event_type":"purchase"}}]}},"size":100000}"""
      Search.search(tbl(s, dir, "events"), q, IndexConfig(maxResults = 100000), Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("value"), col("_score"))
    }),
    "q_search_dsl_bool" -> ((s, dir) => {
      val q = """{"query":{"bool":{
                   "must":[{"range":{"o_totalprice":{"gte":50000}}}],
                   "must_not":[{"term":{"o_orderstatus":"F"}}],
                   "should":[{"term":{"o_orderpriority":"1-URGENT"}}]}},
                 "size":1000000}"""
      Search.search(tbl(s, dir, "orders"), q, IndexConfig(maxResults = 1000000), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"), col("_score"))
    }),
    "q_search_pk_only" -> ((s, dir) => {
      // #options:load-rows=false# → PK-only projection, no row-load join (S8/R1)
      Search.search(tbl(s, dir, "documents"),
          "#options:load-rows=false#text:window", IndexConfig(), Seq("doc_id"))
    }),
    "q_search_rowload" -> ((s, dir) => {
      // R9: hits on the indexed part docs joined back to full part rows
      val parts = tbl(s, dir, "part")
      val hits = Search.search(parts, "p_name:blue*", IndexConfig(), Seq("p_partkey"))
      Search.loadRows(hits.select(col("p_partkey"), col("_score")), parts, Seq("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"), col("_score"))
    }),
    "q_search_meta" -> ((s, dir) => {
      // R10: every row enriched with the full deterministic response
      // metadata — hit_count/max_score over ALL matches (pre-cap), plus
      // took (fixed 0) and the _shards analog (segment count of the
      // searched store; `source` plays the segment here)
      Search.searchWithTotal(tbl(s, dir, "documents"),
          "text:merge AND text:sort", IndexConfig(), Seq("doc_id"),
          segmentCol = Some("source"))
        .select(col("doc_id"), col("_score"), col("hit_count"), col("max_score"),
          col("took"), col("shards_total"), col("shards_successful"))
    }),
    "q_search_alias" -> ((s, dir) => {
      // alias search spanning two doc tables with different schemas
      // (reference: untyped alias search, README.md:680-683)
      val partDocs = tbl(s, dir, "part")
        .select(concat(lit("part-"), col("p_partkey")).as("doc_id"), col("p_name"))
      val docDocs = tbl(s, dir, "documents")
        .select(concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
      Search.searchAlias(Seq(partDocs, docDocs),
          "p_name:blue* OR text:filter", IndexConfig())
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_alias_typed" -> ((s, dir) => {
      // typed alias search: each hit carries its document type (_type),
      // like the reference's ES hits across an untyped alias
      val partDocs = tbl(s, dir, "part")
        .select(concat(lit("part-"), col("p_partkey")).as("doc_id"), col("p_name"))
      val docDocs = tbl(s, dir, "documents")
        .select(concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
      Search.searchAliasTyped(Seq("part" -> partDocs, "documents" -> docDocs),
          "p_name:blue* OR text:filter", IndexConfig())
        .select(col("doc_id"), col("_type"), col("_score"))
    }),
    "q_search_phrase" -> ((s, dir) => {
      // R2: quoted phrase terms match contiguous tokens
      Search.search(tbl(s, dir, "documents"),
          "text:\"batch stream\" OR text:\"hash join\"", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_dsl_dismax" -> ((s, dir) => {
      // best_fields-style: a doc matching both branches scores the better
      // one (max), not the sum — distinguishes dis_max from bool/should
      val q = """{"query":{"dis_max":{"queries":[
                 {"match":{"text":"spark"}},
                 {"match":{"text":{"query":"batch","boost":3}}}],
                 "tie_breaker":0}},"size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_mm_best" -> ((s, dir) => {
      // multi_match type best_fields: per-field match dis_max'd — a doc
      // strong in ONE field wins over a doc weak in both
      Search.search(tbl(s, dir, "documents"),
        """{"query": {"multi_match": {"query": "fast join",
              "fields": ["text", "lang^2"], "type": "best_fields"}},
            "size": 100000}""",
        IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_proximity" -> ((s, dir) => {
      // R2: ordered proximity — "spark batch" within 2 interlopers scores 2
      // (boost), near "hash join" within 1 as an OR alternative
      Search.search(tbl(s, dir, "documents"),
          "text:\"spark batch\"~2^2 OR text:\"hash join\"~1", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_bm25" -> ((s, dir) => {
      // R4: deterministic BM25 relevance, top-50 with doc_id tiebreak
      val scored = Search.bm25(tbl(s, dir, "documents"), "text", Seq("spark", "query"))
        .where(col("_bm25") > 0)
      scored.orderBy(desc("_bm25"), col("doc_id"))
        .limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_query_validate" -> ((s, dir) => {
      // R11: eager validation verdicts for a fixed query battery
      import s.implicits._
      val battery = Seq(
        "text:spark", "text:spark AND lang:en", "{\"query\":{\"match_all\":{}}}",
        "text:spark AND (", "{\"query\":{\"bogus_op\":{}}}", "{not json", ":nofield")
      battery.map(q => (q, QueryCompiler.validate(q).isRight))
        .toDF("query", "valid")
    }),
    "q_query_validate_explain" -> ((s, dir) => {
      // R11 `_validate?explain` SUCCESS payload (reference returns ES's
      // rewritten-query explanation, ElasticIndex.java:733-782): valid
      // queries carry the compiled predicate rendered as SQL — the exact
      // expression the scan evaluates; invalid ones stay (false, NULL)
      import s.implicits._
      val battery = Seq(
        "text:spark", "lang:en AND text:fast",
        "{\"query\":{\"term\":{\"lang\":\"en\"}}}",
        "{\"query\":{\"range\":{\"n_chars\":{\"gte\":100}}}}",
        "text:spark AND (", "{not json")
      battery.map { q =>
        QueryCompiler.validateExplain(q) match {
          case Right(expl) => (q, true, expl)
          case Left(_)     => (q, false, null: String)
        }
      }.toDF("query", "valid", "explanation")
    }),
    "q_admin_get_mapping" -> ((s, dir) => {
      // S9: #get_mapping# — doc-store schema as rows with ES mapping types
      import s.implicits._
      Maintain.getMapping(tbl(s, dir, "lineitem")).toDF("field", "dtype", "es_type")
    }),
    "q_admin_put_mapping" -> ((s, dir) => {
      // S9: #put_mapping#{json}# — static mapping as a schema assertion;
      // reports which requested fields exist (Parquet schema is
      // authoritative; reference: EsSecondaryIndex.java:470-471, 579-598)
      val cmd = AdminCommand.parse(
        """#put_mapping#{"l_returnflag":{"type":"keyword"},"nonexistent_col":{"type":"text"}}#""").get
      val (res, _) = Admin.execute(s, tbl(s, dir, "lineitem"), cmd, IndexConfig())
      res
    }),
    "q_admin_update" -> ((s, dir) => {
      // S9+M11: #update#{json}# settings hot-reload — options re-resolved
      // through the 3-layer reader, new effective config reported as rows
      // (reference: EsSecondaryIndex.java:535-598; OptionReader.java:90-107)
      import s.implicits._
      val cmd = AdminCommand.parse(
        """#update#{"max-results":"500","segment":"CUSTOM","segment-size":"3600000"}#""").get
      val (_, next) = Admin.execute(s, tbl(s, dir, "region"), cmd, IndexConfig())
      val segDesc = next.segment match {
        case SegmentGranularity.Fixed(ms) => s"fixed:$ms"
        case other => other.toString
      }
      Seq(
        ("analytic-mode", next.analyticMode.toString),
        ("discard-nulls", next.discardNulls.toString),
        ("insert-only", next.insertOnly.toString),
        ("max-results", next.maxResults.toString),
        ("segment", segDesc))
        .toDF("key", "value")
    }),
    "q_search_source" -> ((s, dir) => {
      // R1+R10: load-source=true attaches the full document as _source JSON
      // (the ES _source the reference injects into hit metadata); with
      // load-rows=false this is the PK + score + source projection
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
          "#options:load-source=true,load-rows=false#text:window AND lang:en",
          IndexConfig(), Seq("doc_id"))
    }),
    "q_search_fuzzy" -> ((s, dir) => {
      // R2: Lucene fuzzy — any token within edit distance 1 of 'sprk'
      // (native FuzzyTokenMatch expression; tight DP loop per row)
      val docs = tbl(s, dir, "documents")
      Search.search(docs, "text:sprk~1", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_match_multi" -> ((s, dir) => {
      // analyzed multi-word match: OR of terms (ES default), each term a
      // scoring clause; operator=and is spec-covered (SearchSpec)
      val docs = tbl(s, dir, "documents")
      Search.search(docs, """{"query":{"match":{"text":"spark batch"}}}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_collapse" -> ((s, dir) => {
      // ES field collapsing: the top hit per lang in relevance order —
      // key-partitioned window, then the normal rank/limit
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query":{"match":{"text":"spark batch"}},
            "collapse":{"field":"lang"}}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_collapse_inner" -> ((s, dir) => {
      // collapse + inner_hits: top-3 langs by head relevance, each
      // carrying its top-3 hits ranked within the group (the flat analog
      // of ES's per-hit inner_hits array)
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query":{"match":{"text":"spark batch"}},
            "collapse":{"field":"lang",
              "inner_hits":{"name":"by_lang","size":3}},
            "size": 3}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"), col("_inner_rank"))
    }),
    "q_search_fuzzy_auto" -> ((s, dir) => {
      // DSL fuzzy with ES parity shapes: fuzziness AUTO (5-char term →
      // 1 edit) and prefix_length 2 (leading 'sp' verbatim, edits beyond)
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query":{"fuzzy":{"text":{"value":"spark","fuzziness":"AUTO",
             "prefix_length":2}}}}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_boost" -> ((s, dir) => {
      // R2/R4: Lucene boost syntax — term^N weights the score contribution
      val docs = tbl(s, dir, "documents")
      Search.search(docs, "text:spark^3 OR text:batch", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_grouping" -> ((s, dir) => {
      // R2: field grouping (field distributes over bare terms), group boost,
      // `-` prohibited operator, `?` single-char wildcard
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
          "text:(spark OR batch)^2 AND -lang:de AND source:src1?",
          IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("_score"))
    }),
    "q_search_dsl_long" -> ((s, dir) => {
      // R3: ES-DSL long object bodies — the form ES clients emit
      // ({"match":{"f":{"query":…,"boost":…}}}, {"term":{"f":{"value":…}}})
      val q = """{"query":{"bool":{
                   "must":[{"match":{"text":{"query":"spark","boost":2}}},
                           {"term":{"lang":{"value":"en"}}}],
                   "must_not":[{"wildcard":{"source":{"value":"src1*"}}}]}},
                  "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("_score"))
    }),
    "q_search_from" -> ((s, dir) => {
      // ES offset paging: page 2 of a field-sorted search (from 50, size
      // 40) — the UI-pagination shape, window-capped by max-results
      val q = """{"query":{"match":{"text":"spark"}},
                  "sort":[{"n_chars":"desc"}],"from":50,"size":40}"""
      Search.search(tbl(s, dir, "documents"), q, IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("n_chars"), col("_score"))
    }),
    "q_search_source_filter" -> ((s, dir) => {
      // body _source filter: response shaping that becomes scan column
      // pruning (ReadSchema shrinks — PlanSpec-proven)
      val q = """{"query":{"match":{"text":"spark"}},
                  "_source":["lang","n_chars"],"size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
        IndexConfig(maxResults = 100000), Seq("doc_id"))
    }),
    "q_search_sorted" -> ((s, dir) => {
      // ES body field sort: matching docs ordered by a field instead of
      // relevance (id tiebreak appended — total order contract)
      val q = """{"query":{"match":{"text":"spark"}},
                  "sort":[{"lang":"asc"},{"n_chars":{"order":"desc"}}],
                  "size":100}"""
      Search.search(tbl(s, dir, "documents"), q, IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("_score"))
    }),
    "q_search_highlight" -> ((s, dir) => {
      // whole-field highlighter: the SAME regexes the predicates evaluate,
      // case-insensitive over the original text, one pass per field
      Search.highlight(tbl(s, dir, "documents"), "text:spark OR text:batch*",
          IndexConfig(), hlFields = Seq("text"))
        .select(col("doc_id"), col("_score"), col("_highlight_text"))
    }),
    "q_search_highlight_dsl" -> ((s, dir) => {
      // ES-DSL highlight: bool must/should leaves mark, must_not doesn't
      Search.highlight(tbl(s, dir, "documents"),
        """{"query":{"bool":{"must":[{"match":{"text":"spark"}}],
             "should":[{"match_phrase":{"text":"batch fast"}}],
             "must_not":[{"term":{"lang":"fr"}}]}}}""",
        IndexConfig(), hlFields = Seq("text"))
        .select(col("doc_id"), col("_score"), col("_highlight_text"))
    }),
    "q_search_after" -> ((s, dir) => {
      // keyset pagination: page 2 of a scored search, resuming strictly
      // after cursor (_score=2, doc_id=100) in the (score DESC, id ASC)
      // total order — ES search_after, the deep-pagination shape that
      // never re-ranks the page prefix
      val q = """{"query":{"bool":{"should":[{"match":{"text":"spark"}},
                   {"match":{"text":"batch"}}]}},
                  "size":50,"search_after":[2,100]}"""
      Search.search(tbl(s, dir, "documents"), q, IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_phrase_positional" -> ((s, dir) => {
      // Positional postings: phrase candidates are "all runs present, in
      // order" (not just the longest-run probe); verification restores the
      // exact slop semantics — hash-equal to the scan path
      val d = tbl(s, dir, "documents")
      val path = memoStore("postings_pos", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostingsPositional(d, "doc_id", Seq("text"), 16), p))
      val store = partitioned(s, path)
      TextIndex.searchIndexed(d, store, "text:\"spark batch\"~2",
          IndexConfig(), Seq("doc_id"), Set("text"), 16)
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_dsl_qstring" -> ((s, dir) => {
      // R3: query_string with default_field — ES q=-style bare terms bound
      // to a field; the whole sub-query scores as one leaf
      val q = """{"query":{"query_string":{"query":"spark OR batch",
                   "default_field":"text"}},"size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_mlt" -> ((s, dir) => {
      // more_like_this: docs similar to docs 1-3 — distinctive-term
      // selection (tf/(df+1) ranking, drift-proof), 30% msm, sources
      // excluded
      Search.moreLikeThis(tbl(s, dir, "documents"), "text",
          likeIds = Seq(1L, 2L, 3L), cfg = IndexConfig(maxResults = 100000),
          minTermFreq = 2, minDocFreq = 5, maxQueryTerms = 10,
          minimumShouldMatchPct = 30)
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_mlt_store" -> ((s, dir) => {
      // store-served twin of q_search_mlt (same oracle): the corpus-df
      // statistics pass reads the bucketed postings store through the
      // candidate-bounded probe path instead of re-tokenizing the corpus;
      // the one remaining corpus scan is the hit page itself (inherent —
      // MLT returns corpus hits). Shares the bm25_store postings.
      val path = memoStore("bm25_store", dir) { p =>
        val d = tbl(s, dir, "documents")
        TextIndex.writePostings(
          TextIndex.buildPostings(d, "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.buildNorms(d, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
      }
      val postings = partitioned(s, s"$path/postings")
      Search.moreLikeThisFromStore(tbl(s, dir, "documents"), postings, "text",
          likeIds = Seq(1L, 2L, 3L), cfg = IndexConfig(maxResults = 100000),
          minTermFreq = 2, minDocFreq = 5, maxQueryTerms = 10,
          minimumShouldMatchPct = 30, nBuckets = 16)
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_bool_prefix" -> ((s, dir) => {
      // R3: match_bool_prefix — type-ahead: spark as a term AND quer* as
      // the still-being-typed prefix, each its own scoring clause
      val q = """{"query":{"match_bool_prefix":{"text":{
                   "query":"spark quer","operator":"and"}}},"size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_simple_qs" -> ((s, dir) => {
      // R3: simple_query_string — the search-box mini-language: `|` OR,
      // `+` AND, `-` negation, quoted phrase, trailing-* prefix, folded
      // left-associatively: ((spark | "batch stream") AND NOT join) AND quer*
      val q = """{"query":{"simple_query_string":{
                   "query":"spark | \"batch stream\" + -join quer*",
                   "fields":["text"],"default_operator":"and"}},
                 "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_function_score" -> ((s, dir) => {
      // R3: function_score — data-dependent relevance in the integer
      // subset: (match spark) score × min(max_boost, weight-if-en + 2·len)
      val q = """{"query":{"function_score":{
                   "query":{"match":{"text":"spark"}},
                   "functions":[
                     {"filter":{"term":{"lang":"en"}},"weight":500},
                     {"field_value_factor":{"field":"n_chars","factor":2}}],
                   "score_mode":"sum","boost_mode":"multiply",
                   "max_boost":1500,"min_score":900}},"size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_dsl_boosting" -> ((s, dir) => {
      // R3: ES `boosting` — negative clause demotes (to 0, the declared
      // integer subset) but never filters
      val q = """{"query":{"boosting":{
                   "positive":{"bool":{"must":[{"match":{"text":"spark"}}],
                               "should":[{"match":{"text":"batch"}}]}},
                   "negative":{"term":{"lang":"de"}},
                   "negative_boost":0}},
                 "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_regex" -> ((s, dir) => {
      // R2 widening: Lucene /regex/ syntax — whole-token regex with boost,
      // composed with a plain term under implicit AND
      Search.search(tbl(s, dir, "documents"),
          "source:/src[0-9]+/^2 AND text:spark", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("_score"))
    }),
    "q_search_dsl_ids" -> ((s, dir) => {
      // R3: the remaining DSL leaves end-to-end — ids lookup (missing ids
      // are no-ops), prefix, nested bool with explicit
      // minimum_should_match, and query_string (Lucene embedded in DSL)
      val q = """{"query":{"bool":{
                   "must":[{"bool":{"should":[{"ids":{"values":[1,2,3,40,41,500]}},
                                              {"prefix":{"source":"src1"}}],
                                    "minimum_should_match":1}}],
                   "should":[{"query_string":{"query":"text:spark OR text:batch"}}]}},
                  "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("_score"))
    }),
    "q_search_dsl_multi" -> ((s, dir) => {
      // R3 widening: multi_match (most_fields — summed per-field leaves,
      // per-field ^boost), constant_score, and whole-token regexp — the
      // ES-DSL operators real clients emit beyond the round-2 subset
      val q = """{"query":{"bool":{
                   "must":[{"multi_match":{"query":"spark","fields":["text^2","source"]}}],
                   "should":[{"constant_score":{"filter":{"term":{"lang":"en"}},"boost":3}},
                             {"regexp":{"source":{"value":"src[0-9]+","boost":2}}}]}},
                  "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("_score"))
    }),
    "q_search_dsl_phrase_prefix" -> ((s, dir) => {
      // R3 widening: match_phrase_prefix — contiguous phrase whose last
      // term is a prefix (the type-ahead operator), long body with boost
      val q = """{"query":{"match_phrase_prefix":{"text":{"query":"sort tab","boost":2}}},
                  "size":100000}"""
      Search.search(tbl(s, dir, "documents"), q,
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_skew_join" -> ((s, dir) => {
      // skew mitigation: salted join must equal the plain join, row for row
      val large = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val small = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      pipeline.Skew.saltedJoin(large, small, Seq("l_orderkey"), saltFactor = 8)
    }),
    "q_skew_adaptive" -> ((s, dir) => {
      // threshold-gated salting (r10): with hotAt=1, every multi-row order
      // key is "hot" and spreads across 8 salts — the oracle (same SQL as
      // q_skew_join) proves the hot/cold split machinery output-invariant
      val large = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val small = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      pipeline.Skew.adaptiveSaltedJoin(large, small, Seq("l_orderkey"),
          hotAt = 1, saltFactor = 8)
    }),
    "q_segment_name" -> ((s, dir) => {
      // M2 naming: rows labeled with their physical segment-index name
      // (reference <alias>_index@<utc-date> convention)
      val o = tbl(s, dir, "orders")
      o.select(Maintain.segmentIndexNameCol("orders_idx",
          SegmentGranularity.Month, col("o_orderdate")).as("segment_index"))
        .groupBy(col("segment_index")).agg(count(lit(1)).as("doc_count"))
    }),
    "q_segment_fixed" -> ((s, dir) => {
      // M2 CUSTOM mode: fixed-width frames (reference IndexDropManager
      // now/segmentSize naming) — weekly buckets as epoch seconds
      val o = tbl(s, dir, "orders")
      o.withColumn("segment_epoch",
          Maintain.segmentOf(col("o_orderdate"),
            SegmentGranularity.Fixed(7L * 86400000L)).cast("long"))
        .groupBy(col("segment_epoch")).agg(count(lit(1)).as("doc_count"))
    }),

    // ---- write path: doc projection + indexer (W1-W10, S2-S5) ----
    "q_doc_projection" -> ((s, dir) => {
      // W1/W4/W9/W10: lineitem → docs with composite doc-id and ISO dates
      val li = tbl(s, dir, "lineitem")
      Indexer.buildDocs(li, Seq("l_orderkey"), Seq("l_linenumber"),
          IndexConfig(), NowTs, ttlCol = None)
        .select(col("doc_id"), col("l_returnflag"), col("l_quantity"),
          col("l_shipdate"), col("IndexationDate"))
    }),
    "q_doc_collections" -> ((s, dir) => {
      // W6: collection assembly — array→JSON array, map→JSON object,
      // struct (UDT)→JSON object (reference: CStarUtils.java:258-288)
      tbl(s, dir, "customer")
        .select(col("c_custkey"),
          to_json(array(col("c_name"), col("c_mktsegment"))).as("arr_json"),
          to_json(map(lit("segment"), col("c_mktsegment"))).as("map_json"),
          to_json(struct(col("c_name"), col("c_nationkey"))).as("udt_json"))
    }),
    "q_docid_roundtrip" -> ((s, dir) => {
      // W4↔R7: doc-id synthesis and PK reconstruction are inverse
      val li = tbl(s, dir, "lineitem")
      li.select(DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")).as("doc_id"))
        .select(col("doc_id"),
          split(col("doc_id"), "-").getItem(0).cast("long").as("pk_orderkey"),
          split(col("doc_id"), "-").getItem(1).cast("int").as("ck_linenumber"))
    }),
    "q_upsert_insert_only" -> ((s, dir) => {
      // S4: insert-only = the ES `index` action — create-or-REPLACE, the
      // new document wins wholesale (reference: ElasticIndex.java:595-601)
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val existing = Indexer.latestPerKey(ev.where(col("ts") < cutoff),
        "user_id", Seq("ts", "event_id"))
      val batch = ev.where(col("ts") >= cutoff)
      Indexer.upsert(existing, batch, "user_id", Seq("ts", "event_id"),
          IndexConfig(insertOnly = true))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),
    "q_upsert_merge" -> ((s, dir) => {
      // S3 default path: ES `_update`+doc_as_upsert field merge — a null
      // (absent, discard-nulls) field in the update keeps its existing
      // value; set fields overwrite (reference: ElasticIndex.java:130, 603-614)
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val existing = Indexer.latestPerKey(ev.where(col("ts") < cutoff),
        "user_id", Seq("ts", "event_id"))
      // partial update doc: `value` only present when > 100
      val batch = ev.where(col("ts") >= cutoff)
        .withColumn("value", when(col("value") > 100, col("value")))
      Indexer.upsert(existing, batch, "user_id", Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),
    "q_postings_build" -> ((s, dir) => {
      // Inverted-index build: (token, field, doc_id) postings = the maximal
      // word-run tokenization termMatch's \b anchors see (TextIndex doc)
      val d = tbl(s, dir, "documents")
      TextIndex.buildPostings(d, "doc_id", Seq("text", "lang"), nBuckets = 16)
        .select(col("token"), col("field"), col("doc_id"))
    }),
    "q_search_indexed" -> ((s, dir) => {
      // Index-served search through a WRITTEN postings store (bucket
      // partition pruning + pushed token filters exercised end-to-end):
      // candidates from an equality probe and a prefix probe, re-verified by
      // the exact scan predicate — hash-equal to the scan executor's answer
      val d = tbl(s, dir, "documents")
      // one shared (text, lang)-postings store serves q_search_indexed,
      // q_search_indexed_dsl and q_search_pure_index (memoized — see
      // memoStore; q_postings_build stays the explicit build probe)
      val path = memoStore("postings", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostings(d, "doc_id", Seq("text", "lang"), 16), p))
      // searchStore: parameters come from the store's own sidecar
      TextIndex.searchStore(d, path, "text:spark OR text:filt*",
          IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_indexed_dsl" -> ((s, dir) => {
      // ES-DSL served from the postings store: the bool's covered `must`
      // match bounds the candidates; must_not and phrase verify on them
      val d = tbl(s, dir, "documents")
      val path = memoStore("postings", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostings(d, "doc_id", Seq("text", "lang"), 16), p))
      val store = partitioned(s, path)
      val q = """{"query":{"bool":{
                   "must":[{"match":{"text":"spark"}}],
                   "must_not":[{"term":{"lang":"de"}}],
                   "should":[{"match_phrase":{"text":"query planner"}}]}},
                 "size":100000}"""
      TextIndex.searchIndexed(d, store, q, IndexConfig(maxResults = 100000),
          Seq("doc_id"), Set("text", "lang"), 16)
        .select(col("doc_id"), col("lang"), col("_score"))
    }),
    "q_search_pure_index" -> ((s, dir) => {
      // Lucene execution model: the query (all-exact leaves) is answered
      // from postings flags alone — PK-only, so the doc store is never
      // read after the index build
      val d = tbl(s, dir, "documents")
      val path = memoStore("postings", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostings(d, "doc_id", Seq("text", "lang"), 16), p))
      val store = partitioned(s, path)
      TextIndex.searchIndexed(d, store,
          "#options:load-rows=false#text:dup AND lang:de",
          IndexConfig(), Seq("doc_id"), Set("text", "lang"), 16, pureIndex = true)
    }),
    "q_search_bm25_indexed" -> ((s, dir) => {
      // BM25 served from postings+norms only — the doc store is never read;
      // same Okapi form as q_search_bm25 over the index's word-run analyzer
      val d = tbl(s, dir, "documents")
      val postings = TextIndex.buildPostings(d, "doc_id", Seq("text"), 16)
      val norms = TextIndex.buildNorms(d, "doc_id", Seq("text"))
      TextIndex.bm25Indexed(postings, norms, "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_search_bm25_store" -> ((s, dir) => {
      // the materialized form of q_search_bm25_indexed (same oracle): the
      // postings + norms stores are written ONCE per dataset (memoized —
      // write-once is the index's semantics; see q_suggest_phrase_store)
      // and BM25 is served from disk with bucket pruning, corpus untouched
      val path = memoStore("bm25_store", dir) { p =>
        val d = tbl(s, dir, "documents")
        TextIndex.writePostings(
          TextIndex.buildPostings(d, "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.buildNorms(d, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
      }
      val postings = partitioned(s, s"$path/postings")
      val norms = StoreFs.read(s, s"$path/norms")
      TextIndex.bm25Indexed(postings, norms, "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_norms_append" -> ((s, dir) => {
      // incremental-index proof (same oracle as q_search_bm25_store): the
      // postings AND norms stores are BUILT from half the corpus and
      // brought current with appendPostings/appendNorms over the other
      // half — insert-only appends are exact, so BM25 served from the
      // appended stores must hash-equal the full-corpus oracle
      val path = memoStore("bm25_store_app", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        TextIndex.writePostings(TextIndex.buildPostings(
          d.where(half === 0), "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.appendPostings(d.where(half === 1), "doc_id", Seq("text"),
          s"$p/postings", 16)
        TextIndex.buildNorms(d.where(half === 0), "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
        TextIndex.appendNorms(d.where(half === 1), "doc_id", Seq("text"),
          s"$p/norms")
      }
      val postings = partitioned(s, s"$path/postings")
      val norms = StoreFs.read(s, s"$path/norms")
      TextIndex.bm25Indexed(postings, norms, "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_bm25_store_delete" -> ((s, dir) => {
      // the data-LEAVES proof for the BM25 store group (r13, the
      // q_ngram_store_subtract convention): build postings+norms over the
      // FULL corpus, deleteDocs a slice by key (norms is the live-docs
      // authority: N, avgdl, and df all derive from the norms join, so
      // serving reflects the deletes immediately), then purgeDeadPostings
      // reclaims the dead rows physically. Served BM25 must hash-equal the
      // direct SQL restricted to the survivors on BOTH sides — scored docs
      // and corpus statistics.
      val path = memoStore("bm25_store_del", dir) { p =>
        val d = tbl(s, dir, "documents")
        TextIndex.writePostings(
          TextIndex.buildPostings(d, "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.buildNorms(d, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
        TextIndex.deleteDocs(s, s"$p/norms",
          d.where(col("doc_id") % 7 === 0).select("doc_id"))
        TextIndex.purgeDeadPostings(s, s"$p/postings", s"$p/norms")
      }
      val postings = partitioned(s, s"$path/postings")
      val norms = StoreFs.read(s, s"$path/norms")
      TextIndex.bm25Indexed(postings, norms, "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_bm25_upsert_store" -> ((s, dir) => {
      // EDIT-tolerant maintenance proof (same oracle as
      // q_search_bm25_store): the VERSIONED stores seed from half the
      // corpus with POLLUTED text (an extra stale token per doc, gen 0);
      // then EVERY doc — including the polluted half, edited back to its
      // true text — upserts at gen 1: appendPostings stamps the fresh
      // rows, upsertNorms merges by key, and bm25Indexed's live-row
      // filter (postings gen == the doc's current norms gen) drops the
      // whole stale generation, so BM25 served from the upserted stores
      // must hash-equal the full-corpus oracle. This is the batch twin of
      // StreamingIndexer.upsertStreamServed's per-micro-batch maintenance.
      val path = memoStore("bm25_store_upsert", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        val polluted = d.where(half === 0)
          .withColumn("text", concat(col("text"), lit(" zzstaletoken")))
        TextIndex.writePostings(
          TextIndex.buildPostings(polluted, "doc_id", Seq("text"), 16)
            .withColumn("gen", lit(0L)), s"$p/postings")
        TextIndex.buildNorms(polluted, "doc_id", Seq("text"))
          .withColumn("gen", lit(0L))
          .write.mode("overwrite").parquet(s"$p/norms")
        TextIndex.appendPostings(d, "doc_id", Seq("text"), s"$p/postings",
          16, gen = Some(1L))
        TextIndex.upsertNorms(d, "doc_id", Seq("text"), s"$p/norms",
          gen = Some(1L))
      }
      val postings = partitioned(s, s"$path/postings")
      val norms = StoreFs.read(s, s"$path/norms")
      TextIndex.bm25Indexed(postings, norms, "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
    }),
    "q_index_create" -> ((s, dir) => {
      // M1+M2 physically: write the doc table partitioned by segment, read
      // it back, count per partition — create/roll as partition layout
      val o = tbl(s, dir, "orders")
        .withColumn("segment", date_format(col("o_orderdate"), "yyyy-MM"))
      val path = tmpDir("index_create")
      Indexer.writeSegmented(o, path) // segment-clustered partitioned write
      StoreFs.read(s, path)
        .groupBy(col("segment")).agg(count(lit(1)).as("doc_count"))
    }),
    "q_ingest_processors" -> ((s, dir) => {
      // the extended processor library in one chain: dissect, fingerprint
      // (SHA-256 of joined fields), split+join, kv (str_to_map), date —
      // every step a codegen'd column transform
      val docs = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("source"),
        concat(col("source"), lit(":"), col("lang")).as("line"),
        lit("a=1;b=2").as("props"),
        lit("2024-01-15").as("d"))
      val pipe = IngestPipeline.compile(
        """{"processors": [
            {"dissect": {"field": "line", "pattern": "%{src_part}:%{lang_part}"}},
            {"fingerprint": {"fields": ["lang", "source"],
              "target_field": "fp", "method": "SHA-256"}},
            {"split": {"field": "source", "separator": "rc"}},
            {"join": {"field": "source", "separator": "-"}},
            {"kv": {"field": "props", "field_split": ";", "value_split": "=",
              "target_field": "kvm"}},
            {"date": {"field": "d", "formats": ["yyyy-MM-dd"],
              "target_field": "ts"}}]}""")
      pipe(docs).select(col("doc_id"), col("src_part"), col("lang_part"),
        col("fp"), col("source").as("split_join"),
        element_at(col("kvm"), "b").as("kv_b"),
        Tsx.micros(col("ts")).as("ts_us"))
    }),
    "q_ingest_pipeline" -> ((s, dir) => {
      // S4: ingest pipeline — the update batch is shaped by the compiled
      // processor chain, then lands with insert (create-or-replace)
      // semantics, exactly the reference's usePipeline write path
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val existing = d.where(col("doc_id") < 300)
        .withColumn("lang", upper(col("lang")))
        .withColumn("curated", lit("no"))
      val updates = d.where(col("doc_id") >= 200 && col("doc_id") < 500)
      val cfg = IndexConfig(pipeline = Some("""{"processors":[
        {"lowercase":{"field":"lang"}},
        {"gsub":{"field":"source","pattern":"^src","replacement":"origin-"}},
        {"set":{"field":"curated","value":"yes"}},
        {"convert":{"field":"n_chars","type":"long"}}]}"""))
      Indexer.upsert(existing.withColumn("n_chars", col("n_chars").cast("long")),
          updates, "doc_id", Seq("doc_id"), cfg)
    }),
    "q_upsert_lww" -> ((s, dir) => {
      // S3/W11: last-write-wins upsert — latest event per user
      Indexer.latestPerKey(tbl(s, dir, "events"), "user_id", Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),
    "q_delete_antijoin" -> ((s, dir) => {
      // S5: delete docs whose source rows were removed (finished orders)
      val docs = tbl(s, dir, "lineitem")
        .withColumn("doc_id", DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")))
      val deletes = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      Indexer.delete(docs, deletes, Seq("l_orderkey"))
        .select(col("doc_id"))
    }),
    "q_delete_by_query" -> ((s, dir) => {
      // S5 DSL form: _delete_by_query — drop docs a bool body matches;
      // docs with a NULL predicate (field missing) survive, ES semantics
      Indexer.deleteByQuery(tbl(s, dir, "documents"),
        """{"query": {"bool": {"must": [
              {"term": {"lang": "de"}},
              {"range": {"n_chars": {"gte": 200}}}]}}}""")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    "q_update_by_query" -> ((s, dir) => {
      // _update_by_query scriptless analog: declarative SET list applied in
      // ONE projection against the original row (no chained withColumn)
      Indexer.updateByQuery(tbl(s, dir, "documents"),
        """{"query": {"term": {"lang": "fr"}}}""",
        Map("source" -> upper(col("source")),
            "n_chars" -> (col("n_chars") + 1000L)))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "q_bulk_ndjson" -> ((s, dir) => {
      // S3 wire format: ES bulk-API action+payload per doc (reference
      // upsert template, ElasticIndex.java:130)
      val docs = tbl(s, dir, "lineitem")
        .select(DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")).as("doc_id"),
          col("l_returnflag"), col("l_linestatus"))
      Indexer.toBulkNdjson(docs, "lineitem_index@")
    }),
    "q_bulk_roundtrip" -> ((s, dir) => {
      // S3 sink → S-source inverse: render docs to ES bulk NDJSON, parse
      // them back — doc ids and fields must round-trip exactly
      val docs = tbl(s, dir, "lineitem")
        .select(DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")).as("doc_id"),
          col("l_returnflag"), col("l_linestatus"))
      val bulk = Indexer.toBulkNdjson(docs, "lineitem_index@").select("bulk")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("l_linestatus",
          org.apache.spark.sql.types.StringType)))
      // no orderBy: the driver compare sorts rows itself, and a global sort
      // here would re-run the whole parse pipeline for the range
      // partitioner's sampling pass (measured: +5 s on 600k docs for a
      // purely cosmetic ordering)
      Indexer.fromBulkNdjson(bulk, schema)
    }),
    "q_ingest_exactly_once" -> ((s, dir) => {
      // W12 analog: a replayed mutation batch (commit-log replay / duplicate
      // delivery) collapses to exactly one row per (key, mutation id)
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      val replayed = ev.unionAll(ev) // simulate duplicate delivery
      Indexer.exactlyOnce(replayed, "user_id", "event_id")
    }),
    "q_shard_prune" -> ((s, dir) => {
      // R8 analog: xxhash64 shard filters form a disjoint cover — the union
      // of all shards reproduces the table exactly (verified against the
      // raw per-PK multiplicities)
      val li = tbl(s, dir, "lineitem")
      val nShards = 4
      (0 until nShards)
        .map(sh => Indexer.shardFilter(li, Seq("l_orderkey", "l_linenumber"), nShards, sh)
          .select(col("l_orderkey"), col("l_linenumber")))
        .reduce(_ unionAll _)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_analytic_mode" -> ((s, dir) => {
      // M6: analytic mode suppresses deletes — docs outlive their source
      // rows (reference: EsSecondaryIndex.java:413; README.md:465-469)
      val docs = tbl(s, dir, "lineitem")
        .withColumn("doc_id", DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")))
      val deletes = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      Indexer.delete(docs, deletes, Seq("l_orderkey"),
          IndexConfig(analyticMode = true))
        .select(col("doc_id"))
    }),
    "q_search_dsl_exists" -> ((s, dir) => {
      // R3: exists operator over a nullable field
      val ev = tbl(s, dir, "events").withColumn("big_val",
        when(col("value") > 150, col("value")))
      Search.search(ev, """{"query":{"exists":{"field":"big_val"}},"size":1000000}""",
          IndexConfig(maxResults = 1000000), Seq("event_id"))
        .select(col("event_id"), col("big_val"), col("_score"))
    }),
    "q_search_dsl_terms" -> ((s, dir) => {
      // R3: `terms` — exact-value disjunction (ES terms query)
      val q = """{"query":{"terms":{"event_type":["click","purchase"]}},"size":1000000}"""
      Search.search(tbl(s, dir, "events"), q, IndexConfig(maxResults = 1000000), Seq("event_id"))
        .select(col("event_id"), col("event_type"), col("_score"))
    }),
    "q_search_dsl_msm" -> ((s, dir) => {
      // R3: bool.minimum_should_match — at least 2 of 3 should clauses
      val q = """{"query":{"bool":{
                   "should":[{"term":{"l_returnflag":"R"}},
                             {"term":{"l_linestatus":"F"}},
                             {"range":{"l_quantity":{"gte":30}}}],
                   "minimum_should_match":2}},"size":1000000}"""
      val docs = tbl(s, dir, "lineitem")
        .withColumn("doc_id", DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")))
      Search.search(docs, q, IndexConfig(maxResults = 1000000), Seq("doc_id"))
        .select(col("doc_id"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("_score"))
    }),
    "q_types_decimal" -> ((s, dir) => {
      // §1.3: decimal / varint handling — exact decimal arithmetic inside
      // the doc pipeline, serialized as strings on the wire exactly like the
      // reference (CStarUtils.java:234-236: every cell value → String).
      // String output also sidesteps decimal-normalization skew between
      // compare harnesses (the round-1 hash miss).
      tbl(s, dir, "lineitem")
        .select(DocModel.docId(Seq("l_orderkey"), Seq("l_linenumber")).as("doc_id"),
          col("l_extendedprice").cast("decimal(18,2)").cast("string").as("price_dec"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("string").as("total_dec"))
    }),
    "q_empty_update_skip" -> ((s, dir) => {
      // W3: a doc whose live fields are all null produces no write
      val ev = tbl(s, dir, "events").select(col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("f1"),
        when(col("value") > 100, col("value")).as("f2"))
      DocModel.skipEmpty(ev, Seq("f1", "f2"))
    }),
    "q_discard_nulls" -> ((s, dir) => {
      // W2: discard-nulls=true drops null fields; false keeps JSON nulls
      val ev = tbl(s, dir, "events").select(col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("et"),
        col("user_id"))
      ev.select(col("event_id"),
          DocModel.docJson(IndexConfig(discardNulls = true),
            col("et"), col("user_id")).as("doc_discard"),
          DocModel.docJson(IndexConfig(discardNulls = false),
            col("et"), col("user_id")).as("doc_keep"))
    }),
    "q_flatten" -> ((s, dir) => {
      // W8: json-flat-serialized-fields via the native json_flatten expression
      tbl(s, dir, "events")
        .select(col("event_id"),
          element_at(element_at(json_flatten(col("props")), "k"), 1).as("k_flat"))
    }),
    "q_json_serialized" -> ((s, dir) => {
      // W7: a string column treated as structured JSON, searchable by key
      val parsed = tbl(s, dir, "events")
        .withColumn("k",
          graft.functions.functions.json_get(col("props"), lit("k")).cast("int"))
      parsed.where(col("k") >= 50)
        .select(col("event_id"), col("k"))
    }),
    "q_types_blob" -> ((s, dir) => {
      // §1.3: blob columns are not indexed — placeholder "<N> bytes"
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      docs.select(col("doc_id"),
          DocModel.convert("payload", org.apache.spark.sql.types.BinaryType).as("blob_repr"))
    }),

    // ---- maintenance plane (M2-M7) ----
    "q_maintain_truncate" -> ((s, dir) => {
      // M7: truncate preserves schema, empties the doc set
      Maintain.truncate(tbl(s, dir, "lineitem").select(col("l_orderkey")))
    }),
    "q_maintain_drop" -> ((s, dir) => {
      // M8: drop is physical — delete segment partition directories, then
      // read back what survived (a metadata operation, never a data rewrite)
      val o = tbl(s, dir, "orders")
        .withColumn("segment", date_format(col("o_orderdate"), "yyyy-MM"))
      val path = tmpDir("maintain_drop")
      Indexer.writeSegmented(o, path)
      // keep 1995+; everything earlier is dropped directory-by-directory
      Maintain.dropSegmentDirs(s, path, "segment", seg => seg >= "1995-01")
      StoreFs.read(s, path)
        .groupBy(col("segment")).agg(count(lit(1)).as("doc_count"))
    }),
    "q_zorder" -> ((s, dir) => {
      // z-order clustering rewrite: rows pass through unchanged (the
      // oracle is the identity projection) — locality and partitioning
      // shape are spec-proven (MaintainSpec/PlanSpec)
      Maintain.zorderRewrite(tbl(s, dir, "events"), "user_id", "value")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("long").as("value_x100"))
    }),
    "q_maintain_compact" -> ((s, dir) => {
      // small-file compaction: fragment the store (8 files per segment,
      // the incremental-upsert aftermath), compact, read back — the
      // physical rewrite must not touch a single row. Year segments keep
      // the demo's setup write cheap; the 'y' prefix pins the partition
      // value to string (bare "1992" would infer as int on read-back)
      val o = tbl(s, dir, "orders")
        .withColumn("segment", concat(lit("y"), date_format(col("o_orderdate"), "yyyy")))
      val path = tmpDir("maintain_compact")
      o.repartition(8).write.mode("overwrite").partitionBy("segment").parquet(path)
      Maintain.compactSegments(s, path, "segment")
      StoreFs.read(s, path)
        .groupBy(col("segment")).agg(count(lit(1)).as("doc_count"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),
    "q_dummy_mode" -> ((s, dir) => {
      // M13: dummy mode — upserts and deletes are no-ops; the store must
      // hash-equal its untouched self (reference EsDummyIndex.java:31-113)
      val store = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val cfg = IndexConfig(dummy = true)
      val afterUpsert = Indexer.upsert(store,
        store.withColumn("lang", lit("xx")), "doc_id", Seq("doc_id"), cfg)
      val afterDelete = Indexer.delete(afterUpsert,
        store.where(col("doc_id") < 100), Seq("doc_id"), cfg)
      afterDelete
    }),
    "q_segment_roll" -> ((s, dir) => {
      // M2: segments are partition values of date_trunc(granularity)
      val o = tbl(s, dir, "orders")
      o.withColumn("segment", Maintain.segmentOf(col("o_orderdate"), SegmentGranularity.Month))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("doc_count"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),
    "q_segment_purge" -> ((s, dir) => {
      // M3: list segments still holding live docs (empty ones get dropped)
      val ev = tbl(s, dir, "events").where(col("event_type") === "purchase")
        .withColumn("segment", Maintain.segmentOf(col("ts"), SegmentGranularity.Day))
      Maintain.liveSegments(ev, "segment")
    }),
    "q_ttl_expire" -> ((s, dir) => {
      // M4: doc-level TTL — keep docs alive at `now` (+ ttl-shift)
      val docs = tbl(s, dir, "events")
        .withColumn("_cassandraTtl",
          Tsx.seconds(col("ts")) + floor(col("value") * 1000).cast("long"))
      // "now" mid-way through the events window so expiry actually splits it
      Maintain.ttlFilter(docs, 1705276800L /* 2024-01-15T00:00:00Z */,
          IndexConfig(ttlShiftSec = 3600))
        .select(col("event_id"), col("_cassandraTtl"))
    }),
    "q_segment_ttl_drop" -> ((s, dir) => {
      // M5: drop whole segments older than the watermark (partition prune)
      val o = tbl(s, dir, "orders")
        .withColumn("segment", Maintain.segmentOf(col("o_orderdate"), SegmentGranularity.Month))
      Maintain.dropExpiredSegments(o, "segment",
          java.sql.Timestamp.valueOf("1999-01-01 00:00:00"))
        .groupBy(col("segment")).agg(count(lit(1)).as("doc_count"))
    }),

    // ---- north star: dedup (exact + MinHash + SimHash + Jaccard + cosine) ----
    // ---- ES-DSL aggregations (the user surface the reference delegates
    // to ES: terms / date_histogram / histogram / range buckets + metric
    // sub-aggs, compiled to one hash-aggregate plan each) ----
    "q_agg_terms" -> ((s, dir) => {
      // filtered terms agg with an avg sub-agg: "of docs matching 'spark',
      // bucket by lang, top-5 by count, average doc length per bucket"
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"match": {"text": "spark"}},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5},
              "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""")
    }),
    "q_agg_terms_order" -> ((s, dir) => {
      // the dashboard shape ES users hit first beyond the default: buckets
      // ordered by a metric sub-agg (not count), thinned by min_doc_count
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"match": {"text": "spark"}},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5,
              "order": {"avg_chars": "desc"}, "min_doc_count": 2},
              "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""")
    }),
    "q_agg_date_histogram" -> ((s, dir) => {
      // events per calendar day with a sum metric (double sums rounded on
      // both sides — partial-aggregate order differs from DuckDB's scan)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"total_value": {"sum": {"field": "value"}}}}}}""")
        .select(col("key"), col("doc_count"),
          round(col("total_value"), 2).as("total_value"))
    }),
    "q_agg_date_fixed" -> ((s, dir) => {
      // fixed_interval frames: epoch-anchored 6h buckets (pure long
      // micros arithmetic on both sides — no calendar, no cast rounding)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_6h": {"date_histogram":
              {"field": "ts", "fixed_interval": "6h"},
            "aggs": {"total_value": {"sum": {"field": "value"}}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"),
          round(col("total_value"), 2).as("total_value"))
    }),
    "q_agg_date_tz" -> ((s, dir) => {
      // fixed 1d frames bucketed in UTC+05:00 with a +3h offset — the
      // dashboard timezone shape; one anchor shift in exact long micros
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram": {"field": "ts",
            "fixed_interval": "1d", "time_zone": "+05:00",
            "offset": "+3h"}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"))
    }),
    "q_agg_terms_include" -> ((s, dir) => {
      // include regex + exclude shape the bucket key set before the scan
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"langs": {"terms": {"field": "lang",
              "include": "en|de|es|fr", "exclude": "d.*",
              "order": {"_key": "asc"}}}}}""")
    }),
    "q_agg_date_zero_fill" -> ((s, dir) => {
      // the continuous-axis dashboard shape: hourly purchase counts with
      // min_doc_count 0 + extended_bounds — gap hours and the forced
      // trailing frame appear as real 0-count rows (key as epoch-micros
      // BIGINT — the sessionize drift lesson)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"query": {"term": {"event_type": "purchase"}},
            "aggs": {"per_hour": {"date_histogram": {"field": "ts",
              "fixed_interval": "1h", "min_doc_count": 0,
              "extended_bounds": {"min": 1704067200000, "max": 1706659200000}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"))
    }),
    "q_agg_date_range" -> ((s, dir) => {
      // date_range buckets over the events month: early / mid / late
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"eras": {"date_range": {"field": "ts", "ranges": [
              {"to": "2024-01-10"},
              {"from": "2024-01-10", "to": "2024-01-20"},
              {"from": "2024-01-20"}]},
            "aggs": {"total": {"sum": {"field": "value"}}}}}}""")
        .select(col("key"), col("doc_count"), round(col("total"), 2).as("total"))
    }),
    "q_agg_missing" -> ((s, dir) => {
      // the missing agg standalone: docs without the (synthetically
      // nulled) field, one count row
      val docs = tbl(s, dir, "documents").withColumn("lang_n",
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
      Aggs.runSingle(docs,
        """{"aggs": {"no_lang": {"missing": {"field": "lang_n"}}}}""")
    }),
    "q_agg_terms_partition" -> ((s, dir) => {
      // terms partitioning: each term lands in exactly one hash
      // partition; the union of all partitions must equal the plain
      // terms result (the completeness contract the oracle checks)
      def part(p: Int) = Aggs.runSingle(tbl(s, dir, "documents"),
        s"""{"aggs": {"langs": {"terms": {"field": "lang", "size": 10,
            "include": {"partition": $p, "num_partitions": 2},
            "order": {"_key": "asc"}}}}}""")
      part(0).unionByName(part(1))
    }),
    "q_agg_terms_missing" -> ((s, dir) => {
      // ES `missing` param: the gate tables carry no nulls, so nullify a
      // deterministic slice in-query (identically in the oracle) and
      // bucket it under the substitute key
      val docs = tbl(s, dir, "documents")
        .withColumn("lang", when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")))
      Aggs.runSingle(docs,
        """{"aggs": {"langs": {"terms": {"field": "lang", "missing": "unknown",
              "order": {"_key": "asc"}},
            "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""")
    }),
    "q_agg_filter_global" -> ((s, dir) => {
      // the classic "my slice vs everything" pair: a query-scoped filter
      // bucket and a query-IGNORING global bucket, unioned to one frame
      val m = Aggs.run(tbl(s, dir, "events"),
        """{"query": {"term": {"event_type": "purchase"}},
            "aggs": {
              "big": {"filter": {"range": {"value": {"gte": 500}}},
                "aggs": {"total": {"sum": {"field": "value"}}}},
              "all": {"global": {},
                "aggs": {"total": {"sum": {"field": "value"}}}}}}""")
      m("big").select(lit("big").as("key"), col("doc_count"),
          round(col("total"), 2).as("total"))
        .unionByName(m("all").select(lit("all").as("key"), col("doc_count"),
          round(col("total"), 2).as("total")))
    }),
    "q_agg_sibling_max" -> ((s, dir) => {
      // sibling pipeline agg: the peak daily event-value total — a
      // second, frame-sized aggregate over the date_histogram's buckets
      Aggs.run(tbl(s, dir, "events"),
        """{"aggs": {
             "per_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
               "aggs": {"total": {"sum": {"field": "value"}}}},
             "peak": {"max_bucket": {"buckets_path": "per_day>total"}}}}""")("peak")
        .select(round(col("value"), 2).as("value"))
    }),
    "q_agg_histogram_offset" -> ((s, dir) => {
      // histogram offset: boundaries shifted by 5 — same one hash
      // aggregate, the key expression just re-anchors
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"v": {"histogram": {"field": "value", "interval": 20,
             "offset": 5},
             "aggs": {"n": {"value_count": {"field": "event_id"}}}}}}""")
        .select(col("key"), col("doc_count"), col("n"))
    }),
    "q_agg_filters_other" -> ((s, dir) => {
      // filters + other_bucket_key: the catch-all bucket rides the same
      // single-pass guarded aggregate (no second scan)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"f": {"filters": {
             "filters": {"sp": {"match": {"text": "spark"}},
                         "st": {"match": {"text": "stream"}}},
             "other_bucket_key": "rest"},
             "aggs": {"chars": {"sum": {"field": "n_chars"}}}}}}""")
        .select(col("key"), col("doc_count"), col("chars").cast("long").as("chars"))
    }),
    "q_agg_top_metrics" -> ((s, dir) => {
      // top_metrics: the value of each event type's LATEST event — argmax
      // as a map-side-combinable aggregate, no window over the corpus
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"t": {"terms": {"field": "event_type", "size": 100,
             "order": {"_key": "asc"}},
             "aggs": {"latest": {"top_metrics": {
               "metrics": {"field": "value"},
               "sort": [{"ts": "desc"}]}}}}}}""")
        .select(col("key"), col("doc_count"), col("latest_value"))
    }),
    "q_agg_cardinality_approx" -> ((s, dir) => {
      // approximate-by-contract (no oracle: DuckDB's HLL sketch differs
      // bit-for-bit) — precision_threshold opts into Spark's HLL++; the
      // exact count rides along to witness the error bound in the dump
      val approx = Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"users": {"cardinality": {"field": "user_id",
             "precision_threshold": 1000}}}}""")
      val exact = Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"users": {"cardinality": {"field": "user_id"}}}}""")
      approx.select(col("users").as("approx_users"))
        .crossJoin(exact.select(col("users").as("exact_users")))
    }),
    "q_agg_rare_terms" -> ((s, dir) => {
      // long-tail users: event users seen at most 3 times (exact counts —
      // declared divergence from ES's CuckooFilter approximation)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"query": {"term": {"event_type": "purchase"}},
            "aggs": {"rare": {"rare_terms": {"field": "user_id",
                     "max_doc_count": 3}}}}""")
        .select(col("key"), col("doc_count"))
    }),
    "q_agg_multi_terms" -> ((s, dir) => {
      // composite-key terms: (event_type, user bucket) tuples with an
      // integer-exact value metric, count-desc key-asc, top 20
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"mt": {"multi_terms": {
             "terms": [{"field": "event_type"}, {"field": "user_id"}],
             "size": 20},
             "aggs": {"events": {"value_count": {"field": "event_id"}}}}}}""")
        .select(col("event_type"), col("user_id"), col("doc_count"), col("events"))
    }),
    "q_agg_stats_bucket" -> ((s, dir) => {
      // stats_bucket + percentiles_bucket: scalar summaries of another
      // agg's bucket frame; integer-exact except avg/percentile, which are
      // floor-scaled (drift-proof)
      val out = Aggs.run(tbl(s, dir, "documents"),
        """{"aggs": {
             "src": {"terms": {"field": "source", "size": 100},
               "aggs": {"total": {"sum": {"field": "n_chars"}}}},
             "st": {"stats_bucket": {"buckets_path": "src>total"}},
             "pct": {"percentiles_bucket": {"buckets_path": "src>_count",
                     "percents": [50]}}}}""")
      out("st").crossJoin(out("pct"))
        .select(col("count"), col("min").cast("long").as("min"),
          col("max").cast("long").as("max"),
          floor(col("avg") * 100).cast("long").as("avg_x100"),
          col("sum").cast("long").as("sum"),
          floor(col("p50") * 100).cast("long").as("p50_x100"))
    }),
    "q_agg_extended_stats" -> ((s, dir) => {
      // ES extended_stats: stats + sum-of-squares + population variance/
      // stddev in ONE map-side-combinable aggregate row (order-dependent
      // doubles rounded both sides; min/max are exact passthrough)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"v": {"extended_stats": {"field": "value"}}}}""")
        .select(col("v_count"), col("v_min"), col("v_max"),
          round(col("v_avg"), 2).as("v_avg"),
          round(col("v_sum"), 2).as("v_sum"),
          round(col("v_sum_of_squares"), 2).as("v_sum_sq"),
          round(col("v_variance"), 2).as("v_variance"),
          round(col("v_std_deviation"), 2).as("v_std_dev"))
    }),
    "q_agg_weighted_avg" -> ((s, dir) => {
      // quantity-weighted mean price over lineitem — Σ(v·w)/Σ(w)
      Aggs.runSingle(tbl(s, dir, "lineitem"),
        """{"aggs": {"wavg_price": {"weighted_avg":
              {"value": {"field": "l_extendedprice"},
               "weight": {"field": "l_quantity"}}}}}""")
        .select(round(col("wavg_price"), 2).as("wavg_price"))
    }),
    "q_agg_range" -> ((s, dir) => {
      // order-value bands with flattened stats per band
      Aggs.runSingle(tbl(s, dir, "orders"),
        """{"aggs": {"bands": {"range": {"field": "o_totalprice", "ranges": [
              {"to": 100000}, {"from": 100000, "to": 300000},
              {"key": "big", "from": 300000}]},
            "aggs": {"price": {"stats": {"field": "o_totalprice"}}}}}}""")
        .select(col("key"), col("doc_count"), col("price_count"),
          col("price_min"), col("price_max"),
          round(col("price_avg"), 2).as("price_avg"),
          round(col("price_sum"), 2).as("price_sum"))
    }),
    "q_agg_histogram" -> ((s, dir) => {
      // fixed-interval histogram over event values + exact cardinality
      // (declared divergence: ES cardinality is approximate HLL)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"query": {"term": {"event_type": "click"}},
            "aggs": {"v": {"histogram": {"field": "value", "interval": 20},
              "aggs": {"users": {"cardinality": {"field": "user_id"}}}}}}""")
    }),

    "q_agg_composite" -> ((s, dir) => {
      // composite agg page 2: keyset bucket pagination over a two-source
      // tuple, resuming strictly after (A, F) — full bucket extraction as
      // bounded pages, the agg-side search_after
      Aggs.runSingle(tbl(s, dir, "lineitem"),
        """{"aggs": {"flag_status": {"composite": {"size": 10, "sources": [
              {"l_returnflag": {"terms": {"field": "l_returnflag"}}},
              {"l_linestatus": {"terms": {"field": "l_linestatus"}}}],
              "after": {"l_returnflag": "A", "l_linestatus": "F"}},
            "aggs": {"qty": {"sum": {"field": "l_quantity"}}}}}}""")
        .select(col("l_returnflag"), col("l_linestatus"), col("doc_count"),
          round(col("qty"), 2).as("qty"))
    }),
    "q_agg_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (declared divergence: ES t-digest is
      // approximate) over query-filtered events
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"query": {"term": {"event_type": "view"}},
            "aggs": {"v": {"percentiles":
              {"field": "value", "percents": [50, 90, 99]}}}}""")
        .select(round(col("v_p50"), 4).as("v_p50"),
          round(col("v_p90"), 4).as("v_p90"), round(col("v_p99"), 4).as("v_p99"))
    }),
    "q_agg_adjacency" -> ((s, dir) => {
      // adjacency_matrix: named filters + pairwise intersections from ONE
      // conditional-aggregate pass (no self-join); empty buckets omitted
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"adj": {"adjacency_matrix": {"filters": {
              "clicks": {"term": {"event_type": "click"}},
              "views": {"term": {"event_type": "view"}},
              "big": {"range": {"value": {"gte": 300}}}}}}}}""")
    }),
    "q_agg_auto_date" -> ((s, dir) => {
      // auto_date_histogram: finest ladder rung keeping <= 15 buckets,
      // then plain fixed-frame bucketing (epoch-micros integer key both
      // sides; the chosen rung surfaces as bucket_interval)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"auto": {"auto_date_histogram": {"field": "ts", "buckets": 15},
            "aggs": {"avg_value": {"avg": {"field": "value"}}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"),
          round(col("avg_value"), 2).as("avg_value"), col("bucket_interval"))
    }),
    "q_agg_rate" -> ((s, dir) => {
      // per-day value total re-expressed per hour: rate = sum·unit/interval
      // as one more column of the daily histogram's single groupBy
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"daily": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {"hourly_value": {"rate": {"unit": "hour", "field": "value"}}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"),
          round(col("hourly_value"), 2).as("hourly_value"))
    }),
    "q_agg_boxplot" -> ((s, dir) => {
      // per-event-type five-number summary — boxplot as a terms sub-agg,
      // exact quartiles (declared divergence: ES boxplot is t-digest
      // approximate)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"types": {"terms": {"field": "event_type", "size": 10},
            "aggs": {"v": {"boxplot": {"field": "value"}}}}}}""")
        .select(col("key"), col("doc_count"), col("v_min"), col("v_max"),
          round(col("v_q1"), 4).as("v_q1"), round(col("v_q2"), 4).as("v_q2"),
          round(col("v_q3"), 4).as("v_q3"))
    }),
    "q_agg_string_stats" -> ((s, dir) => {
      // corpus-wide string stats over document text: count, length
      // min/max/avg, and character-distribution Shannon entropy (the
      // CharEntropy distributed histogram aggregate)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"t": {"string_stats": {"field": "text"}}}}""")
        .select(col("t_count"), col("t_min_length"), col("t_max_length"),
          round(col("t_avg_length"), 2).as("t_avg_length"),
          round(col("t_entropy"), 2).as("t_entropy"))
    }),
    "q_agg_matrix_stats" -> ((s, dir) => {
      // pairwise second moments of (value, user_id): the flattened
      // matrix_stats cells over pairwise-complete rows
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"m": {"matrix_stats": {"fields": ["value", "user_id"]}}}}""")
        .select(col("m_count"),
          round(col("m_mean_value"), 4).as("m_mean_value"),
          round(col("m_mean_user_id"), 4).as("m_mean_user_id"),
          round(col("m_variance_value"), 4).as("m_variance_value"),
          round(col("m_variance_user_id"), 4).as("m_variance_user_id"),
          round(col("m_covariance"), 4).as("m_covariance"),
          round(col("m_correlation"), 6).as("m_correlation"))
    }),
    "q_agg_ttest" -> ((s, dir) => {
      // Welch t statistic: click values vs view values (filtered sides,
      // one aggregate pass; declared subset — statistic, not p-value)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"t": {"t_test": {
              "a": {"field": "value", "filter": {"term": {"event_type": "click"}}},
              "b": {"field": "value", "filter": {"term": {"event_type": "view"}}},
              "type": "heteroscedastic"}}}}""")
        .select(round(col("t"), 6).as("t"))
    }),
    "q_agg_mad" -> ((s, dir) => {
      // exact median absolute deviation of event values — two sort-based
      // aggregates joined by a broadcast 1-row median
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"vmad": {"median_absolute_deviation": {"field": "value"}}}}""")
        .select(round(col("vmad"), 4).as("vmad"))
    }),
    "q_agg_significant" -> ((s, dir) => {
      // significant_terms: langs over-represented among 'spark' docs vs the
      // whole corpus, JLH-scored (exact counts; ES shard approximation
      // declared out)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"match": {"text": "spark"}},
            "aggs": {"sig": {"significant_terms": {"field": "lang"}}}}""")
        .select(col("key"), col("doc_count"), col("bg_count"),
          round(col("score"), 6).as("score"))
    }),
    "q_agg_significant_bgf" -> ((s, dir) => {
      // background_filter: distinctive langs of 'spark' docs vs the
      // en/de/fr SUB-population, not the whole corpus
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"bool": {"must": [
              {"match": {"text": "spark"}},
              {"terms": {"lang": ["en", "de", "fr"]}}]}},
            "aggs": {"sig": {"significant_terms": {"field": "lang",
              "background_filter": {"terms": {"lang": ["en", "de", "fr"]}}}}}}""")
        .select(col("key"), col("doc_count"), col("bg_count"),
          round(col("score"), 6).as("score"))
    }),
    "q_agg_significant_chi" -> ((s, dir) => {
      // the chi_square heuristic over the same foreground: textbook 2x2
      // statistic, integer-exact doubles end to end
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"match": {"text": "spark"}},
            "aggs": {"sig": {"significant_terms": {"field": "lang",
              "chi_square": {}}}}}""")
        .select(col("key"), col("doc_count"), col("bg_count"),
          round(col("score"), 6).as("score"))
    }),
    "q_agg_pipeline" -> ((s, dir) => {
      // bucket-sequence pipeline aggs over the daily histogram: running
      // total, day-over-day derivative, 7-day moving average
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"total": {"sum": {"field": "value"}},
                     "cum": {"cumulative_sum": {"buckets_path": "total"}},
                     "diff": {"derivative": {"buckets_path": "total"}},
                     "ma": {"moving_avg": {"buckets_path": "_count", "window": 7}}}}}}""")
        .select(col("key"), col("doc_count"), round(col("total"), 2).as("total"),
          round(col("cum"), 2).as("cum"), round(col("diff"), 2).as("diff"),
          round(col("ma"), 2).as("ma"))
    }),
    "q_agg_moving_fn" -> ((s, dir) => {
      // moving_fn over the daily histogram: scripted windows on the
      // integer _count axis — shift 0 EXCLUDES the current bucket (the ES
      // frame), shift 1 is the trailing window. Integer max/sum: exact.
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"mx": {"moving_fn": {"buckets_path": "_count", "window": 3,
                       "script": "MovingFunctions.max(values)"}},
                     "sm": {"moving_fn": {"buckets_path": "_count", "window": 3,
                       "shift": 1,
                       "script": "MovingFunctions.sum(values)"}}}}}}""")
        .select(col("key"), col("doc_count"),
          col("mx").cast("long").as("mx"), col("sm").cast("long").as("sm"))
    }),
    "q_agg_matrix_stats" -> ((s, dir) => {
      // matrix_stats: pairwise sample statistics for two numeric fields
      // (round-2/round-4 — multi-addend float sums)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"ms": {"matrix_stats": {"fields": ["value", "user_id"]}}}}""")
        .select(col("ms_count"),
          round(col("ms_mean_value"), 2).as("mean_value"),
          round(col("ms_mean_user_id"), 2).as("mean_user_id"),
          round(col("ms_variance_value"), 2).as("variance_value"),
          round(col("ms_variance_user_id"), 2).as("variance_user_id"),
          round(col("ms_covariance"), 2).as("covariance"),
          round(col("ms_correlation"), 4).as("correlation"))
    }),
    "q_agg_var_width" -> ((s, dir) => {
      // variable_width_histogram: deterministic equal-frequency buckets
      // from exact dyadic quantile boundaries (declared divergence from
      // ES's order-dependent streaming clustering)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"vw": {"variable_width_histogram":
              {"field": "value", "buckets": 4}}}}""")
        .select(round(col("key"), 4).as("key"), col("min"), col("max"),
          col("doc_count"))
    }),
    "q_agg_cumulative_card" -> ((s, dir) => {
      // cumulative_cardinality: distinct users seen up to each day (the
      // "total unique users" dashboard line) — exact first-occurrence
      // derivation (ES merges HLL sketches; declared divergence)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"daily": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"daily_users": {"cardinality": {"field": "user_id"}},
                     "total_users": {"cumulative_cardinality":
                       {"buckets_path": "daily_users"}}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"),
          col("daily_users"), col("total_users"))
    }),
    "q_agg_moving_pctl" -> ((s, dir) => {
      // moving_percentiles over the daily doc_count axis: trailing-week
      // p25/p50/p75 (dyadic percents — integer inputs interpolate to exact
      // dyadic rationals, so floor-scaling is bit-stable on any engine)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"mp": {"moving_percentiles": {"buckets_path": "_count",
              "window": 7, "shift": 1, "percents": [25, 50, 75]}}}}}}""")
        .select(Tsx.micros(col("key")).as("key_us"), col("doc_count"),
          floor(col("mp_p25") * 100).cast("long").as("mp_p25_x100"),
          floor(col("mp_p50") * 100).cast("long").as("mp_p50_x100"),
          floor(col("mp_p75") * 100).cast("long").as("mp_p75_x100"))
    }),
    "q_agg_normalize" -> ((s, dir) => {
      // normalize percent_of_sum under terms: each source's share of the
      // corpus character mass. Drift-proof: integer sums, one IEEE
      // division (correctly rounded, bit-identical), exact floor → BIGINT.
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"src": {"terms": {"field": "source", "size": 100},
            "aggs": {"total": {"sum": {"field": "n_chars"}},
                     "share": {"normalize": {"buckets_path": "total",
                       "method": "percent_of_sum"}}}}}}""")
        .select(col("key"), col("doc_count"),
          col("total").cast("long").as("total"),
          floor(col("share") * 10000).cast("long").as("share_x10k"))
    }),
    "q_agg_percentile_ranks" -> ((s, dir) => {
      // percentile_ranks: exact empirical CDF at three probe values
      // (declared divergence from ES t-digest interpolation). Integer
      // counts × 100.0 / count is one correctly-rounded division both
      // sides; floor-scaled to BIGINT.
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"pr": {"percentile_ranks":
              {"field": "value", "values": [100, 250, 400]}}}}""")
        .select(floor(col("pr_100") * 100).cast("long").as("pr_100_x100"),
          floor(col("pr_250") * 100).cast("long").as("pr_250_x100"),
          floor(col("pr_400") * 100).cast("long").as("pr_400_x100"))
    }),
    "q_agg_bucket_script" -> ((s, dir) => {
      // bucket_script (params arithmetic) chained into bucket_selector,
      // plus serial_diff — over an integer-exact histogram frame. The
      // derived avg is floor-scaled to BIGINT (drift-proof: integer sums,
      // one IEEE division, exact floor — no round() hazard)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"h": {"histogram": {"field": "n_chars", "interval": 200},
            "aggs": {"total": {"sum": {"field": "n_chars"}},
                     "avg_chars": {"bucket_script": {
                       "buckets_path": {"t": "total", "c": "_count"},
                       "script": "params.t / params.c"}},
                     "dd": {"serial_diff": {"buckets_path": "_count", "lag": 1}},
                     "keep": {"bucket_selector": {
                       "buckets_path": {"c": "_count"},
                       "script": "params.c >= 5"}}}}}}""")
        .select(col("key").cast("long").as("key"), col("doc_count"),
          col("total").cast("long").as("total"),
          floor(col("avg_chars") * 100).cast("long").as("avg_chars_x100"),
          col("dd").cast("long").as("dd"))
    }),
    "q_agg_bucket_sort" -> ((s, dir) => {
      // bucket_sort under terms: re-order the selected buckets by a metric
      // and cut a from/size page — the dashboard pagination idiom
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"src": {"terms": {"field": "source", "size": 100},
            "aggs": {"total": {"sum": {"field": "n_chars"}},
                     "page": {"bucket_sort": {"sort": [{"total": "desc"}],
                              "from": 1, "size": 3}}}}}}""")
        .select(col("key"), col("doc_count"), col("total").cast("long").as("total"))
    }),
    "q_agg_filters" -> ((s, dir) => {
      // named-filter buckets from ONE corpus pass (guarded aggregates, no
      // unions of scans) — the dashboard shape
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"f": {"filters": {"filters": {
              "clicks": {"term": {"event_type": "click"}},
              "big": {"range": {"value": {"gte": 400}}}}},
            "aggs": {"avg_value": {"avg": {"field": "value"}}}}}}""")
        .select(col("key"), col("doc_count"),
          round(col("avg_value"), 2).as("avg_value"))
    }),
    "q_agg_nested" -> ((s, dir) => {
      // two-level buckets: per calendar day, the top-2 event types with a
      // per-pair avg metric — the dominant nested ES shape; the inner cap
      // is a window partitioned by the outer key (bounded per bucket)
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"per_day": {"date_histogram":
              {"field": "ts", "calendar_interval": "day"},
            "aggs": {"event_type": {"terms": {"field": "event_type", "size": 2},
              "aggs": {"avg_value": {"avg": {"field": "value"}}}}}}}}""")
        .select(col("key"), col("event_type"), col("doc_count"),
          round(col("avg_value"), 2).as("avg_value"), col("bucket_rank"))
    }),
    "q_agg_indexed" -> ((s, dir) => {
      // index-accelerated aggregation: the same terms agg as q_agg_terms,
      // but the doc source is pruned to postings candidates first — the
      // exact predicate re-applies over candidates, so the oracle is the
      // plain scan-semantics SQL (identical-by-construction). Candidates
      // come from the WRITTEN memoized postings store (bucket-pruned disk
      // read), so the bench measures the operator's serve cost — the
      // production shape, where the index exists before the aggregation
      val docs = tbl(s, dir, "documents")
      val path = memoStore("postings", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 16), p))
      val postings = partitioned(s, path)
      Aggs.runIndexed(docs, postings,
        """{"query": {"match": {"text": "spark"}},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5},
              "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""",
        indexedFields = Set("text", "lang"), nBuckets = 16)("by_lang")
    }),
    "q_index_terms_agg" -> ((s, dir) => {
      // terms agg over an analyzed text field served from the postings
      // store alone — the corpus is never scanned (ES fielddata analog;
      // index-analyzer tokens, [a-z0-9_] runs). Reads the memoized
      // written store, so the bench measures the serve cost
      val docs = tbl(s, dir, "documents")
      val path = memoStore("postings", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 16), p))
      val postings = partitioned(s, path)
      TextIndex.termsAggIndexed(postings, "text", k = 200)
    }),
    "q_agg_top_hits" -> ((s, dir) => {
      // per-bucket top docs: the 2 highest-value events of each event_type
      // (explicit sort + id tiebreak — deterministic-order contract)
      Aggs.topHits(tbl(s, dir, "events"),
        """{"aggs": {"by_type": {"terms": {"field": "event_type"},
              "aggs": {"best": {"top_hits":
                {"size": 2, "sort": [{"value": "desc"}]}}}}}}""",
        idCol = "event_id")
        .select(col("key"), col("event_id"), col("value"), col("hit_rank"))
    }),

    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(tbl(s, dir, "documents"), "text", "doc_id")
    }),
    "q_dedup_jaccard" -> ((s, dir) => {
      // exact n-gram Jaccard verifier on a bounded slice (all-pairs is the
      // verifier behind MinHash candidates, not a corpus-wide pass)
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 200)
      Dedup.jaccardPairs(docs, "text", "doc_id", threshold = 0.6)
    }),
    "q_dedup_corpus" -> ((s, dir) => {
      // end-to-end near-dup removal (LSH pairs -> connected components ->
      // keep canonical min-id member per cluster). Oracle: exact jaccard
      // pairs (LSH recall 1.0 on this corpus) + recursive-CTE transitive
      // closure — the same clusters, computed declaratively.
      pipeline.Dedup.dedupCorpus(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"))
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      // MinHash-LSH candidates verified exactly at jaccard>=0.5. Oracle:
      // exact all-pairs shingle-jaccard — valid because banded-LSH recall
      // is exactly 1.0 on this corpus (verified: 25/25 pairs); the
      // verification step makes precision exact by construction.
      Dedup.minhashPairs(tbl(s, dir, "documents"), "text", "doc_id")
    }),
    "q_dedup_minhash_salted" -> ((s, dir) => {
      // same pairs with the verify joins' threshold salting FORCED on
      // (saltAt=1 → every candidate id is "hot" and spreads over 4 salts):
      // proves against the exact-jaccard oracle that the skew path is
      // output-invariant. Conf reads happen at plan construction, so the
      // finally-reset can't leak into other queries.
      s.conf.set("graft.skew.saltAt", "1")
      s.conf.set("graft.skew.saltFactor", "4")
      try Dedup.minhashPairs(tbl(s, dir, "documents"), "text", "doc_id")
      finally {
        s.conf.unset("graft.skew.saltAt")
        s.conf.unset("graft.skew.saltFactor")
      }
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // continuous-ingestion dedup: sketch store holds doc_id < 300, a
      // batch of new docs (>= 300) arrives — pairs touching the batch,
      // corpus never re-paired with itself. Oracle: exact all-pairs
      // jaccard restricted to new-touching pairs (LSH recall 1.0 here).
      val docs = tbl(s, dir, "documents")
      val path = tmpDir("dedup_inc")
      Dedup.writeSketchStore(docs.where(col("doc_id") < 300), path, "text", "doc_id")
      Dedup.minhashPairsIncremental(s, path, docs.where(col("doc_id") >= 300),
          "text", "doc_id")
    }),
    "q_dedup_store_delete" -> ((s, dir) => {
      // data-LEAVES proof for the dedup sketch store (r13): a deleted
      // doc's sketch must stop emitting candidate pairs. Full-corpus
      // sketch store → deleteFromSketchStore(doc_id % 7 = 0) → pairs
      // served from the store equal exact all-pairs jaccard over the
      // SURVIVORS (q_dedup_minhash's oracle restricted on both sides —
      // LSH recall stays 1.0: deleting docs only removes pairs).
      val docs = tbl(s, dir, "documents")
      val path = tmpDir("dedup_del")
      Dedup.writeSketchStore(docs, path, "text", "doc_id")
      Dedup.deleteFromSketchStore(s, path,
        docs.where(col("doc_id") % 7 === 0).select(col("doc_id").as("id")))
      Dedup.minhashPairsFromStore(s, path)
    }),
    "q_dedup_spans" -> ((s, dir) => {
      // exact duplicate-SPAN detection (Lee-et-al-style substring dedup as
      // runs of duplicated 8-token windows). Hash candidates are re-verified
      // against exact gram text, so the oracle is the direct SQL statement
      // of the semantics — no approximation to excuse.
      Dedup.duplicateSpans(tbl(s, dir, "documents"), "text", "doc_id", n = 8)
    }),
    "q_dedup_span_removal" -> ((s, dir) => {
      // the removal end of span dedup: every duplicated-span token dropped,
      // survivors re-joined — clean_text is the normalized token stream
      Dedup.removeDuplicateSpans(tbl(s, dir, "documents"), "text", "doc_id", n = 8)
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      // rows-only: SimHash Hamming-ball pairs via pigeonhole banding
      Dedup.simhashPairs(tbl(s, dir, "documents"), "text", "doc_id", maxDist = 3)
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      // embedding-cosine near-dups from LSH buckets, oracle-checked against
      // DuckDB all-pairs list_cosine_similarity. Gate params (32 bands ×
      // 2 bits) give empirical recall 1.0 at the gate threshold (pairs sit
      // in cos [0.40, 0.52]; miss probability per pair < 1e-7) — production
      // callers trade bands down for bucket-join volume. Double math on
      // both sides so the 4-decimal rounding agrees with the oracle.
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 1000)
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.cosinePairs(emb, threshold = 0.4, bands = 32, bitsPerBand = 2)
    }),
    "q_dedup_cosine_exact" -> ((s, dir) => {
      // exact all-pairs cosine verifier on a bounded slice — oracle-checked
      // (double math on both sides; DuckDB list_cosine_similarity)
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 150)
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.cosinePairsExact(emb, threshold = 0.3)
    }),

    // ---- north star: similarity search ----
    "q_search_msearch" -> ((s, dir) => {
      // _msearch: two bodies in one call, hits tagged with the
      // response-array ordinal
      val docs = tbl(s, dir, "documents")
      Search.msearch(docs, Seq(
        """{"query": {"term": {"lang": "de"}}, "size": 10000}""",
        """{"query": {"range": {"n_chars": {"gte": 500}}}, "size": 10000}"""))
        .select(col("_msearch_index"), col("doc_id"))
    }),
    "q_search_span_near" -> ((s, dir) => {
      // span_near: 'spark' within 3 tokens of 'window', either order
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_near": {"clauses": [
              {"span_term": {"text": "spark"}},
              {"span_term": {"text": "window"}}],
            "slop": 3, "in_order": false}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_masking" -> ((s, dir) => {
      // span_field_masking: a clause from a same-source shadow field
      // re-homed onto text inside span_near — the multi-analyzer idiom;
      // the shadow column carries the identical source text
      val docs = tbl(s, dir, "documents").withColumn("shadow", col("text"))
      Search.search(docs,
        """{"query": {"span_near": {"clauses": [
              {"span_term": {"text": "merge"}},
              {"span_field_masking": {
                "query": {"span_term": {"shadow": "join"}},
                "field": "text"}}],
            "slop": 2, "in_order": true}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_first" -> ((s, dir) => {
      // span_first: docs OPENING with 'the' in the first two positions
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_first": {"match":
              {"span_term": {"text": "the"}}, "end": 2}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_or" -> ((s, dir) => {
      // span_or: a bare span OR a compound span_near clause
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_or": {"clauses": [
              {"span_term": {"text": "vector"}},
              {"span_near": {"clauses": [
                {"span_term": {"text": "sort"}},
                {"span_term": {"text": "merge"}}],
                "slop": 0, "in_order": true}}]}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_not" -> ((s, dir) => {
      // span_not: an occurrence of 'hash' NOT followed by 'join'
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_not": {
              "include": {"span_term": {"text": "hash"}},
              "exclude": {"span_near": {"clauses": [
                {"span_term": {"text": "hash"}},
                {"span_term": {"text": "join"}}],
                "slop": 0, "in_order": true}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_agg_nested_path" -> ((s, dir) => {
      // nested agg over an array-of-struct column: element-granularity
      // terms with a reverse_nested parent count and a per-bucket sum
      val orders = tbl(s, dir, "orders")
      val parents = orders.groupBy(col("o_custkey").as("doc_id"))
        .agg(collect_list(struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))).as("orders"))
      Aggs.runSingle(parents,
        """{"aggs": {"n": {"nested": {"path": "orders"},
            "aggs": {"by_status": {"terms": {"field": "orders.status"},
              "aggs": {"parents": {"reverse_nested": {}},
                       "total": {"sum": {"field": "orders.price"}}}}}}}}""")
        .select(col("key"), col("doc_count"), col("parents_doc_count"),
          round(col("total"), 2).as("total"))
    }),
    "q_agg_geo_bounds" -> ((s, dir) => {
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"box": {"geo_bounds": {"field": "loc"}}}}""")
    }),
    "q_agg_geo_centroid" -> ((s, dir) => {
      // integer-degree points: the avg is a correctly-rounded exact-sum
      // division, floor-scaled per the drift-proofing convention
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"c": {"geo_centroid": {"field": "loc"}}}}""")
        .select(expr("CAST(floor(c_lat * 1e6) AS BIGINT)").as("lat_e6"),
          expr("CAST(floor(c_lon * 1e6) AS BIGINT)").as("lon_e6"),
          col("c_count"))
    }),
    "q_agg_composite_geo" -> ((s, dir) => {
      // composite with a geotile_grid source: tile-keyed rollup paging,
      // same mercator math as the standalone agg
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"by": {"composite": {"size": 20, "sources": [
            {"tile": {"geotile_grid": {"field": "loc", "precision": 3}}}]},
          "aggs": {"n_docs": {"value_count": {"field": "doc_id"}}}}}}""")
    }),
    "q_agg_geotile" -> ((s, dir) => {
      // web-mercator tile buckets at precision 3 (45-degree tiles)
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"g": {"geotile_grid": {"field": "loc", "precision": 3}}}}""")
    }),
    "q_search_has_child" -> ((s, dir) => {
      // has_child: customers with at least one >=300k order, via the
      // join-field family frame (disjoint c…/o… id spaces)
      Search.hasChild(familyFrame(s, dir), "order",
        """{"query": {"range": {"price": {"gte": 300000}}}}""")
        .select(col("doc_id"))
    }),
    "q_search_has_child_inner" -> ((s, dir) => {
      // has_child + inner_hits: parents with their first-3 matching child
      // ids and the total — capped arrays aggregate before the join
      Search.hasChildInnerHits(familyFrame(s, dir), "order",
          """{"query": {"range": {"price": {"gte": 300000}}}}""", k = 3)
        .select(col("doc_id"),
          array_join(col("inner_hits"), ",").as("inner_ids"),
          col("inner_total"))
    }),
    "q_search_parent_id" -> ((s, dir) => {
      // parent_id: one parent's children by plain pointer equality
      Search.search(familyFrame(s, dir),
        """{"query": {"parent_id": {"type": "order", "id": "c42"}},
            "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_has_parent" -> ((s, dir) => {
      // has_parent: orders whose customer runs a negative balance
      Search.hasParent(familyFrame(s, dir), "customer",
        """{"query": {"range": {"acctbal": {"lt": 0}}}}""")
        .select(col("doc_id"))
    }),
    "q_search_dsl_nested" -> ((s, dir) => {
      // nested query: parents assembled from orders as array<struct>; at
      // least one order is BOTH status F and >= 200k — per-element
      // conjunction (a flat AND would also match customers whose F order
      // and big order are different rows)
      val orders = tbl(s, dir, "orders")
      val parents = orders.groupBy(col("o_custkey").as("doc_id"))
        .agg(collect_list(struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))).as("orders"))
      Search.search(parents,
        """{"query": {"nested": {"path": "orders", "score_mode": "none",
              "query": {"bool": {"must": [
                {"term": {"orders.status": "F"}},
                {"range": {"orders.price": {"gte": 200000}}}]}}}},
            "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_geo_bbox" -> ((s, dir) => {
      // geo_bounding_box over deterministic integer-derived points (exact
      // double math both sides)
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"geo_bounding_box": {"loc": {
              "top_left": {"lat": 40, "lon": -50},
              "bottom_right": {"lat": -10, "lon": 60}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_geo_distance" -> ((s, dir) => {
      // geo_distance: haversine on the ES mean earth radius, same formula
      // in the DuckDB oracle
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"geo_distance": {"distance": "3000km",
              "loc": {"lat": 10, "lon": 20}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_geo_polygon" -> ((s, dir) => {
      // geo_polygon: even-odd ray-cast containment in a convex CCW quad
      // (vertices at .5 offsets so no integer-derived point sits on an
      // edge); the oracle verifies with the equivalent half-plane test —
      // for a convex ring and off-boundary points the two agree exactly
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"geo_polygon": {"loc": {"points": [
              {"lat": -20.5, "lon": -60.5}, {"lat": -25.5, "lon": 40.5},
              {"lat": 30.5, "lon": 70.5}, {"lat": 45.5, "lon": -30.5}]}}},
            "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_named" -> ((s, dir) => {
      // named queries (_name): per-hit matched_queries membership, flags
      // evaluated on the same scan as the page (no second pass)
      Search.searchNamed(tbl(s, dir, "documents"),
        """{"query": {"bool": {"should": [
              {"match": {"text": {"query": "spark", "_name": "has_spark"}}},
              {"range": {"n_chars": {"gte": 400, "_name": "long_doc"}}}],
            "minimum_should_match": 1}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"),
          array_join(col("matched_queries"), ",").as("matched"))
    }),
    "q_search_geo_shape" -> ((s, dir) => {
      // geo_shape polygon WITH A HOLE over point docs: even-odd ray cast
      // across both rings (GeoJSON [lon, lat], closed rings); the oracle
      // is the convex half-plane test minus the hole box — exact for
      // off-boundary integer-derived points vs .5-offset vertices
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"geo_shape": {"loc": {"shape": {"type": "polygon",
              "coordinates": [
                [[-60.5, -20.5], [40.5, -25.5], [70.5, 30.5], [-30.5, 45.5],
                 [-60.5, -20.5]],
                [[-10.5, 0.5], [19.5, 0.5], [19.5, 20.5], [-10.5, 20.5],
                 [-10.5, 0.5]]]},
              "relation": "intersects"}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_geo_shape_envelope" -> ((s, dir) => {
      // geo_shape envelope + disjoint: everything OUTSIDE the inclusive
      // box — the negation path over docs that have the field
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"geo_shape": {"loc": {"shape": {"type": "envelope",
              "coordinates": [[-50, 40], [60, -10]]},
              "relation": "disjoint"}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_distance_feature" -> ((s, dir) => {
      // distance_feature: inverse-distance decay scoring around an origin
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"distance_feature": {"field": "loc",
              "origin": {"lat": 10, "lon": 20}, "pivot": "1000km"}},
            "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"),
          expr("CAST(floor(_score * 1e9) AS BIGINT)").as("score_e9"))
    }),
    "q_search_geo_sort" -> ((s, dir) => {
      // _geo_distance sort: nearest-first top-k around (10, 20); the id
      // tiebreak makes the LIMIT boundary deterministic on both sides
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
        """{"query": {"match_all": {}},
            "sort": [{"_geo_distance": {"loc": {"lat": 10, "lon": 20}}}],
            "size": 100}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_rank_feature" -> ((s, dir) => {
      // rank_feature saturation on a numeric field: n_chars/(n_chars+500)
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"rank_feature": {"field": "n_chars",
              "saturation": {"pivot": 500}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"),
          expr("CAST(floor(_score * 1e9) AS BIGINT)").as("score_e9"))
    }),
    "q_search_template" -> ((s, dir) => {
      // search template: typed mustache params into a bool body
      val docs = tbl(s, dir, "documents")
      Search.searchTemplate(docs,
        """{"source": {"query": {"bool": {"must": [
              {"term": {"lang": "{{lang}}"}},
              {"range": {"n_chars": {"gte": "{{min_chars}}"}}}]}},
            "size": 10000},
            "params": {"lang": "de", "min_chars": 400}}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_agg_geohash" -> ((s, dir) => {
      // geohash_grid at precision 4: exact integer interleave + base32
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"g": {"geohash_grid": {"field": "loc", "precision": 4}}}}""")
    }),
    "q_agg_geo_rings" -> ((s, dir) => {
      // geo_distance agg: ring buckets around (10, 20) in km
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"rings": {"geo_distance": {"field": "loc",
            "origin": {"lat": 10, "lon": 20}, "unit": "km",
            "ranges": [{"to": 2000}, {"from": 2000, "to": 8000},
                       {"from": 8000}]}}}}""")
    }),
    "q_search_span_containing" -> ((s, dir) => {
      // span_containing: a hash..join span (<=2 gaps) holding 'table'
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_containing": {
              "big": {"span_near": {"clauses": [
                {"span_term": {"text": "hash"}},
                {"span_term": {"text": "join"}}],
                "slop": 2, "in_order": true}},
              "little": {"span_term": {"text": "table"}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_within" -> ((s, dir) => {
      // span_within with the little term as an endpoint: the match set is
      // every big span occurrence
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_within": {
              "big": {"span_near": {"clauses": [
                {"span_term": {"text": "spark"}},
                {"span_term": {"text": "window"}}],
                "slop": 1, "in_order": true}},
              "little": {"span_term": {"text": "spark"}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_span_multi" -> ((s, dir) => {
      // span_multi: a wildcard lifted into span context, unioned with a
      // span_term under span_or
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"span_or": {"clauses": [
              {"span_multi": {"match": {"wildcard": {"text": "st?eam"}}}},
              {"span_term": {"text": "dup"}}]}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_intervals" -> ((s, dir) => {
      // intervals: any_of over an ordered all_of gap budget and a prefix
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"intervals": {"text": {"any_of": {"intervals": [
              {"all_of": {"intervals": [
                {"match": {"query": "sort"}}, {"match": {"query": "merge"}}],
                "ordered": true, "max_gaps": 2}},
              {"prefix": {"prefix": "vect"}}]}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_terms_set" -> ((s, dir) => {
      // terms_set: at least 2 of the 3 terms present (literal threshold)
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"terms_set": {"text": {
              "terms": ["hash", "join", "merge"],
              "minimum_should_match": 2}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_pinned" -> ((s, dir) => {
      // pinned: docs 5 then 3 promoted above the organic 'spark' hits —
      // the synthetic 1e6-spaced scores cross the oracle verbatim
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"pinned": {"ids": [5, 3],
              "organic": {"match": {"text": "spark"}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_term_ci" -> ((s, dir) => {
      // term case_insensitive: the exact-value compare lowercased on both
      // sides (the keyword-field idiom ES 7.10 added)
      Search.search(tbl(s, dir, "documents"),
        """{"query": {"term": {"lang": {"value": "EN",
              "case_insensitive": true}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_rule" -> ((s, dir) => {
      // query rules: the pro-segment rule fires (criteria == request
      // match_criteria) and pins 7 then 13 while excluding 21; the free-
      // segment rule stays dormant
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"rule": {
              "match_criteria": {"user_segment": "pro"},
              "ruleset": [
                {"criteria": {"user_segment": "pro"},
                 "pinned_ids": [7, 13], "excluded_ids": [21]},
                {"criteria": {"user_segment": "free"},
                 "pinned_ids": [99]}],
              "organic": {"match": {"text": "spark"}}}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_combined_fields" -> ((s, dir) => {
      // combined_fields: each term must appear in text OR lang
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"combined_fields": {
              "query": "de fast", "fields": ["text", "lang"],
              "operator": "and"}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_search_wrapper" -> ((s, dir) => {
      // wrapper: base64-smuggled term query, compiled in place
      val docs = tbl(s, dir, "documents")
      val b64 = java.util.Base64.getEncoder.encodeToString(
        """{"term": {"lang": "fr"}}""".getBytes("UTF-8"))
      Search.search(docs,
        s"""{"query": {"wrapper": {"query": "$b64"}}, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_agg_significant_text" -> ((s, dir) => {
      // significant_text: the distinctive WORDS of German docs vs the
      // whole corpus — JLH over analyzed-token document frequencies
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"query": {"term": {"lang": "de"}},
            "aggs": {"sig": {"significant_text": {"field": "text", "size": 10}}}}""")
        .select(col("key"), col("doc_count"), col("bg_count"),
          round(col("score"), 6).as("score"))
    }),
    "q_agg_significant_text_store" -> ((s, dir) => {
      // store-served twin of q_agg_significant_text (same oracle): the
      // background token statistics read from the postings + norms stores
      // (bg df = postings row count per token, bg total = norms rows),
      // so only the hit set is tokenized per call — the corpus pass moved
      // into the one-time store build. Shares the bm25_store.
      val path = memoStore("bm25_store", dir) { p =>
        val d = tbl(s, dir, "documents")
        TextIndex.writePostings(
          TextIndex.buildPostings(d, "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.buildNorms(d, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
      }
      val postings = partitioned(s, s"$path/postings")
      val norms = StoreFs.read(s, s"$path/norms")
      Aggs.significantTextFromStore(
          tbl(s, dir, "documents").where(col("lang") === "de"),
          postings, norms, "text", size = 10)
        .select(col("key"), col("doc_count"), col("bg_count"),
          round(col("score"), 6).as("score"))
    }),
    "q_agg_sampler" -> ((s, dir) => {
      // diversified_sampler: at most 2 docs per source, first 100 by id
      // (declared deterministic analog of ES's per-shard relevance
      // sample), then a terms breakdown over the sample
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"sample": {"diversified_sampler":
              {"shard_size": 100, "field": "source", "max_docs_per_value": 2},
            "aggs": {"langs": {"terms": {"field": "lang", "size": 20}}}}}}""")
    }),
    "q_search_script" -> ((s, dir) => {
      // the script FILTER: a painless-lite boolean over doc fields +
      // params, folded into the scan
      Search.search(tbl(s, dir, "events"),
        """{"query": {"script": {"script": {
              "source": "doc.value * 2 > params.floor && doc.event_type == params.t",
              "params": {"floor": 150, "t": "purchase"}}}}, "size": 100000}""",
        IndexConfig(), Seq("event_id"))
        .select(col("event_id"))
    }),
    "q_search_runtime_field" -> ((s, dir) => {
      // runtime_mappings: a query-time computed field (50-wide value
      // bucket) queried like a stored one — the script folds into the one
      // scan, nothing materialized. fmod is IEEE-exact so the bucket is an
      // exact multiple of 50 and the long cast is engine-portable
      val (docs, body) = Search.withRuntimeFields(tbl(s, dir, "events"),
        """{"runtime_mappings": {"vb": {"type": "long",
              "script": "value - value % 50"}},
            "query": {"range": {"vb": {"gte": 100}}}, "size": 10000}""")
      Search.search(docs, body, IndexConfig(), Seq("event_id"))
        .select(col("event_id"), col("vb"))
    }),
    "q_percolate" -> ((s, dir) => {
      // percolator: three stored alerting queries (Lucene-lite + DSL)
      // evaluated against every doc in ONE scan — (query_id, doc_id)
      // match pairs
      Search.percolate(tbl(s, dir, "documents"), Seq(
        "sparky" -> "text:spark",
        "de_docs" -> """{"query": {"term": {"lang": "de"}}}""",
        "big" -> """{"query": {"range": {"n_chars": {"gte": 400}}}}"""))
    }),
    "q_search_terms_lookup" -> ((s, dir) => {
      // terms LOOKUP: the terms list lives in one stored doc (here a
      // per-source lang roster) — resolved as a bounded single-doc read,
      // spliced as a literal isin before compile
      val docs = tbl(s, dir, "documents")
      val roster = docs.groupBy(col("source").as("doc_id"))
        .agg(sort_array(collect_set(col("lang"))).as("langs"))
      val body = Search.resolveTermsLookup(
        """{"query": {"terms": {"lang":
              {"index": "rosters", "id": "src7", "path": "langs"}}},
            "size": 10000}""",
        Map("rosters" -> roster))
      Search.search(docs, body, IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("lang"))
    }),
    "q_suggest_term" -> ((s, dir) => {
      // term suggester: spelling corrections from the corpus dictionary
      // within edit distance 2, ranked distance then doc frequency
      Search.termSuggest(tbl(s, dir, "documents"), "text",
          "sparc streem", size = 5)
        .select(col("token"), col("suggestion"),
          col("distance").cast("int").as("distance"), col("freq"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_term_store" -> ((s, dir) => {
      // the store-served twin (same oracle): the dictionary comes from the
      // memoized completion store summed over its contexts — one
      // vocabulary-sized scan, corpus never read at query time
      val path = memoStore("completion_store", dir)(p =>
        Search.writeCompletionStore(tbl(s, dir, "documents"), "text", p,
          contextCols = Seq("lang")))
      Search.termSuggestFromStore(s, path, "sparc streem", size = 5)
        .select(col("token"), col("suggestion"),
          col("distance").cast("int").as("distance"), col("freq"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_completion" -> ((s, dir) => {
      // completion suggester analog: prefix terms ranked by doc frequency
      Search.completionSuggest(tbl(s, dir, "documents"), "text", "str",
        size = 10)
    }),
    "q_suggest_phrase" -> ((s, dir) => {
      // phrase suggester: stupid-backoff bigram LM over corrected token
      // candidates; two-token input → the beam is exact. Score floor-scaled
      // to e9 (drift-proofing convention)
      Search.phraseSuggest(tbl(s, dir, "documents"), "text",
          "pert streem", size = 3)
        .select(col("suggestion"),
          expr("CAST(floor(score * 1e9) AS BIGINT)").as("score_e9"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_phrase_store" -> ((s, dir) => {
      // the materialized-LM form (r10): write the unigram/bigram store
      // ONCE, serve the suggestion from it — identical output to
      // q_suggest_phrase (same oracle), corpus never read at query time.
      // The store is memoized per dataset because write-once IS the
      // operator's semantics: repeat invocations (bench runs 2..n) measure
      // the SERVE cost, exactly as production would pay it.
      val path = memoStore("suggest_store", dir)(p =>
        Search.writeSuggestStore(tbl(s, dir, "documents"), "text", p))
      Search.phraseSuggestFromStore(s, path, "pert streem", size = 3)
        .select(col("suggestion"),
          expr("CAST(floor(score * 1e9) AS BIGINT)").as("score_e9"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_rebuild" -> ((s, dir) => {
      // M-plane LM freshness (r13): the suggest store is seeded from a
      // PRE-EDIT version of the corpus (a slice of docs carries different
      // text), the corpus then takes its edits, and the maintenance
      // rebuild (Maintain.rebuildSuggestStore — the cadence-parameterized
      // sanctioned freshness path for edit-heavy corpora, which the
      // additive LM store cannot absorb) swaps in the CURRENT corpus.
      // Served suggestions must equal the direct operator over the true
      // documents — q_suggest_phrase_store's oracle.
      val path = memoStore("suggest_rebuild", dir) { p =>
        val d = tbl(s, dir, "documents")
        val preEdit = d.withColumn("text",
          when(col("doc_id") % 5 === 0,
            lit("stale placeholder boilerplate text"))
            .otherwise(col("text")))
        Search.writeSuggestStore(preEdit, "text", p)
        require(Maintain.rebuildSuggestStore(d, "text", p, NowEpoch),
          "unstamped store must count as infinitely old")
      }
      Search.phraseSuggestFromStore(s, path, "pert streem", size = 3)
        .select(col("suggestion"),
          expr("CAST(floor(score * 1e9) AS BIGINT)").as("score_e9"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_store_append" -> ((s, dir) => {
      // incremental-maintenance proof (same oracle as
      // q_suggest_phrase_store): the LM store is BUILT from half the
      // corpus and brought current by appendSuggestStore over the other
      // half — counts are associative, so the served suggestion must
      // hash-equal the full-corpus oracle
      val path = memoStore("suggest_store_app", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        Search.writeSuggestStore(d.where(half === 0), "text", p)
        Search.appendSuggestStore(d.where(half === 1), "text", p)
      }
      Search.phraseSuggestFromStore(s, path, "pert streem", size = 3)
        .select(col("suggestion"),
          expr("CAST(floor(score * 1e9) AS BIGINT)").as("score_e9"),
          col("rank").cast("int").as("rank"))
    }),
    "q_suggest_completion_ctx" -> ((s, dir) => {
      // completion suggester, production form: category contexts restrict
      // the dictionary corpus, fuzzy prefix (edit distance 1 after an
      // exact first char) tolerates the typo'd prefix
      Search.completionSuggestFuzzy(tbl(s, dir, "documents"), "text",
          "sca", size = 10, contexts = Map("lang" -> Seq("en", "de")),
          fuzziness = 1, fuzzyPrefixLength = 1)
    }),
    "q_suggest_completion_store" -> ((s, dir) => {
      // the materialized dictionary form (r10, same oracle as _ctx): the
      // per-(lang, term) doc-count store is written once (memoized — see
      // q_suggest_phrase_store) and the context-filtered fuzzy completion
      // is served from it; corpus never read at query time
      val path = memoStore("completion_store", dir)(p =>
        Search.writeCompletionStore(tbl(s, dir, "documents"), "text", p,
          contextCols = Seq("lang")))
      Search.completionSuggestFromStore(s, path, "sca", size = 10,
        contexts = Map("lang" -> Seq("en", "de")),
        fuzziness = 1, fuzzyPrefixLength = 1)
    }),
    "q_completion_rebuild" -> ((s, dir) => {
      // M-plane freshness for the completion dictionary (r13, the
      // q_suggest_rebuild pattern): per-(context, term) doc counts are not
      // doc-keyed, so edits cannot subtract — the store seeds from a
      // PRE-EDIT corpus (a slice of docs polluted), the corpus takes its
      // edits, and Maintain.rebuildCompletionStore swaps in the CURRENT
      // dictionary whole (cadence-gated like M3/M4 sweeps). Served
      // completions must equal the direct operator over the true
      // documents — q_suggest_completion_store's oracle.
      val path = memoStore("completion_rebuild", dir) { p =>
        val d = tbl(s, dir, "documents")
        val preEdit = d.withColumn("text",
          when(col("doc_id") % 5 === 0,
            lit("scandal scaffold scattered placeholder"))
            .otherwise(col("text")))
        Search.writeCompletionStore(preEdit, "text", p, contextCols = Seq("lang"))
        require(Maintain.rebuildCompletionStore(d, "text", p, NowEpoch,
          contextCols = Seq("lang")),
          "unstamped store must count as infinitely old")
      }
      Search.completionSuggestFromStore(s, path, "sca", size = 10,
        contexts = Map("lang" -> Seq("en", "de")),
        fuzziness = 1, fuzzyPrefixLength = 1)
    }),
    "q_completion_store_append" -> ((s, dir) => {
      // incremental-maintenance proof (same oracle as
      // q_suggest_completion_store): dictionary built from half the
      // corpus, appendCompletionStore merges the other half's
      // per-(lang, term) doc counts — served completion must hash-equal
      // the full-corpus oracle
      val path = memoStore("completion_store_app", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        Search.writeCompletionStore(d.where(half === 0), "text", p,
          contextCols = Seq("lang"))
        Search.appendCompletionStore(d.where(half === 1), "text", p)
      }
      Search.completionSuggestFromStore(s, path, "sca", size = 10,
        contexts = Map("lang" -> Seq("en", "de")),
        fuzziness = 1, fuzzyPrefixLength = 1)
    }),
    "q_search_rrf" -> ((s, dir) => {
      // ES-8 reciprocal rank fusion: two retrievers' hit lists fused by
      // sum(1/(60+rank)); two-addend IEEE sums are order-free, so the
      // floor-scaled score is bit-stable
      val docs = tbl(s, dir, "documents")
      val r1 = Search.search(docs, "text:spark", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
      val r2 = Search.search(docs, "text:query", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
      Search.rrf(Seq(r1, r2), size = 20)
        .select(col("doc_id"),
          expr("CAST(floor(_score * 1e6) AS BIGINT)").as("score_e6"),
          col("_rrf_matched"))
    }),
    "q_rank_eval" -> ((s, dir) => {
      // _rank_eval: graded-judgment metrics for a two-request battery —
      // precision/recall@10, MRR, DCG (round-4: the ln/log2 convention)
      Search.rankEval(tbl(s, dir, "documents"), Seq(
          ("spark_query", "text:spark AND text:query",
            Map("4" -> 2, "11" -> 1, "99" -> 1, "5" -> 0)),
          ("stream_window", "text:stream AND text:window",
            Map("3" -> 1, "7" -> 2, "200" -> 1))),
          IndexConfig(), Seq("doc_id"), k = 10)
        .select(col("query_id"), round(col("precision_at_k"), 4).as("precision_at_k"),
          round(col("recall_at_k"), 4).as("recall_at_k"),
          round(col("mrr"), 4).as("mrr"), round(col("dcg"), 4).as("dcg"))
    }),
    "q_mix_temperature" -> ((s, dir) => {
      // temperature-scaled mixing (alpha 0.5): flattened domain weights +
      // keep fractions for a 2000-token budget (round-4 convention — the
      // weight normalizer is a 20-addend float sum)
      Curate.mixTemperature(tbl(s, dir, "documents"), "source", "text",
          targetTokens = 2000L, alpha = 0.5)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("weight"), 4).as("weight"),
          round(col("keep_frac"), 4).as("keep_frac"))
    }),
    "q_agg_children" -> ((s, dir) => {
      // children agg: market-segment parent buckets with child order
      // statistics — the aggregation face of the has_child relation
      Aggs.childrenAgg(tbl(s, dir, "customer"), tbl(s, dir, "orders"),
          "c_custkey", "o_custkey", "c_mktsegment", size = 10,
          childMetrics = """{"avg_price": {"avg": {"field": "o_totalprice"}}}""")
        .select(col("key"), col("doc_count"), round(col("avg_price"), 2).as("avg_price"))
    }),
    "q_agg_random_sampler" -> ((s, dir) => {
      // random_sampler: LCG-scrambled 25% Bernoulli keep on doc_id (the
      // declared deterministic analog — same integer math in the oracle),
      // then a terms breakdown over the sample
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"sample": {"random_sampler":
              {"probability": 0.25, "seed": 42},
            "aggs": {"langs": {"terms": {"field": "lang", "size": 10}}}}}}""")
    }),
    "q_agg_parent" -> ((s, dir) => {
      // parent agg: climb from finalized orders (child context) to their
      // customers and bucket the PARENT docs by market segment — each
      // customer counts once however many orders point at it
      Aggs.parentAgg(
          tbl(s, dir, "orders").where(col("o_orderstatus") === "F"),
          tbl(s, dir, "customer"),
          "o_custkey", "c_custkey", "c_mktsegment", size = 10,
          parentMetrics = """{"avg_bal": {"avg": {"field": "c_acctbal"}}}""")
        .select(col("key"), col("doc_count"),
          floor(col("avg_bal") * 100).cast("long").as("avg_bal_x100"))
    }),
    "q_agg_categorize" -> ((s, dir) => {
      // categorize_text: token-prefix signature buckets (first 3 tokens
      // after lowercasing and digit/punct collapse) — the log-pattern
      // clustering shape over free text
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"cats": {"categorize_text":
              {"field": "text", "size": 8, "max_matched_tokens": 3}}}}""")
    }),
    "q_agg_ip_range" -> ((s, dir) => {
      // ip_range over deterministic key-derived IPv4 strings: open range,
      // bounded range, and a CIDR mask bucket — pure long math both sides
      val ips = tbl(s, dir, "customer").select(
        col("c_custkey").as("doc_id"),
        concat_ws(".",
          (col("c_custkey") % 223 + 1).cast("string"),
          ((col("c_custkey") * 3) % 256).cast("string"),
          ((col("c_custkey") * 7) % 256).cast("string"),
          ((col("c_custkey") * 11) % 256).cast("string")).as("client_ip"))
      Aggs.runSingle(ips,
        """{"aggs": {"by_block": {"ip_range": {"field": "client_ip",
            "ranges": [
              {"to": "64.0.0.0"},
              {"from": "64.0.0.0", "to": "128.0.0.0"},
              {"mask": "200.0.0.0/5"}]}}}}""")
    }),
    "q_agg_ip_prefix" -> ((s, dir) => {
      // ip_prefix /12 networks over the same derived quads — masked
      // network key with the ES "/len" suffix, pure long math both sides
      val ips = tbl(s, dir, "customer").select(
        col("c_custkey").as("doc_id"),
        concat_ws(".",
          (col("c_custkey") % 223 + 1).cast("string"),
          ((col("c_custkey") * 3) % 256).cast("string"),
          ((col("c_custkey") * 7) % 256).cast("string"),
          ((col("c_custkey") * 11) % 256).cast("string")).as("client_ip"))
      Aggs.runSingle(ips,
        """{"aggs": {"nets": {"ip_prefix": {"field": "client_ip",
            "prefix_length": 12, "append_prefix_length": true}}}}""")
    }),
    "q_agg_frequent_sets" -> ((s, dir) => {
      // frequent_item_sets over (lang, source): singles + pairs above 1%
      // support — the co-occurrence mining shape; support pinned to
      // floor-scaled BIGINT (exact integer division both sides)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"fis": {"frequent_item_sets": {
            "fields": [{"field": "lang"}, {"field": "source"}],
            "minimum_set_size": 1, "minimum_support": 0.01, "size": 12}}}}""")
        .select(col("key"), col("set_size"), col("doc_count"),
          floor(col("support") * 1000000).cast("long").as("support_x1m"))
    }),
    "q_agg_change_point" -> ((s, dir) => {
      // change_point over the daily event-count sequence: the scaled
      // mean-shift argmax — integer counts keep every partial sum exact,
      // so the statistic is bit-reproducible; pinned at 1e3
      Aggs.run(tbl(s, dir, "events"),
        """{"aggs": {
             "per_day": {"date_histogram": {"field": "ts", "fixed_interval": "1d"}},
             "shift": {"change_point": {"buckets_path": "per_day>_count"}}}}""")("shift")
        .select(Tsx.micros(col("change_key")).as("change_key_us"),
          floor(col("value") * 1000).cast("long").as("stat_x1k"))
    }),
    "q_agg_bucket_corr" -> ((s, dir) => {
      // bucket_correlation: daily purchase share vs a linear ramp
      // indicator — Pearson via the exact sum-of-products identity
      Aggs.run(tbl(s, dir, "events"),
        """{"aggs": {
             "by_type": {"terms": {"field": "event_type", "size": 10}},
             "corr": {"bucket_correlation": {"buckets_path": "by_type>_count",
               "function": {"count_correlation": {"indicator": {
                 "expectations": [1, 2, 3, 4, 5]}}}}}}}""")("corr")
        .select(floor(col("value") * 1000000).cast("long").as("corr_x1m"))
    }),
    "q_agg_ks_test" -> ((s, dir) => {
      // bucket_count_ks_test: daily counts against the uniform CDF — the
      // KS D statistic, integer running sums + one division per bucket
      Aggs.run(tbl(s, dir, "events"),
        """{"aggs": {
             "per_day": {"date_histogram": {"field": "ts", "fixed_interval": "1d"}},
             "ks": {"bucket_count_ks_test": {"buckets_path": "per_day>_count",
               "fractions": [1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1,1],
               "alternative": ["two_sided"]}}}}""")("ks")
        .select(floor(col("value") * 1000000).cast("long").as("d_x1m"))
    }),
    "q_agg_composite_date" -> ((s, dir) => {
      // composite with a date_histogram source — the rollup-pagination
      // shape: (day bucket, event_type) tuple keys, exact long bucket math
      Aggs.runSingle(tbl(s, dir, "events"),
        """{"aggs": {"by": {"composite": {"size": 8, "sources": [
            {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"}}},
            {"t": {"terms": {"field": "event_type"}}}]},
          "aggs": {"v": {"avg": {"field": "value"}}}}}}""")
        .select(col("d"), col("t"), col("doc_count"),
          floor(col("v") * 100).cast("long").as("v_x100"))
    }),
    "q_agg_scripted_metric" -> ((s, dir) => {
      // scripted_metric (declared subset): per-lang sum of an arithmetic
      // map_script over doc fields — map per row, combine map-side,
      // reduce across partitions, exactly Spark's partial aggregation
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"by_lang": {"terms": {"field": "lang", "size": 5},
            "aggs": {"weight": {"scripted_metric":
              {"map_script": "n_chars * 2 + 1", "reduce": "sum"}}}}}}""")
    }),
    "q_agg_geo_line" -> ((s, dir) => {
      // geo_line: per-nation customer tracks in id order, emitted as the
      // flat "lat,lon;…" LineString analog, capped at 100 points
      val frame = tbl(s, dir, "customer").select(
        col("c_nationkey"), col("c_custkey"),
        struct((col("c_custkey") % 180 - 90).cast("double").as("lat"),
               ((col("c_custkey") * 7) % 360 - 180).cast("double").as("lon"))
          .as("loc"))
      Aggs.runSingle(frame,
        """{"aggs": {"tracks": {"terms": {"field": "c_nationkey", "size": 5},
            "aggs": {"line": {"geo_line": {"point": {"field": "loc"},
              "sort": {"field": "c_custkey"}, "size": 100}}}}}}""",
        idCol = "c_custkey")
    }),
    "q_agg_sampler_plain" -> ((s, dir) => {
      // plain sampler: the one sub-agg runs over the first shard_size docs
      // in id order (the engine's declared deterministic sample)
      Aggs.runSingle(tbl(s, dir, "documents"),
        """{"aggs": {"sample": {"sampler": {"shard_size": 100},
            "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}""")
        .select(floor(col("avg_chars") * 100).cast("long").as("avg_chars_x100"))
    }),
    "q_search_script_score" -> ((s, dir) => {
      // script_score: the script replaces the query score — arithmetic
      // over _score, doc.<field>, params.<k>, floored to the integer
      // scoring domain
      Search.search(tbl(s, dir, "documents"),
          """{"query": {"script_score": {
               "query": {"match": {"text": "spark"}},
               "script": {"source": "_score * params.w + doc.n_chars % 7",
                          "params": {"w": 100}}}},
             "size": 50}""", IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_termvectors" -> ((s, dir) => {
      // _termvectors: per-doc term stats (tf, first position) + corpus df
      Search.termVectors(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("3", "17"))
    }),
    "q_termvectors_store" -> ((s, dir) => {
      // _termvectors served from the memoized POSITIONAL postings store —
      // tf, first position, and corpus df are all index data (ES's own
      // model); the corpus is never read. Same oracle as q_termvectors.
      val d = tbl(s, dir, "documents")
      val path = memoStore("postings_pos", dir)(p => TextIndex.writePostings(
        TextIndex.buildPostingsPositional(d, "doc_id", Seq("text"), 16), p))
      TextIndex.termVectorsFromStore(s, path, "text", Seq("3", "17"))
    }),
    "q_field_caps" -> ((s, dir) => {
      // _field_caps: per-field type + searchable/aggregatable (ES's
      // no-fielddata-on-text rule) for the documents store
      import s.implicits._
      Maintain.fieldCaps(tbl(s, dir, "documents"))
        .toDF("field", "es_type", "searchable", "aggregatable")
    }),
    "q_analyze" -> ((s, dir) => {
      // _analyze: the engine's analyzer preview — token + 1-based position
      import s.implicits._
      val toks = Maintain.analyze("Spark-Streaming joins, FAST scans; merge_sort!")
      toks.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
        .toDF("token", "position")
    }),
    "q_analyze_custom" -> ((s, dir) => {
      // _analyze with a custom chain: standard tokenizer then
      // lowercase → asciifolding → stop → unique → stemmer
      import s.implicits._
      val toks = Maintain.analyzeChain(
        "Thé QUICK brown-Fox AND thé lazy Ingénieurs visits Queries",
        "standard",
        Seq("lowercase", "asciifolding", "stop", "unique", "stemmer"))
      toks.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
        .toDF("token", "position")
    }),
    "q_mget" -> ((s, dir) => {
      // _mget: batch get-by-id in REQUEST order; absent ids stay as
      // found=false rows with null doc columns (the ES response contract)
      Search.mget(tbl(s, dir, "documents"), "doc_id",
          Seq("17", "3", "999999", "42", "7"))
        .select(col("_ord"), col("_id"), col("found"),
          col("text"), col("lang"), col("source"), col("n_chars"))
    }),
    "q_scroll" -> ((s, dir) => {
      // PIT + scroll: open a snapshot, then three keyset-cursor pages of
      // 100 over the doc_id total order — each page one pruned top-k scan
      // (bulk export, the README.md:529 max-results workaround)
      val docs = tbl(s, dir, "documents")
      val snap = Scroll.read(s, Scroll.openPit(docs))
      Scroll.pages(snap.select(col("doc_id"), col("source"), col("n_chars")),
          Seq("doc_id"), pageSize = 100, maxPages = 3)
        .map { case (pg, df) => df.withColumn("page", lit(pg)) }
        .reduce(_ unionAll _)
    }),
    "q_esql_stats" -> ((s, dir) => {
      // ES|QL: filter → grouped STATS → ROUND pinning → deterministic sort,
      // the canonical analytics pipe, one hash aggregate end to end
      Esql.run(
        "FROM lineitem | WHERE l_quantity > 10 " +
          "| STATS n = COUNT(*), qty = SUM(l_quantity), hi = MAX(l_extendedprice) " +
          "BY l_returnflag, l_linestatus " +
          "| EVAL qty = ROUND(qty, 2), hi = ROUND(hi, 2) " +
          "| SORT l_returnflag, l_linestatus",
        Map("lineitem" -> tbl(s, dir, "lineitem")))
    }),
    "q_esql_mad" -> ((s, dir) => {
      // MEDIAN_ABSOLUTE_DEVIATION: exact two-aggregate plan — per-group
      // medians broadcast-joined in, then MEDIAN(ABS(x - med)) (the same
      // shape as the ES-DSL median_absolute_deviation agg)
      Esql.run(
        "FROM events | STATS vmad = MEDIAN_ABSOLUTE_DEVIATION(value), " +
          "n = COUNT(*) BY event_type " +
          "| EVAL vmad = ROUND(vmad, 4) | SORT event_type",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_to_ip" -> ((s, dir) => {
      // TO_IP validate-to-null: valid dotted quads pass through, a fifth
      // octet and an out-of-range octet both null out
      val third = pmod(col("c_custkey"), lit(3))
      val o2 = ((col("c_custkey") * 3) % 256).cast("string")
      val o3 = ((col("c_custkey") * 7) % 256).cast("string")
      val o4 = ((col("c_custkey") * 11) % 256).cast("string")
      val ip = concat_ws(".",
        (col("c_custkey") % 223 + 1).cast("string"), o2, o3, o4)
      val raw = tbl(s, dir, "customer").select(
        col("c_custkey").as("doc_id"),
        when(third === 0, ip)                       // valid
          .when(third === 1, concat(ip, lit(".9"))) // five octets
          .otherwise(concat_ws(".", lit("300"), o2, o3, o4)) // octet > 255
          .as("raw"))
      Esql.run("FROM t | EVAL ip = TO_IP(raw) | KEEP doc_id, raw, ip " +
        "| SORT doc_id", Map("t" -> raw))
    }),
    "q_esql_stats_ext" -> ((s, dir) => {
      // ES|QL late-8.x additions: STD_DEV (population), HASH with a
      // compile-time algorithm literal, REPEAT/SPACE string builders
      Esql.run(
        "FROM events " +
          "| STATS sd = STD_DEV(value), n = COUNT(*) BY event_type " +
          "| EVAL sd = ROUND(sd, 4), tag = HASH(\"md5\", event_type), " +
          "bar = REPEAT(\"ab\", 2), pad = CONCAT(SPACE(2), event_type) " +
          "| SORT event_type",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_eval" -> ((s, dir) => {
      // ES|QL: wildcard LIKE + IN filters, computed EVAL columns, KEEP
      // projection — filter and pruning both reach the scan (EsqlSpec)
      Esql.run(
        "FROM documents | WHERE lang IN (\"en\", \"fr\") AND text LIKE \"*spark*\" " +
          "| EVAL chars2 = n_chars * 2 + LENGTH(lang), " +
          "tag = CONCAT(lang, \"-\", source) " +
          "| KEEP doc_id, chars2, tag | SORT doc_id",
        Map("documents" -> tbl(s, dir, "documents")))
    }),
    "q_esql_lookup" -> ((s, dir) => {
      // ES|QL: RENAME + LOOKUP JOIN (the ENRICH face) against the customer
      // dimension, then grouped STATS — AQE broadcasts the dimension side
      Esql.run(
        "FROM orders | RENAME o_custkey AS c_custkey " +
          "| LOOKUP JOIN customer ON c_custkey " +
          "| STATS n = COUNT(*), total = SUM(o_totalprice) BY c_mktsegment " +
          "| EVAL total = ROUND(total, 2) | SORT c_mktsegment",
        Map("orders" -> tbl(s, dir, "orders"),
          "customer" -> tbl(s, dir, "customer")))
    }),
    "q_esql_dissect" -> ((s, dir) => {
      // ES|QL: DISSECT pattern extraction (literal separators → anchored
      // regex, null on non-match) feeding a grouped count
      Esql.run(
        "FROM customer | EVAL s = CONCAT(c_name, \"|\", c_mktsegment) " +
          "| DISSECT s \"%{nm}|%{seg}\" | STATS n = COUNT(*) BY seg | SORT seg",
        Map("customer" -> tbl(s, dir, "customer")))
    }),
    "q_search_retriever" -> ((s, dir) => {
      // ES 8.14 retriever tree: two standard retrievers fused by the rrf
      // node — same fusion math as q_search_rrf, reached through the
      // modern composition surface
      val docs = tbl(s, dir, "documents")
      Search.retriever(docs,
        """{"retriever": {"rrf": {
              "retrievers": [
                {"standard": {"query": {"match": {"text": "spark"}}}},
                {"standard": {"query": {"match": {"text": "query"}}}}],
              "rank_window_size": 10000, "rank_constant": 60}},
            "size": 20}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"),
          expr("CAST(floor(_score * 1e6) AS BIGINT)").as("score_e6"),
          col("_rrf_matched"))
    }),
    "q_bpe_train" -> ((s, dir) => {
      // BPE tokenizer induction: 8 greedy merges learned from corpus pair
      // statistics (rows-only contract — the iterative argmax has no SQL
      // oracle; BpeSpec pins the algorithm on hand-computed corpora)
      graft.pipeline.Bpe.train(tbl(s, dir, "documents"), "text", 8)
    }),
    "q_tokenize_ids" -> ((s, dir) => {
      // doc → input_ids export through learned BPE merges (rows-only
      // contract like q_bpe_train: the merge induction has no SQL oracle;
      // BpeSpec pins ranks, order, and round-trip on hand-built corpora)
      val d = tbl(s, dir, "documents")
      val merges = graft.pipeline.Bpe.train(d, "text", 8)
      graft.pipeline.Bpe.encodeToIds(d, "doc_id", "text", merges)
        .select(col("doc_id"), array_join(col("input_ids"), ",").as("ids"),
          col("n_tokens"))
    }),
    "q_tokenize_ids_store" -> ((s, dir) => {
      // store-served twin of q_tokenize_ids (rows-only by the same
      // contract): the tokenizer (merges + frozen vocab) is trained and
      // written once; encoding reads it back — no corpus training pass,
      // no vocab re-rank. BpeSpec pins served ≡ direct on the training
      // corpus and the frozen-vocab UNK contract on novel text.
      val path = memoStore("bpe_tokenizer", dir) { p =>
        graft.pipeline.Bpe.writeTokenizer(tbl(s, dir, "documents"),
          "text", 8, p)
      }
      graft.pipeline.Bpe.encodeToIdsFromStore(
          tbl(s, dir, "documents"), "doc_id", "text", path)
        .select(col("doc_id"), array_join(col("input_ids"), ",").as("ids"),
          col("n_tokens"))
    }),
    "q_mix_epochs" -> ((s, dir) => {
      // fractional-epoch mixing: src0 ×2 (exact), src1 ×1.3 (each doc
      // once + 30% twice by the LCG pick), src2 ×0.5, everything else
      // dropped — the oracle re-derives the exact row multiset
      Curate.mixEpochs(
          tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source",
          Map("src0" -> 2.0, "src1" -> 1.3, "src2" -> 0.5), seed = 7L)
    }),
    "q_search_index_pattern" -> ((s, dir) => {
      // index-pattern targeting: wildcard inclusion + '-' exclusion over a
      // catalog of per-lang indices, rows tagged with their _index
      val d = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("n_chars"))
      val cat = Map(
        "docs_en" -> d.where(col("lang") === "en"),
        "docs_fr" -> d.where(col("lang") === "fr"),
        "docs_de" -> d.where(col("lang") === "de"),
        "other_idx" -> d.where(!col("lang").isin("en", "fr", "de")))
      Search.indexPattern(cat, "docs_*,-docs_de")
    }),
    "q_search_indices_boost" -> ((s, dir) => {
      // indices_boost: per-index score multipliers, first pattern wins
      val d = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("text"))
      val cat = Map(
        "docs_en" -> d.where(col("lang") === "en"),
        "docs_fr" -> d.where(col("lang") === "fr"))
      val frame = Search.indexPattern(cat, "docs_*")
      val hits = Search.search(frame,
        """{"query": {"match": {"text": "spark"}}, "size": 100000}""",
        IndexConfig(maxResults = 100000), Seq("doc_id"))
      Search.indicesBoost(hits, Seq("docs_en" -> 3, "docs_*" -> 2))
        .select(col("doc_id"), col("_index"), col("_score"))
    }),
    "q_esql_metadata" -> ((s, dir) => {
      // ES|QL METADATA _index: multi-index FROM with per-row source
      // tagging, aggregated per index
      Esql.run(
        "FROM lineitem, orders METADATA _index " +
          "| STATS c = COUNT(*) BY _index | SORT _index",
        Map("lineitem" -> tbl(s, dir, "lineitem"),
          "orders" -> tbl(s, dir, "orders")))
    }),
    "q_terms_enum" -> ((s, dir) => {
      // _terms_enum: keyword autocomplete — distinct source values under
      // the prefix, ascending, capped
      Search.termsEnum(tbl(s, dir, "documents"), "source", "src1", size = 8)
    }),
    "q_search_synonyms" -> ((s, dir) => {
      // query-time synonym expansion: 'quick' also matches fast/rapid —
      // the search-analyzer synonym filter as a pre-compile DSL rewrite
      val docs = tbl(s, dir, "documents")
      val rewritten = QueryCompiler.expandSynonyms(
        """{"query": {"match": {"text": "quick spark"}}, "size": 10000}""",
        Map("quick" -> Seq("fast", "rapid")))
      Search.search(docs, rewritten, IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_search_sparse_vector" -> ((s, dir) => {
      // sparse_vector (ELSER analog): doc term-weight maps built from
      // corpus tf, scored against a literal query vector — integer tf ×
      // integer weights keeps the double dot product exact
      val docs = tbl(s, dir, "documents")
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        t => length(t) > 0)
      val tf = docs.select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("c"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("w"), col("c"))))
          .as("weights"))
      Search.search(tf,
        """{"query": {"sparse_vector": {"field": "weights",
            "query_vector": {"spark": 2, "streaming": 1}}}, "size": 20}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score").cast("long").as("score"))
    }),
    "q_reindex" -> ((s, dir) => {
      // _reindex: source query + dest ingest pipeline + store write, read
      // back from the destination — one distributed pass, no scroll+bulk
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val dest = tmpDir("reindex") + "/dest"
      Indexer.reindex(s, d, dest,
        query = Some("""{"query": {"term": {"lang": "en"}}}"""),
        pipeline = Some("""{"processors": [
            {"uppercase": {"field": "source"}},
            {"rename": {"field": "n_chars", "target_field": "chars"}}]}"""))
    }),
    "q_snapshot_restore" -> ((s, dir) => {
      // snapshot → destructive mutation → restore: the read-back must be
      // byte-identical to the pre-snapshot store (oracle = the original
      // table), proving restore undoes arbitrary damage
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = tmpDir("snapshot")
      val store = s"$base/store"
      val snap = s"$base/snap"
      d.write.mode("overwrite").parquet(store)
      Maintain.snapshot(s, store, snap)
      // damage the store: overwrite with only the non-en docs (written
      // from the source frame — overwriting a path from its own open
      // reader is the FAILED_READ_FILE trap)
      d.where(col("lang") =!= "en").write.mode("overwrite").parquet(store)
      Maintain.restore(s, snap, store)
      StoreFs.read(s, store)
    }),
    "q_search_min_score" -> ((s, dir) => {
      // min_score: the score floor drops single-term matches before the
      // page — only docs matching BOTH terms survive
      val docs = tbl(s, dir, "documents")
      Search.search(docs,
        """{"query": {"match": {"text": "spark batch"}},
            "min_score": 2, "size": 10000}""",
        IndexConfig(), Seq("doc_id"))
        .select(col("doc_id"), col("_score"))
    }),
    "q_count" -> ((s, dir) => {
      // _count endpoint: hit count of a DSL query without materializing
      // hits — the filter reaches the scan, the count is one partial-agg
      // pass (no top-k, no sort, no row load)
      val docs = tbl(s, dir, "documents")
      val pred = QueryCompiler.compile(
        """{"query": {"bool": {"must": [{"match": {"text": "spark"}}],
            "filter": [{"term": {"lang": "en"}}]}}}""",
        Int.MaxValue).predicate
      docs.where(pred).agg(count(lit(1)).as("count"))
    }),
    "q_transform_pivot" -> ((s, dir) => {
      // _transform pivot: entity-centric materialization — one hash
      // aggregate (status, month) with exact metrics
      Transform.pivot(tbl(s, dir, "orders"),
        """{"group_by": {
              "status": {"terms": {"field": "o_orderstatus"}},
              "month": {"date_histogram": {"field": "o_orderdate",
                "calendar_interval": "month"}}},
            "aggregations": {
              "n": {"value_count": {"field": "o_orderkey"}},
              "total": {"sum": {"field": "o_totalprice"}},
              "custs": {"cardinality": {"field": "o_custkey"}}}}""")
        .select(col("status"), col("month"), col("n"),
          round(col("total"), 2).as("total"), col("custs"))
    }),
    "q_transform_latest" -> ((s, dir) => {
      // _transform latest: most-recent event per user via max_by — the
      // LWW single-aggregate shape, never a window sort
      Transform.latest(tbl(s, dir, "events"),
          """{"unique_key": ["user_id"], "sort": "ts"}""")
        .select(col("user_id"), col("event_id"),
          Tsx.micros(col("ts")).as("ts_us"))
    }),
    "q_sql" -> ((s, dir) => {
      // _sql endpoint analog: indices as temp views, the query through
      // Catalyst whole, the ES-DSL `filter` compiled by QueryCompiler and
      // applied under the table reference, fetch_size = one page
      EsSql.run(s, Map("documents" -> tbl(s, dir, "documents")),
        """{"query": "SELECT lang, count(*) AS n, sum(n_chars) AS chars FROM documents GROUP BY lang ORDER BY lang",
            "fetch_size": 10,
            "filter": {"range": {"n_chars": {"gte": 200}}}}""")
    }),
    "q_sql_join" -> ((s, dir) => {
      // the cross-index join ES SQL cannot serve from one index — here
      // it's one Catalyst plan (AQE broadcasts the dimension side)
      EsSql.run(s, Map(
          "orders" -> tbl(s, dir, "orders"),
          "customer" -> tbl(s, dir, "customer")),
        """{"query": "SELECT c.c_mktsegment AS seg, count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > 150000 GROUP BY c.c_mktsegment ORDER BY seg"}""")
    }),
    "q_admin_stats" -> ((s, dir) => {
      // _stats / _cat-indices analog: doc count + per-field usage (non-null
      // cells) in ONE partial-aggregated pass — the index statistics a
      // migrating operator reads off the cluster
      val docs = tbl(s, dir, "documents")
      docs.agg(
        count(lit(1)).as("docs"),
        count(col("text")).as("text_docs"),
        count(col("lang")).as("lang_docs"),
        count(col("source")).as("source_docs"),
        count_distinct(col("lang")).as("lang_cardinality"),
        sum(length(col("text"))).as("text_bytes"))
    }),
    "q_admin_stats_segments" -> ((s, dir) => {
      // M12 analog: per-segment stats (docs, string store bytes, per-field
      // presence) for every month segment in one partial-aggregated pass
      val ev = tbl(s, dir, "events")
        .withColumn("segment", Maintain.segmentOf(col("ts"), SegmentGranularity.Month))
      Maintain.segmentStats(ev, "segment")
    }),
    "q_esql_inlinestats" -> ((s, dir) => {
      // INLINESTATS: per-group totals joined back without collapsing —
      // each first-line item carries its return-flag group total and its
      // exact share of it (floor-pinned)
      Esql.run(
        "FROM lineitem | INLINESTATS gtotal = SUM(l_quantity) BY l_returnflag " +
          "| WHERE l_linenumber == 1 " +
          "| EVAL share_e5 = TO_LONG(FLOOR(l_quantity * 100000 / gtotal)), " +
          "gtotal = ROUND(gtotal, 2) " +
          "| KEEP l_orderkey, l_returnflag, gtotal, share_e5 " +
          "| SORT l_orderkey, l_returnflag",
        Map("lineitem" -> tbl(s, dir, "lineitem")))
    }),
    "q_esql_top" -> ((s, dir) => {
      // ES|QL 8.14+ aggregates: TOP (ordered multivalue), VALUES (sorted
      // distinct), WEIGHTED_AVG — one hash aggregate, array outputs
      // surfaced through the MV functions
      Esql.run(
        "FROM events | STATS top_u = TOP(user_id, 3, \"desc\"), " +
          "vals = VALUES(event_type), " +
          "wa = ROUND(WEIGHTED_AVG(value, user_id), 2), n = COUNT(*) " +
          "BY band = TO_LONG(user_id % 3) " +
          "| EVAL u1 = MV_FIRST(top_u), u3 = MV_LAST(top_u), " +
          "u2 = MV_FIRST(MV_SLICE(top_u, 1, 1)), vj = MV_CONCAT(vals, \",\") " +
          "| KEEP band, n, u1, u2, u3, vj, wa | SORT band",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_match" -> ((s, dir) => {
      // ES|QL full-text functions: MATCH (analyzed OR terms) and QSTR
      // (the Lucene-lite grammar) inside WHERE — same term pattern as
      // the search compiler
      Esql.run(
        "FROM documents | WHERE MATCH(text, \"spark batch\") " +
          "AND QSTR(\"lang:en OR lang:de\") " +
          "| STATS n = COUNT(*) BY lang | SORT lang",
        Map("documents" -> tbl(s, dir, "documents")))
    }),
    "q_esql_stats_where" -> ((s, dir) => {
      // ES|QL 8.16 filtered aggregates: per-aggregate WHERE inside one
      // hash aggregate (null-skipping when(), no second scan)
      Esql.run(
        "FROM lineitem | STATS n = COUNT(*), " +
          "heavy = COUNT(*) WHERE l_quantity > 30, " +
          "hv = SUM(l_extendedprice) WHERE l_quantity > 30 " +
          "BY l_returnflag | EVAL hv = ROUND(hv, 2) | SORT l_returnflag",
        Map("lineitem" -> tbl(s, dir, "lineitem")))
    }),
    "q_esql_hash" -> ((s, dir) => {
      // hash/encoding functions + KEEP wildcard projection
      Esql.run(
        "FROM documents | WHERE doc_id < 20 " +
          "| EVAL h_md5 = MD5(text), h_sha = SHA256(lang), " +
          "h_b64 = TO_BASE64(source), h_rt = FROM_BASE64(TO_BASE64(lang)) " +
          "| KEEP doc_id, h_* | SORT doc_id",
        Map("documents" -> tbl(s, dir, "documents")))
    }),
    "q_esql_fork" -> ((s, dir) => {
      // FORK: two branch sub-pipes over the same frame, unioned by name
      // with the _fork discriminator (missing columns null-filled)
      Esql.run(
        "FROM events | FORK " +
          "(WHERE event_type == \"purchase\" | STATS n = COUNT(*), v = ROUND(SUM(value), 2)) " +
          "(STATS n = COUNT(*) BY event_type | SORT event_type) " +
          "| KEEP _fork, event_type, n, v | SORT _fork, event_type",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_sample" -> ((s, dir) => {
      // SAMPLE: seeded xxhash64 Bernoulli keep — deterministic across
      // runs but engine-specific hash, so rows-only contract (the simhash
      // convention); grouped stats keep the smoke meaningful
      Esql.run(
        "FROM events | SAMPLE 0.1 42 | STATS n = COUNT(*) " +
          "BY event_type | SORT event_type",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_change_point" -> ((s, dir) => {
      // the ES|QL ML command over a STATS series: daily counts →
      // mean-shift argmax; integer counts keep the statistic bit-exact
      Esql.run(
        "FROM events | STATS c = COUNT(*) BY d = DATE_TRUNC(\"day\", ts) " +
          "| EVAL d = TO_UNIX_MICROS(d) | CHANGE_POINT c ON d " +
          "| EVAL stat_x1k = TO_LONG(FLOOR(stat * 1000)) | KEEP d, stat_x1k",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_row" -> ((s, dir) => {
      // ROW literal source + ip/string/math functions, fully constant-
      // folded on both sides
      Esql.run(
        "ROW ip = \"10.1.2.3\", s = \"graft\" " +
          "| EVAL net = IP_PREFIX(ip, 8, 0), " +
          "inb = CIDR_MATCH(ip, \"10.0.0.0/8\", \"192.168.0.0/16\"), " +
          "r = REVERSE(s), lg = TO_LONG(LOG10(100.0)) " +
          "| KEEP net, inb, r, lg",
        Map.empty)
    }),
    "q_esql_mv" -> ((s, dir) => {
      // multivalue family over SPLIT tokens — size/first/last/max per doc
      Esql.run(
        "FROM documents | WHERE doc_id < 50 " +
          "| EVAL parts = SPLIT(text, \" \"), nw = MV_COUNT(parts), " +
          "first = MV_FIRST(parts), last = MV_LAST(parts), " +
          "top = MV_MAX(parts) " +
          "| KEEP doc_id, nw, first, last, top | SORT doc_id",
        Map("documents" -> tbl(s, dir, "documents")))
    }),
    "q_esql_dates" -> ((s, dir) => {
      // DATE_EXTRACT/DATE_FORMAT over event timestamps (NTZ-normalized
      // through Tsx under the pinned UTC session)
      Esql.run(
        "FROM events | WHERE event_id < 100 " +
          "| EVAL day = DATE_EXTRACT(\"day_of_month\", ts), " +
          "hr = DATE_EXTRACT(\"hour_of_day\", ts), " +
          "fmt = DATE_FORMAT(\"yyyy-MM-dd\", ts) " +
          "| KEEP event_id, day, hr, fmt | SORT event_id",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_esql_bucket" -> ((s, dir) => {
      // ES|QL time-series face: grouped STATS over a DATE_TRUNC BY
      // expression (emitted as epoch micros — the date-histogram compare
      // convention)
      Esql.run(
        "FROM events | STATS n = COUNT(*), v = ROUND(SUM(value), 2) " +
          "BY d = DATE_TRUNC(\"day\", ts) " +
          "| EVAL d = TO_UNIX_MICROS(d) | SORT d",
        Map("events" -> tbl(s, dir, "events")))
    }),
    "q_search_explain" -> ((s, dir) => {
      // explain=true: per-hit BM25 score breakdown — one (term, tf, df,
      // idf, contrib) struct per query term, flattened to columns; round-4
      // on the libm-dependent ln components (the q_search_bm25 convention)
      def part(i: Int, f: String) = col("_explanation").getItem(i).getField(f)
      Search.bm25Explain(tbl(s, dir, "documents"), "text", Seq("spark", "query"))
        .where(col("_bm25") > 0)
        .orderBy(desc("_bm25"), col("doc_id")).limit(20)
        .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"),
          part(0, "term").as("term0"), part(0, "tf").cast("long").as("tf0"),
          part(0, "df").as("df0"), round(part(0, "idf"), 4).as("idf0"),
          round(part(0, "contrib"), 4).as("contrib0"),
          part(1, "term").as("term1"), part(1, "tf").cast("long").as("tf1"),
          part(1, "df").as("df1"), round(part(1, "idf"), 4).as("idf1"),
          round(part(1, "contrib"), 4).as("contrib1"))
    }),
    "q_search_knn" -> ((s, dir) => {
      // ES-8 knn search body: exact filtered cosine top-k over the vector
      // column (declared divergence: ES HNSW is approximate), ES score
      // mapping (1+cos)/2; double math for engine-portable round-4 scores
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qv = (0 until 64).map(i => (i % 5 - 2).toDouble).mkString(", ")
      Search.knnSearch(emb,
        s"""{"knn": {"field": "embedding", "query_vector": [$qv], "k": 10,
             "num_candidates": 100, "filter": {"term": {"label": 3}}}}""")
        .select(col("vec_id"), round(col("_score"), 4).as("_score"))
    }),
    "q_search_knn_multi" -> ((s, dir) => {
      // ES 8.7 multi-knn: two clauses, each contributing its (boosted)
      // score only inside its own top-k; final score = sum
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qv1 = (0 until 64).map(i => (i % 5 - 2).toDouble).mkString(", ")
      val qv2 = (0 until 64).map(i => (i % 7 - 3).toDouble).mkString(", ")
      Search.knnSearch(emb,
        s"""{"knn": [
            {"field": "embedding", "query_vector": [$qv1], "k": 20},
            {"field": "embedding", "query_vector": [$qv2], "k": 20, "boost": 2}],
          "size": 15}""")
        .select(col("vec_id"), round(col("_score"), 4).as("_score"))
    }),
    "q_search_knn_sim" -> ((s, dir) => {
      // knn with the ES 8.8 similarity floor: only docs clearing the raw
      // cosine threshold match at all (gates on similarity, not score)
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qv = (0 until 64).map(i => (i % 5 - 2).toDouble).mkString(", ")
      Search.knnSearch(emb,
        s"""{"knn": {"field": "embedding", "query_vector": [$qv], "k": 50,
             "similarity": 0.2}}""")
        .select(col("vec_id"), round(col("_score"), 4).as("_score"))
    }),
    "q_search_rescore" -> ((s, dir) => {
      // rescore: the top-20 'spark' window re-ranked by a 'streaming'
      // secondary query (total mode, rescore weight 2) — the expensive
      // second pass runs on a bounded window, never the corpus
      val docs = tbl(s, dir, "documents")
      Search.rescore(docs,
        """{"query": {"match": {"text": "spark"}}, "size": 5,
            "rescore": {"window_size": 20, "query": {
              "rescore_query": {"match": {"text": "streaming"}},
              "query_weight": 1.0, "rescore_query_weight": 2.0}}}""")
        .select(col("doc_id"), col("_score").cast("double").as("_score"))
    }),
    "q_search_knn_hybrid" -> ((s, dir) => {
      // hybrid retrieval: term-query score + knn contribution for docs in
      // the vector top-k (ES 8.4 additive combination) — one corpus pass
      // plus a k-row broadcast join
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val qv = (0 until 64).map(i => (i % 5 - 2).toDouble).mkString(", ")
      Search.knnSearch(emb,
        s"""{"query": {"term": {"label": 2}},
             "knn": {"field": "embedding", "query_vector": [$qv], "k": 10},
             "size": 10}""")
        .select(col("vec_id"), round(col("_score"), 4).as("_score"))
    }),
    "q_similarity_topk" -> ((s, dir) => {
      // double-precision math so scores are engine-portable (float dot
      // products would diverge from the oracle at round-4)
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(emb, queries, k = 10)
    }),
    "q_similarity_quantized" -> ((s, dir) => {
      // int8-range quantized ANN: cosine is scale-invariant, so the
      // quantized ranking runs on int arrays with no dequantization
      val emb = Similarity.quantize(tbl(s, dir, "embeddings"), "embedding")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q_emb").as("query_vec"))
      Similarity.bruteForceTopK(emb, queries, k = 10, vecCol = "q_emb")
    }),
    "q_similarity_bbq" -> ((s, dir) => {
      // binary quantization ANN: sign-bit hamming coarse pass, exact
      // cosine rerank of k·oversample candidates — recall < 1 by contract
      // at oversample 4 (rows-only); the exact twin below is the oracle
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bbqTopK(emb, queries, k = 10, oversample = 4)
    }),
    "q_similarity_bbq_exact" -> ((s, dir) => {
      // k·oversample >= corpus → the coarse pass keeps everything and the
      // rerank IS brute force: an end-to-end oracle over binarize/hamming/
      // rerank machinery
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bbqTopK(emb, queries, k = 10, oversample = 50)
    }),
    "q_similarity_ivf" -> ((s, dir) => {
      // rows-only: IVF coarse-quantizer ANN (train → assign → probe)
      val emb = tbl(s, dir, "embeddings")
      val centroids = pipeline.Ivf.train(emb, c = 8, iters = 2)
      val assigned = pipeline.Ivf.assign(emb, centroids)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topK(assigned, queries, centroids, k = 10, nprobe = 3)
    }),
    "q_similarity_ivf_exact" -> ((s, dir) => {
      // IVF with nprobe = C visits every inverted list — exhaustive, so the
      // result must equal brute force exactly: an end-to-end oracle over
      // the train→assign→probe machinery (the pruned variant above stays
      // rows-only because recall < 1 is its honest contract)
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val centroids = pipeline.Ivf.train(emb, c = 8, iters = 2)
      val assigned = pipeline.Ivf.assign(emb, centroids)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topK(assigned, queries, centroids, k = 10, nprobe = 8)
    }),
    "q_similarity_ann_store" -> ((s, dir) => {
      // the MATERIALIZED ANN index (r13): train+assign are paid once into
      // the store (centroids + cells partitioned by inverted list); the
      // search reads ONLY its nprobe probe cells — partition-pruned at the
      // scan, the 100 TB serving shape. Rows-only by the same recall<1
      // contract as q_similarity_ivf; the exhaustive twin below is the
      // oracle for the whole store path.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store", dir)(p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 2)
    }),
    "q_similarity_ann_store_exact" -> ((s, dir) => {
      // nprobe = C reads every cell — exhaustive, so the served result
      // must equal brute force exactly: the end-to-end oracle over
      // write-index → read-centroids → partition-pruned probe → verify
      // (q_similarity_ivf_exact's oracle, corpus never rescanned).
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store", dir)(p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_similarity_ann_store_append" -> ((s, dir) => {
      // the ANN store's data-ARRIVES path (r13): build on half the corpus,
      // append the other half under the FROZEN centroids (FAISS add() — one
      // assignment pass over the delta, the stored corpus never read).
      // nprobe = C is exhaustive regardless of centroid quality, so
      // build(half)+append(half) must equal brute force over the union —
      // the full-corpus oracle, shared verbatim with the write-once twin.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_app", dir) { p =>
        pipeline.Ivf.writeIndex(emb.where(col("vec_id") % 2 === 0),
          c = 8, p, iters = 2)
        pipeline.Ivf.appendToIndex(s, p, emb.where(col("vec_id") % 2 === 1))
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_similarity_ann_store_delete" -> ((s, dir) => {
      // the ANN store's data-LEAVES path (r13): tombstone a slice of ids —
      // served searches anti-join the sidecar IMMEDIATELY, before any
      // compaction. Exhaustive probe == brute force over the survivors:
      // the write-once oracle restricted to the surviving neighbors.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_del", dir) { p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2)
        pipeline.Ivf.deleteFromIndex(s, p,
          emb.where(col("vec_id") % 7 === 3).select("vec_id"))
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_ann_recall" -> ((s, dir) => {
      // the ANN tuning loop's measurement (r13): recall@10 of the pruned
      // store probe (nprobe=2 of 8 lists) against brute force on the query
      // sample — the number an operator reads before committing a serving
      // config at scale. Rows-only by contract: the value depends on the
      // k-means assignment (deterministic, but not SQL-derivable); IvfSpec
      // pins the arithmetic on known-recall fixtures (1.0 / 0.6 / 0.0).
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store", dir)(p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val approx = pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 2)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      Similarity.recallAtK(approx, exact)
        .select(col("query_id"), round(col("recall"), 4).as("recall"))
    }),
    "q_ann_store_stats" -> ((s, dir) => {
      // M12-analog observability for the ANN store (r13): list balance
      // (the IVF skew signal — a disproportionate list pays its share at
      // probe time), tombstone backlog (compaction debt), version. The
      // SQL-derivable cells (lists/rows/tombstoned) are oracled; the
      // balance columns (min/max list size) depend on the k-means
      // assignment and are pinned by MaintainSpec instead.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_stats", dir) { p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2)
        pipeline.Ivf.deleteFromIndex(s, p,
          emb.where(col("vec_id") % 7 === 3).select("vec_id"))
      }
      Maintain.annIndexStats(s, path)
        .select(col("lists"), col("rows"), col("tombstoned"))
    }),
    "q_ann_store_retrain" -> ((s, dir) => {
      // retrain-and-version made concrete (r13): v1 trains on half the
      // corpus and serves while v2 (full corpus) builds BESIDE it; the
      // pointer flip is one small-file overwrite (no unservable window),
      // and pruneIndexVersions reclaims the retired v1. Exhaustive serve
      // from the current version must equal the full-corpus brute force —
      // the write-once oracle, now additionally witnessing the blue/green
      // swap and the version GC.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_ver", dir) { p =>
        pipeline.Ivf.writeVersionedIndex(emb.where(col("vec_id") % 2 === 0),
          c = 8, p, iters = 2)
        pipeline.Ivf.retrainIndex(emb, c = 8, p, iters = 2)
        Maintain.pruneIndexVersions(s, p)
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromVersionedStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_ann_stream_store" -> ((s, dir) => {
      // streamed ANN maintenance's batch twin (r13): seed the IVF index on
      // half the corpus, then apply the other half as two micro-batches
      // through StreamingIndexer.applyAnnStreamBatch — the same body the
      // foreachBatch stream runs, marker discipline included. Exhaustive
      // serve over seed + batches must equal the full-corpus brute force:
      // the write-once oracle verbatim (StreamingSpec drives the same path
      // through a real MemoryStream, incl. redelivery and crash-window
      // convergence).
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_stream", dir) { p =>
        pipeline.Ivf.writeIndex(emb.where(col("vec_id") % 2 === 0),
          c = 8, p, iters = 2)
        streaming.StreamingIndexer.applyAnnStreamBatch(
          emb.where(col("vec_id") % 4 === 1), 0L, p)
        streaming.StreamingIndexer.applyAnnStreamBatch(
          emb.where(col("vec_id") % 4 === 3), 1L, p)
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_ann_store_compact" -> ((s, dir) => {
      // M-plane for the ANN store (r13): compactAnnIndex applies the
      // tombstones PHYSICALLY — only the affected cells partitions are
      // rewritten (compactSegments' swap discipline), the sidecar is
      // cleared last so serving stays correct through any crash prefix.
      // Served results must be unchanged from the tombstone-filtered path:
      // same survivor oracle as q_similarity_ann_store_delete.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val path = memoStore("ann_ivf_store_cmp", dir) { p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2)
        pipeline.Ivf.deleteFromIndex(s, p,
          emb.where(col("vec_id") % 7 === 3).select("vec_id"))
        Maintain.compactAnnIndex(s, p)
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Ivf.topKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_hybrid_retrieval_store" -> ((s, dir) => {
      // store-served HYBRID retrieval (r13) — the RAG-stack shape, end to
      // end from indexes: the text leg serves BM25 from the postings+norms
      // store, the vector leg serves doc-0's neighbors from the IVF store
      // (exhaustive probe → exact, so the fused output is oracle-exact),
      // and reciprocal-rank fusion combines them. The corpus is never
      // scanned: both legs read vocabulary/cell-pruned index data.
      val bmPath = memoStore("bm25_store", dir) { p =>
        val d = tbl(s, dir, "documents")
        TextIndex.writePostings(
          TextIndex.buildPostings(d, "doc_id", Seq("text"), 16), s"$p/postings")
        TextIndex.buildNorms(d, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$p/norms")
      }
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val annPath = memoStore("ann_ivf_store", dir)(p =>
        pipeline.Ivf.writeIndex(emb, c = 8, p, iters = 2))
      val textLeg = TextIndex.bm25Indexed(
          partitioned(s, s"$bmPath/postings"),
          StoreFs.read(s, s"$bmPath/norms"), "text", Seq("spark", "query"),
          nBuckets = 16)
        .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        .select(col("doc_id"), col("_bm25").as("_score"))
      val q0 = emb.where(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // the leg's own rank is the fusion key (1/rank is monotone in it):
      // the output cosine is rounded for display, and fusing on it would
      // re-break ties differently than the leg's raw-cosine ranking
      val vecLeg = pipeline.Ivf.topKFromStore(s, annPath, q0, k = 50,
          nprobe = 8)
        .select(col("neighbor_id").as("doc_id"),
          (lit(1.0) / col("rank")).as("_score"))
      Search.rrf(Seq(textLeg, vecLeg), size = 20)
        .select(col("doc_id"),
          expr("CAST(floor(_score * 1e6) AS BIGINT)").as("score_e6"),
          col("_rrf_matched"))
    }),
    "q_similarity_pq" -> ((s, dir) => {
      // rows-only: product-quantization ADC top-k (m=8 subspaces, ksub=16
      // — ~32x less vector payload than float32; approximate by contract,
      // like q_similarity_ivf; its lossless twin below IS oracled)
      val emb = tbl(s, dir, "embeddings")
      val cb = pipeline.Pq.train(emb, m = 8, ksub = 16, iters = 2)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.adcTopK(pipeline.Pq.encode(emb, cb), queries, cb, k = 10)
    }),
    "q_similarity_pq_exact" -> ((s, dir) => {
      // PQ with ksub >= corpus slice: every distinct subvector is its own
      // centroid, quantization is lossless, ADC == exact cosine — an
      // end-to-end oracle over train->encode->LUT->ADC (the q_similarity_
      // ivf_exact pattern applied to PQ; slice keeps it lossless at any sf)
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val cb = pipeline.Pq.train(emb, m = 8, ksub = 512, iters = 0)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.adcTopK(pipeline.Pq.encode(emb, cb), queries, cb, k = 10)
    }),
    "q_similarity_ivfpq_exact" -> ((s, dir) => {
      // IVF-PQ composed scale path, pinned exactly: nprobe = C visits every
      // list and the lossless codebook makes ADC exact, so the pruned
      // composition must equal brute force — machinery oracle, honest
      // configs stay rows-only
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val cb = pipeline.Pq.train(emb, m = 8, ksub = 512, iters = 0)
      val centroids = pipeline.Ivf.train(emb, c = 8, iters = 2)
      val assigned = pipeline.Pq.encode(pipeline.Ivf.assign(emb, centroids), cb)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopK(assigned, queries, centroids, cb, k = 10, nprobe = 8)
    }),
    "q_similarity_ivfpq_store" -> ((s, dir) => {
      // the COMPRESSED materialized ANN index (r13): cells persist
      // (list_id, id, code) only — 8 codes instead of 64 doubles per
      // vector — so a probe is partition-pruned AND code-sized. Honest
      // config (ksub=16) stays rows-only by the ADC contract; the
      // lossless twin below oracles the whole store path.
      val emb = tbl(s, dir, "embeddings")
      val path = memoStore("ivfpq_store", dir)(p =>
        pipeline.Pq.writeIvfPqIndex(emb, c = 8, m = 8, p, ksub = 16,
          pqIters = 2, ivfIters = 2))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopKFromStore(s, path, queries, k = 10, nprobe = 2)
    }),
    "q_similarity_ivfpq_store_exact" -> ((s, dir) => {
      // lossless codebooks (ksub ≥ distinct subvectors) + nprobe = C make
      // the served composition exhaustive and exact — brute force oracles
      // write-index → read-models → pruned-probe → ADC end to end
      // (q_similarity_ivfpq_exact's oracle, float vectors never read at
      // query time).
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val path = memoStore("ivfpq_store_exact", dir)(p =>
        pipeline.Pq.writeIvfPqIndex(emb, c = 8, m = 8, p, ksub = 512,
          pqIters = 0, ivfIters = 2))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_ivfpq_stream_store" -> ((s, dir) => {
      // streamed COMPRESSED-index maintenance's batch twin (r13): lossless
      // models train on the full slice, a third of the rows leave
      // (delete + compact), then return as two micro-batches through
      // StreamingIndexer.applyIvfPqStreamBatch — frozen models re-encode
      // them to identical codes, so the exhaustive served result equals
      // the full-slice brute force: q_similarity_ivfpq_exact's oracle
      // witnessing the streamed code-only appends end to end
      // (StreamingSpec drives the same path through a real MemoryStream,
      // incl. crash-window convergence and the versioned-root guard).
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val path = memoStore("ivfpq_store_stream", dir) { p =>
        pipeline.Pq.writeIvfPqIndex(emb, c = 8, m = 8, p, ksub = 512,
          pqIters = 0, ivfIters = 2)
        pipeline.Ivf.deleteFromIndex(s, p,
          emb.where(col("vec_id") % 3 === 1).select("vec_id"))
        Maintain.compactAnnIndex(s, p)
        streaming.StreamingIndexer.applyIvfPqStreamBatch(
          emb.where(col("vec_id") % 6 === 1), 0L, p)
        streaming.StreamingIndexer.applyIvfPqStreamBatch(
          emb.where(col("vec_id") % 6 === 4), 1L, p)
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_ivfpq_store_retrain" -> ((s, dir) => {
      // blue/green retrain for the COMPRESSED layout (r13): v1's models
      // (centroids + codebooks) train on half the slice, the full-slice
      // retrain builds v2 beside it, the pointer flips, prune reclaims v1.
      // Lossless codebooks + exhaustive probe through the current version
      // equal the full-slice brute force — q_similarity_ivfpq_exact's
      // oracle, witnessing both models swapping atomically with the cells.
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val path = memoStore("ivfpq_store_ver", dir) { p =>
        pipeline.Pq.writeVersionedIvfPqIndex(emb.where(col("vec_id") % 2 === 0),
          c = 8, m = 8, p, ksub = 512, pqIters = 0, ivfIters = 2)
        pipeline.Pq.retrainIvfPqIndex(emb, c = 8, m = 8, p, ksub = 512,
          pqIters = 0, ivfIters = 2)
        Maintain.pruneIndexVersions(s, p)
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopKFromVersionedStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_similarity_ivfpq_store_cycle" -> ((s, dir) => {
      // the COMPRESSED index through a full maintenance cycle (r13):
      // delete a slice → compact (code-only partitions rewritten, sidecar
      // cleared) → re-append the rows under the FROZEN models. Lossless
      // codebooks re-encode a returning row to identical codes, so the
      // exhaustive served result must equal brute force over the full
      // slice — q_similarity_ivfpq_exact's oracle, now additionally
      // witnessing delete+compact+append on the compressed layout.
      val emb = tbl(s, dir, "embeddings").where(col("vec_id") < 500)
      val path = memoStore("ivfpq_store_cycle", dir) { p =>
        pipeline.Pq.writeIvfPqIndex(emb, c = 8, m = 8, p, ksub = 512,
          pqIters = 0, ivfIters = 2)
        pipeline.Ivf.deleteFromIndex(s, p,
          emb.where(col("vec_id") % 7 === 3).select("vec_id"))
        Maintain.compactAnnIndex(s, p)
        pipeline.Pq.appendToIvfPqIndex(s, p,
          emb.where(col("vec_id") % 7 === 3))
      }
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      pipeline.Pq.ivfPqTopKFromStore(s, path, queries, k = 10, nprobe = 8)
    }),
    "q_similarity_lsh" -> ((s, dir) => {
      // ANN via random-hyperplane LSH banding, oracle-checked against the
      // brute-force top-k (recall 1.0 on the gate corpus at 32 bands ×
      // 2 bits: weakest true neighbor cos ≈ 0.24 → per-pair miss < 3e-6).
      // Double math so scores hash-match the DuckDB oracle.
      val emb = tbl(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.lshTopK(emb, queries, k = 10, bands = 32, bitsPerBand = 2)
    }),

    // ---- north star: text analysis ----
    "q_text_langid" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
    }),
    "q_text_quality" -> ((s, dir) => {
      TextStats.qualityMetrics(tbl(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
          col("stopword_ratio"), col("alpha_ratio"))
    }),
    "q_text_chunk" -> ((s, dir) => {
      // context-window chunking: 64-token chunks, 16-token overlap
      TextStats.chunk(tbl(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 64, overlap = 16)
    }),
    "q_text_vocab" -> ((s, dir) => {
      // corpus vocabulary: top-200 tokens (BPE/tokenizer training input)
      TextStats.vocabulary(tbl(s, dir, "documents"), "text", k = 200)
    }),
    "q_quality_filter" -> ((s, dir) => {
      // the curation gate the metrics feed: Gopher/C4-style thresholds
      TextStats.qualityFilter(tbl(s, dir, "documents"), "text",
          minTokens = 20, maxMeanTokLen = 8.0, minStopwordRatio = 0.05)
        .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"))
    }),
    "q_quality_gopher" -> ((s, dir) => {
      // the named Gopher rule set as a per-doc report — every rule a
      // boolean column, hit rates auditable before anything drops
      TextStats.qualityGopher(tbl(s, dir, "documents"), "text",
          stops = Seq("the", "data", "join", "scan", "fast", "slow", "key", "row"))
        .select(col("doc_id"), col("g_words"), col("g_word_count"),
          col("g_mean_len"), col("g_symbol_ratio"), col("g_alpha_words"),
          col("g_stopwords"), col("gopher_pass"))
    }),
    "q_quality_c4" -> ((s, dir) => {
      // C4 line/page rules over a synthesized multi-line page (the corpus
      // text is single-line): terminal-punct line keep, 3-word minimum,
      // javascript/lorem/brace drops, 5-sentence page floor
      val docs = tbl(s, dir, "documents").select(col("doc_id"), concat(
        substring(col("text"), 1, 60), lit(".\n"),
        lit("tiny line\n"),
        lit("good second sentence here. it has words. end.\n"),
        when(col("doc_id") % 5 === 0, lit("lorem ipsum filler here.\n"))
          .otherwise(lit("clean closing line here.\n")),
        when(col("doc_id") % 7 === 0, lit("config { block }\n"))
          .otherwise(lit(""))).as("page"))
      TextStats.c4Report(docs, "page")
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("has_brace"), col("has_lorem"), col("n_sentences"),
          col("c4_keep"), col("c4_text"))
    }),
    "q_filter_url" -> ((s, dir) => {
      // URL/domain provenance gate over derived URLs: blocklist domains
      // (exact + subdomain), TLD allowlist
      val docs = tbl(s, dir, "documents")
      val tldPick = element_at(
        array(lit("com"), lit("org"), lit("net"), lit("xyz")),
        (col("doc_id") % 4 + 1).cast("int"))
      val url = concat(lit("https://"),
        when(col("doc_id") % 11 === 0, lit("ads.example.com"))
          .otherwise(concat(col("source"), lit(".example."), tldPick)),
        lit("/p/"), col("doc_id"))
      pipeline.Curate.urlReport(
          docs.select(col("doc_id"), url.as("url")), "url",
          blockedDomains = Seq("ads.example.com", "spam.example"),
          allowedTlds = Seq("com", "org", "net"))
        .select(col("doc_id"), col("host"), col("tld"),
          col("domain_blocked"), col("tld_allowed"), col("url_keep"))
    }),
    "q_text_normalize" -> ((s, dir) => {
      // ftfy-lite canonicalization over deliberately-messy derivations:
      // curly quotes, en/em dashes, zero-width, control chars, run
      // whitespace — all reduced to the canonical ASCII-ish form
      val messy = concat(
        lit("\u201Cquoted\u201D \u2018x\u2019 \u2013 dash \u2014 em \u200Bzw\u0007"),
        lit("  \ttabs  "), substring(col("text"), 1, 40), lit(" end"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextStats.normalizeText(messy).as("norm"))
    }),
    "q_corpus_stats" -> ((s, dir) => {
      // the dataset-card one-rower: totals, token quantiles, dimension
      // cardinalities
      TextStats.corpusStats(tbl(s, dir, "documents"), "text",
        dims = Seq("lang", "source"))
    }),
    "q_dedup_bloom" -> ((s, dir) => {
      // bloom-prefiltered incremental dedup: 50 content dups (re-keyed
      // copies of corpus docs) + 100 new docs arrive; the sketch screens
      // out definite-new rows before the exact anti-join — the result is
      // exact regardless of bloom false positives
      val docs = tbl(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 400)
      val incoming = docs.where(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
        .unionByName(docs.where(col("doc_id") >= 400))
      pipeline.Dedup.bloomNewContent(corpus, incoming, "text", "doc_id",
          expectedItems = 1000L)
        .select(col("doc_id"))
    }),
    "q_dedup_semantic" -> ((s, dir) => {
      // SemDeDup with the label column as the cluster assignment — the
      // within-cluster keep-lowest-id prune is exactly oracle-checkable
      // (the k-means variant is q_dedup_semantic_kmeans, rows-only)
      pipeline.Dedup.semanticDedup(tbl(s, dir, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.3)
        .select(col("vec_id"), col("label"), col("dup_of"), col("is_dup"))
    }),
    "q_dedup_semantic_kmeans" -> ((s, dir) => {
      // the paper-faithful composition: spherical k-means clusters feed
      // the same within-cluster prune; engine-specific float iteration →
      // rows-only contract
      val emb = tbl(s, dir, "embeddings")
      val cents = pipeline.Ivf.train(emb, c = 8, iters = 2)
      val assigned = pipeline.Ivf.assign(emb, cents,
        idCol = "vec_id", vecCol = "embedding")
      pipeline.Dedup.semanticDedup(assigned,
          "vec_id", "embedding", "list_id", threshold = 0.3)
        .select(col("vec_id"), col("list_id"), col("is_dup"))
    }),
    "q_dedup_semantic_escape" -> ((s, dir) => {
      // the ESCAPE-path twin of q_dedup_semantic, in the threshold regime
      // the escape is sound for (SemDeDup's own eps ≈ 0.95, where the
      // recall gate passes — at this corpus's pair-cosine distribution the
      // 0.3 threshold keeps the exact path by design, so this query is
      // what exercises the banded path against a full oracle). Planted
      // exact duplicates (every 4th vec_id re-inserted under a shifted id)
      // are the ONLY ≥0.95 pairs (verified: nothing in [0.9, 1) among
      // originals), and identical vectors collide in EVERY band — banding
      // recall is exactly 1 here, so the LSH escape is oracle-exact, not
      // approximately so. escapeAt=32 forces every label cluster through
      // the escape at all scales; conf reads happen at plan construction,
      // so the finally-reset can't leak into other queries.
      val emb = tbl(s, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val copies = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        .withColumn("vec_id", col("vec_id") + lit(maxId + 1L))
      s.conf.set("graft.semdedup.escapeAt", "32")
      try pipeline.Dedup.semanticDedup(emb.unionByName(copies),
          "vec_id", "embedding", "label", threshold = 0.95)
        .select(col("vec_id"), col("label"), col("dup_of"), col("is_dup"))
      finally s.conf.unset("graft.semdedup.escapeAt")
    }),
    "q_text_tokens" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_ws_tokens"),
          TextStats.bpeishTokenCount(col("text")).as("n_bpeish"))
    }),
    "q_text_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
    }),
    "q_train_split" -> ((s, dir) => {
      // deterministic 80/10/10 split: the three splits form a disjoint
      // cover of the corpus (verified against raw per-PK multiplicities);
      // fraction accuracy is spec-tested (SamplingSpec)
      val li = tbl(s, dir, "lineitem")
      val splits = pipeline.Sampling.split(li,
        Seq("l_orderkey", "l_linenumber"), Seq(0.8, 0.1, 0.1), seed = 42L)
      splits.map(_.select(col("l_orderkey"), col("l_linenumber")))
        .reduce(_ unionAll _)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_text_entropy" -> ((s, dir) => {
      // token-frequency Shannon entropy — boilerplate/repetition signal
      TextStats.tokenEntropy(tbl(s, dir, "documents"), "text", "doc_id")
    }),
    "q_text_unigram_nll" -> ((s, dir) => {
      // corpus-unigram-LM cross-entropy — the CCNet-style LM quality
      // signal's unigram approximation (high = rare-token-heavy)
      TextStats.unigramLogLoss(tbl(s, dir, "documents"), "text", "doc_id")
    }),
    "q_text_bigram_nll" -> ((s, dir) => {
      // corpus-bigram conditional cross-entropy — one order up from the
      // unigram NLL toward KenLM-style perplexity filtering (high = token
      // salad the unigram stats miss)
      TextStats.bigramLogLoss(tbl(s, dir, "documents"), "text", "doc_id")
    }),
    "q_text_bigram_nll_store" -> ((s, dir) => {
      // store-served twin of q_text_bigram_nll (the CCNet shape at
      // 100 TB: the corpus LM is built ONCE into a vocabulary-sized
      // count table; scoring joins that table and never re-aggregates
      // the corpus). Same oracle; oov_bigrams is 0 on the building
      // corpus by construction and projected away.
      val path = memoStore("bigram_lm", dir) { p =>
        pipeline.TextStats.writeBigramLm(tbl(s, dir, "documents"), "text", p)
      }
      pipeline.TextStats.bigramLogLossFromStore(
          tbl(s, dir, "documents"), "text", "doc_id", path)
        .select(col("doc_id"), col("bigram_nll"))
    }),
    "q_bigram_lm_append" -> ((s, dir) => {
      // incremental LM maintenance: build the store from half the corpus,
      // append the other half — counts are additive, so serve-from-store
      // must hash-equal the SAME full-corpus oracle as q_text_bigram_nll
      // (the q_norms_append / q_suggest_store_append convention).
      val path = memoStore("bigram_lm_append", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        pipeline.TextStats.writeBigramLm(d.where(half === 0), "text", p)
        // r14: the append lands as an O(|batch|) delta segment; the
        // maintenance-cadence compact then folds it into the sorted base
        // (exercised here so the driver oracles the compacted serve;
        // q_ngram_store_append serves base+delta UNcompacted — both
        // serve shapes stay hash-checked)
        pipeline.TextStats.appendBigramLm(d.where(half === 1), "text", p)
        Maintain.compactCountStore(s, p)
      }
      pipeline.TextStats.bigramLogLossFromStore(
          tbl(s, dir, "documents"), "text", "doc_id", path)
        .select(col("doc_id"), col("bigram_nll"))
    }),
    "q_text_dup_ngrams" -> ((s, dir) => {
      // corpus-wide duplicate 3-gram fraction — the RefinedWeb/Dolma
      // boilerplate signal (fraction of the doc's gram instances whose
      // exact text occurs >= 2 times anywhere in the corpus)
      TextStats.dupNgramFraction(tbl(s, dir, "documents"), "text", "doc_id", 3)
    }),
    "q_text_dup_ngrams_store" -> ((s, dir) => {
      // store-served twin of q_text_dup_ngrams (same oracle): the corpus
      // gram-count table is built once; scoring joins it instead of
      // re-aggregating the corpus — the incremental boilerplate gate.
      val path = memoStore("ngram_counts", dir) { p =>
        pipeline.TextStats.writeNgramCounts(tbl(s, dir, "documents"),
          "text", 3, p)
      }
      pipeline.TextStats.dupNgramFractionFromStore(
          tbl(s, dir, "documents"), "text", "doc_id", 3, path)
    }),
    "q_ngram_store_append" -> ((s, dir) => {
      // half-corpus build + half-corpus append must serve exactly like a
      // full build: gram counts are additive (same oracle again). r14:
      // the append is a delta SEGMENT and this query deliberately serves
      // base+delta UNcompacted — the merged-serve path the streamed gate
      // reads between compactions, driver-oracled here (its compacted
      // twin is q_bigram_lm_append, which folds before serving).
      val path = memoStore("ngram_counts_append", dir) { p =>
        val d = tbl(s, dir, "documents")
        val half = pmod(xxhash64(col("doc_id")), lit(2))
        pipeline.TextStats.writeNgramCounts(d.where(half === 0), "text", 3, p)
        pipeline.TextStats.appendNgramCounts(d.where(half === 1), "text", 3, p)
      }
      pipeline.TextStats.dupNgramFractionFromStore(
          tbl(s, dir, "documents"), "text", "doc_id", 3, path)
    }),
    "q_ngram_store_subtract" -> ((s, dir) => {
      // the store that FORGETS (r13): doc-keyed gram ledger, delete a
      // slice by key, and the served boilerplate gate hash-equals the
      // direct operator over the SURVIVING corpus — the M4/M5
      // data-leaves-the-system contract extended to the pipeline stores
      // (an additive store with no doc keys would carry the deleted
      // docs' grams forever).
      val path = memoStore("ngram_counts_keyed_sub", dir) { p =>
        val d = tbl(s, dir, "documents")
        pipeline.TextStats.writeNgramCountsKeyed(d, "text", "doc_id", 3, p)
        pipeline.TextStats.subtractNgramCounts(s, p,
          d.where(col("doc_id") % 7 === 0).select(col("doc_id")))
      }
      pipeline.TextStats.dupNgramFractionFromKeyedStore(
          tbl(s, dir, "documents").where(col("doc_id") % 7 =!= 0),
          "text", "doc_id", 3, path)
    }),
    "q_bigram_lm_subtract" -> ((s, dir) => {
      // the LM that FORGETS (r13): subtract deleted docs' bigrams by key;
      // served NLL over the survivors hash-equals the direct operator on
      // the survivor corpus (deleted docs stop shaping the model).
      val path = memoStore("bigram_lm_keyed_sub", dir) { p =>
        val d = tbl(s, dir, "documents")
        pipeline.TextStats.writeBigramLmKeyed(d, "text", "doc_id", p)
        pipeline.TextStats.subtractBigramLm(s, p,
          d.where(col("doc_id") % 7 === 0).select(col("doc_id")))
      }
      pipeline.TextStats.bigramLogLossFromKeyedStore(
          tbl(s, dir, "documents").where(col("doc_id") % 7 =!= 0),
          "text", "doc_id", path)
        .select(col("doc_id"), col("bigram_nll"))
    }),
    "q_text_keywords" -> ((s, dir) => {
      // per-doc top-3 TF-IDF keywords, deterministic tie-break on token
      TextStats.keywords(tbl(s, dir, "documents"), "text", "doc_id", 3)
    }),

    // ---- north star: multimodal plumbing ----
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.asMedia(tbl(s, dir, "documents"), "text", "image", "raw")
      media.select(col("doc_id"), col("meta.kind").as("kind"),
          col("meta.n_bytes").as("n_bytes"))
    }),
    "q_multimodal_decode" -> ((s, dir) => {
      // batched stub decode over the binary column (mapPartitions): the
      // stub checksum is SQL-expressible, so the whole batched path —
      // binary cast, partition iteration, feature struct — is oracle-checked
      val media = Multimodal.asMedia(tbl(s, dir, "documents"), "text", "image", "raw")
      Multimodal.extractFeatures(media, "doc_id")
    }),
    "q_multimodal_decode_real" -> ((s, dir) => {
      // REAL image decode through the oracle: construct a valid PNG header
      // per doc with doc-derived dimensions (pure-SQL byte building, no
      // UDF), batch-decode it back, and let DuckDB recompute the expected
      // dims from the construction parameters — proves format sniffing and
      // big-endian dimension parsing, not just the plumbing
      val docs = tbl(s, dir, "documents")
      val png = docs.select(col("doc_id"),
        Multimodal.pngContent((col("doc_id") % 64 + 1).cast("int"),
          (col("doc_id") % 32 + 1).cast("int")).as("content"))
      Multimodal.extractFeatures(png, "doc_id")
        .select(col("id"), col("n_bytes"), col("format"),
          col("width"), col("height"))
    }),
    "q_multimodal_frames" -> ((s, dir) => {
      // frame-sample plumbing: opaque payload → (id, frame_idx, byte_offset)
      // rows, every 4th 256-byte frame (stub demux = length arithmetic)
      val media = Multimodal.asMedia(tbl(s, dir, "documents"), "text", "video", "raw")
      Multimodal.frameSample(media, "doc_id", frameBytes = 256L, stride = 4)
    }),

    // ---- streaming-shaped (S1 batch equivalent) ----
    "q_stream_window" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30 min) — the batch twin of the
      // mapGroupsWithState streaming operator (Sessionize.assignStream).
      // Session bounds go out as epoch-micros BIGINT: a timestamp column
      // here made the hash depend on the checker's nanos→micros cast
      // behavior (truncate vs round-to-nearest flips ~half the sf0.01
      // rows — the r5 driver-red signature)
      Sessionize.summarize(tbl(s, dir, "events"), "user_id", "ts",
          gapSec = 1800, orderCols = Seq("event_id"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          Tsx.micros(col("session_start")).as("session_start_us"),
          Tsx.micros(col("session_end")).as("session_end_us"))
    }),

    "q_session_window" -> ((s, dir) => {
      // Spark's NATIVE session_window: mergeable session aggregation, no
      // per-user sort window; inclusive gap boundary (same as the custom
      // twin) and end = last-event + gap, both mirrored in the oracle
      Sessionize.summarizeNative(tbl(s, dir, "events"), "user_id", "ts",
          gap = "30 minutes")
        .select(col("user_id"),
          Tsx.micros(col("session_start")).as("start_us"),
          Tsx.micros(col("session_end")).as("end_us"),
          col("n_events"))
    }),

    // ---- north star: corpus curation (decontamination, PII, mixing, packing) ----
    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs with doc_id % 50 == 0 play the eval
      // set; report every train doc sharing a word 4-gram with it
      val docs = tbl(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
      val train = docs.where(col("doc_id") % 50 =!= 0)
      Curate.contaminationReport(train, bench, "text", "doc_id", n = 4)
    }),
    "q_curate_spans" -> ((s, dir) => {
      // span-granular decontamination: WHERE the benchmark leaked into each
      // train doc (maximal runs of benchmark 4-grams) — surgical redaction
      // input instead of whole-doc drops; removal core oracle-proven by
      // q_dedup_span_removal (shared implementation)
      val docs = tbl(s, dir, "documents")
      Curate.contaminationSpans(docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), "text", "doc_id", n = 4)
    }),
    "q_pii_redact" -> ((s, dir) => {
      // the gate tables carry no real PII, so build a deterministic contact
      // note from customer fields (identically in the oracle), then redact
      val c = tbl(s, dir, "customer")
      val email = concat(lower(regexp_replace(col("c_name"), "#", "")), lit("@example.com"))
      val phone = concat_ws("-",
        (col("c_nationkey") + 10).cast("string"),
        lpad(pmod(col("c_custkey") * 7, lit(1000)).cast("string"), 3, "0"),
        lpad(pmod(col("c_custkey") * 13, lit(1000)).cast("string"), 3, "0"),
        lpad(pmod(col("c_custkey") * 31, lit(10000)).cast("string"), 4, "0"))
      val ip = concat_ws(".", lit("10"),
        pmod(col("c_nationkey"), lit(256)).cast("string"),
        pmod(expr("c_custkey div 256"), lit(256)).cast("string"),
        pmod(col("c_custkey"), lit(256)).cast("string"))
      val note = concat(lit("contact "), col("c_name"),
        when(pmod(col("c_custkey"), lit(3)) > 0, concat(lit(" email "), email)).otherwise(lit("")),
        when(pmod(col("c_custkey"), lit(2)) === 0, concat(lit(" phone "), phone)).otherwise(lit("")),
        when(pmod(col("c_custkey"), lit(7)) === 0, concat(lit(" backup "), email)).otherwise(lit("")),
        when(pmod(col("c_custkey"), lit(5)) === 0, concat(lit(" ip "), ip)).otherwise(lit("")))
      Curate.piiReport(c.select(col("c_custkey"), note.as("note")), "note")
        .select(col("c_custkey"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("redacted"))
    }),
    "q_domain_mix" -> ((s, dir) => {
      // per-source sampling plan toward a 1400-token budget per domain.
      // keep_frac crosses the oracle as floor(frac*1e4) BIGINT — IEEE
      // division/multiplication are correctly rounded and floor is exact,
      // so the integer is bit-stable where round(double, 4)'s last-bit
      // behavior is engine-version-dependent (the r5 driver-red signature)
      Curate.mixPlan(tbl(s, dir, "documents"), "source", "text", targetTokens = 1400L)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          floor(col("keep_frac") * 10000).as("keep_frac_x1e4"))
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // disjoint-cover check (the q_train_split pattern): kept ∪ complement
      // re-derives every doc exactly once iff the hash decision is
      // deterministic across the two evaluations; fractions are spec-tested
      val docs = tbl(s, dir, "documents")
      val fr = Map("en" -> 0.5, "de" -> 0.8, "es" -> 0.3, "fr" -> 1.0, "zh" -> 0.25)
      val kept = Curate.sampleStratified(docs, Seq("doc_id"), "lang", fr, seed = 11L)
      val dropped = docs.join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
      kept.select(col("doc_id")).unionAll(dropped.select(col("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    }),
    "q_split_leakage_safe" -> ((s, dir) => {
      // property oracle: every verified near-dup pair must land on ONE
      // split side (co_split true for all rows). The oracle computes the
      // exact pair set and asserts the invariant as a constant — any pair
      // the split separates hash-mismatches.
      val docs = tbl(s, dir, "documents")
      // ONE pair pass feeds both the split and the invariant check — the
      // pipeline shape leakageSafeSplitFromPairs exists for. The pair set
      // appears in THREE plan subtrees (the clusters probe and both
      // invariant joins); materializing the tiny id-pair frame keeps the
      // LSH verify join from re-running per subtree. localCheckpoint, not
      // persist (r15): freed with the plan, and each bench run re-computes
      // it honestly instead of runs 2-3 serving run 1's cache
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id")
        .localCheckpoint(true)
      val split = Curate.leakageSafeSplitFromPairs(docs, pairs, "doc_id",
        Seq(0.8, 0.1, 0.1), seed = 7L)
      pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (col("split_a") === col("split_b")).as("co_split"))
    }),
    "q_curate_corpus" -> ((s, dir) => {
      // the full curation pipeline end-to-end: near-dup removal → quality
      // gate (same thresholds as q_quality_filter) → decontamination
      // against the doc_id%50 benchmark slice
      val docs = tbl(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
      val train = docs.where(col("doc_id") % 50 =!= 0)
      Curate.curateCorpus(train, bench, "text", "doc_id",
          minTokens = 20, maxMeanTokLen = 8.0, minStopwordRatio = 0.05, n = 4)
        .select(col("doc_id"))
    }),
    "q_text_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals: bigram top/dup fractions from the
      // native one-pass expression (narrow projection, no gram shuffle)
      TextStats.repetitionMetrics(tbl(s, dir, "documents"), "text", "doc_id", n = 2)
    }),
    "q_multimodal_patches" -> ((s, dir) => {
      // ViT patch planning: 16x16 grid cover over derived dims, edge
      // patches clipped — exact integer math both sides
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"),
          (col("doc_id") % 50 + 16).as("w"),
          ((col("doc_id") * 3) % 40 + 16).as("h"))
      pipeline.Multimodal.patchify(dims, "doc_id", "w", "h", p = 16)
        .select(col("doc_id"), col("patch_id"), col("x0"), col("y0"),
          col("pw"), col("ph"))
    }),
    "q_decontaminate_semantic" -> ((s, dir) => {
      // embedding-space decontamination: train rows within 0.3 cosine of
      // any benchmark vector drop; bench broadcasts, one train scan
      val emb = tbl(s, dir, "embeddings")
      val bench = emb.where(col("vec_id") % 50 === 0)
      val train = emb.where(col("vec_id") % 50 =!= 0)
      pipeline.Curate.decontaminateSemantic(train, bench, "embedding", 0.3)
        .select(col("vec_id"))
    }),
    "q_pack_sequences" -> ((s, dir) => {
      // greedy shard layout: ~500-token shards per source, id order
      Curate.packSequences(tbl(s, dir, "documents"), "doc_id", "source", "text",
          budgetTokens = 500L)
    }),
    "q_agg_time_series" -> ((s, dir) => {
      // TSDB time_series agg: one bucket per (event_type, host) series
      // with doc_count + an exact metric; dimensions carried in the body
      // (mapping-free analog of time_series_dimension fields)
      val ev = tbl(s, dir, "events").select(col("event_id").as("doc_id"),
        col("event_type"), (col("user_id") % 7).as("host"), col("value"))
      Aggs.runSingle(ev,
        """{"aggs": {"series": {"time_series": {"dimensions":
            ["event_type", "host"], "size": 100},
          "aggs": {"max_v": {"max": {"field": "value"}}}}}}""")
    }),
    "q_agg_geohex" -> ((s, dir) => {
      // hex-grid buckets at precision 2 (11.25-degree circumradius cells);
      // flat axial lattice keys "z/q/r" — declared H3 divergence
      val pts = geoPoints(tbl(s, dir, "customer"))
      Aggs.runSingle(pts,
        """{"aggs": {"hex": {"geohex_grid": {"field": "loc", "precision": 2}}}}""")
    }),
    "q_search_mvt_hits" -> ((s, dir) => {
      // _mvt hits layer for tile z=2/x=2/y=1: in-tile docs with integer
      // pixel positions in the 4096-extent MVT grid
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.mvtHits(pts, "loc", 2, 2, 1)
        .select(col("doc_id"), col("px"), col("py"))
    }),
    "q_search_mvt_grid" -> ((s, dir) => {
      // _mvt aggs layer: the same tile bucketed on the 2^8×2^8 MVT cell
      // grid (16-pixel cells), doc_count per non-empty cell
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.mvtGrid(pts, "loc", 2, 2, 1)
    }),
    "q_upsert_versioned" -> ((s, dir) => {
      // ES external versioning (version = event_id): the update batch
      // applies only above the stored version — the survivor is the
      // overall-latest row per user
      val ev = tbl(s, dir, "events")
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val before = ev.where(col("ts") < cutoff)
        .select(col("user_id"), col("event_id"), col("event_type"))
      val after = ev.where(col("ts") >= cutoff)
        .select(col("user_id"), col("event_id"), col("event_type"))
      val existing = Indexer.latestPerKey(before, "user_id", Seq("event_id"))
      Indexer.upsertVersioned(existing, after, "user_id", "event_id", "external")
    }),
    "q_upsert_cas" -> ((s, dir) => {
      // ES if_seq_no compare-and-set: per-user stored seq = count of
      // before-cutoff events; the update carries its own seq (count of
      // after-cutoff events) and applies only on exact match, bumping the
      // stored seq by one — the miss rows keep the store untouched
      val ev = tbl(s, dir, "events")
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val store = ev.where(col("ts") < cutoff).groupBy(col("user_id"))
        .agg(count(lit(1)).as("seq"), min(col("event_type")).as("etype"))
      val batch = ev.where(col("ts") >= cutoff).groupBy(col("user_id"))
        .agg(count(lit(1)).as("seq"), max(col("event_type")).as("etype"))
      Indexer.upsertVersioned(store, batch, "user_id", "seq", "cas")
    }),
    "q_upsert_scripted" -> ((s, dir) => {
      // ES scripted_upsert counter pattern: cnt += params.cnt on update,
      // script over the upsert default (0) for fresh keys; the unscripted
      // tag column field-merges (absent from the batch → kept)
      val ev = tbl(s, dir, "events")
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val store = ev.where(col("ts") < cutoff).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), min(col("event_type")).as("tag"))
      val batch = ev.where(col("ts") >= cutoff).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      Indexer.scriptedUpsert(store, batch, "user_id",
          scripts = Map("cnt" -> "ctx.cnt + params.cnt"),
          upsertDefaults = Map("cnt" -> 0L))
    }),
    "q_upsert_scripted_dup" -> ((s, dir) => {
      // duplicate-key bulk: one op per (user, day) after the cutoff — ES
      // applies bulk ops for the same key SEQUENTIALLY, so the per-day
      // increments all accumulate onto the stored counter (a fold in bulk
      // order, never a fan-out or last-write-wins)
      val ev = tbl(s, dir, "events")
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val store = ev.where(col("ts") < cutoff).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), min(col("event_type")).as("tag"))
      val batch = ev.where(col("ts") >= cutoff)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      Indexer.scriptedUpsert(store, batch, "user_id",
          scripts = Map("cnt" -> "ctx.cnt + params.cnt"),
          upsertDefaults = Map("cnt" -> 0L),
          orderCols = Seq("day"))
    }),
    "q_admin_search_shards" -> ((s, dir) => {
      // _search_shards routing table: 8 disjoint complete signed-64 token
      // ranges (pure metadata — no scan)
      Admin.searchShards(s, 8)
    }),
    "q_search_script_fields" -> ((s, dir) => {
      // per-hit derived fields through the script grammar (integer-exact)
      val q = """{"query": {"term": {"event_type": "purchase"}},
        "script_fields": {"s2": {"script":
          {"source": "doc.user_id * 3 + doc.event_id % 10"}}},
        "size": 100000}"""
      Search.search(tbl(s, dir, "events"), q,
          IndexConfig(maxResults = 100000), Seq("event_id"))
        .select(col("event_id"), col("s2"))
    }),
    "q_search_geo_grid" -> ((s, dir) => {
      // geo_grid query: docs inside ONE named geotile cell — the same
      // cell math the geotile_grid agg buckets on (drill-down contract)
      val pts = geoPoints(tbl(s, dir, "customer"))
      Search.search(pts,
          """{"query": {"geo_grid": {"loc": {"geotile": "3/2/1"}}},
            "size": 100000}""",
          IndexConfig(maxResults = 100000), Seq("doc_id"))
        .select(col("doc_id"))
    }),
    "q_agg_composite_missing" -> ((s, dir) => {
      // composite with missing_bucket: docs whose dimension is null form
      // an explicit first bucket instead of dropping
      val ev = tbl(s, dir, "events").select(
        col("event_id").as("doc_id"),
        when(col("value") >= 100, col("event_type")).as("etype"),
        col("value"))
      Aggs.runSingle(ev,
        """{"aggs": {"by": {"composite": {"size": 10, "sources": [
            {"etype": {"terms": {"field": "etype", "missing_bucket": true}}}]},
          "aggs": {"n_docs": {"value_count": {"field": "doc_id"}}}}}}""")
    }),
    "q_esql_now" -> ((s, dir) => {
      // ES|QL NOW() with an explicitly pinned anchor (2024-02-01Z):
      // per-event age in whole days, bucketed
      Esql.run(
        "FROM events | EVAL age = DATE_DIFF(\"days\", ts, NOW()) " +
          "| STATS n = COUNT(*) BY age | SORT age",
        Map("events" -> tbl(s, dir, "events")),
        now = Some(java.time.Instant.parse("2024-02-01T00:00:00Z")))
    }),
    "q_dedup_edit" -> ((s, dir) => {
      // character-level near-dup: length-window blocking + thresholded
      // levenshtein verification (dist <= 5)
      Dedup.editDistancePairs(tbl(s, dir, "documents"), "text", "doc_id",
          maxDist = 5)
    }),
    "q_contrastive_pairs" -> ((s, dir) => {
      // CLIP-style pair table: every doc paired with its own caption plus
      // 3 deterministic hash-drawn negatives (never its own), seed 11
      val d = tbl(s, dir, "documents")
      Multimodal.contrastivePairs(d.select(col("doc_id")),
          d.select(col("doc_id"), col("text")), "doc_id", "text",
          negatives = 3, seed = 11L)
        .select(col("doc_id"), col("pair_j"), col("is_positive"),
          col("caption"))
    }),
    "q_strip_boilerplate" -> ((s, dir) => {
      // cross-document boilerplate: per-source header/footer lines wrap
      // each doc; lines repeating across >= 5 docs of a source strip,
      // returning the original body
      val d = tbl(s, dir, "documents")
        .withColumn("text", concat(lit("HDR "), col("source"), lit("\n"),
          col("text"), lit("\nFOOTER")))
      Curate.stripBoilerplate(d, "doc_id", "text", "source", minDocs = 5L)
        .select(col("doc_id"), col("text_clean"), col("n_boiler"))
    }),
    "q_quality_classifier" -> ((s, dir) => {
      // hashed-feature linear classifier: unigram+bigram features,
      // md5-bucket weights, integer-exact logit sum
      TextStats.classifierLogit(tbl(s, dir, "documents"), "text")
        .select(col("doc_id"), col("w_sum"), col("n_feats"))
    }),
    "q_augment_mask" -> ((s, dir) => {
      // masked-LM augmentation: deterministic 15% token masking, seed 7
      TextStats.maskTokens(tbl(s, dir, "documents"), "doc_id", "text",
          pct = 15, seed = 7L)
        .select(col("doc_id"), col("masked_text"),
          array_join(col("targets"), ",").as("targets"))
    }),
    "q_search_date_math" -> ((s, dir) => {
      // ES date math in range bounds, pinned now (engine extension: the
      // body's top-level "now"): the 7 calendar days before 2024-01-25,
      // day-rounded — gte floors, lt floors (start of today excluded)
      val q = """{"query": {"range": {"ts":
          {"gte": "now-7d/d", "lt": "now/d", "format": "strict_date_optional_time"}}},
        "now": "2024-01-25T12:00:00Z", "size": 100000}"""
      Search.search(tbl(s, dir, "events"), q,
          IndexConfig(maxResults = 100000), Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    "q_train_shuffle" -> ((s, dir) => {
      // deterministic global shuffle: order = md5(id ‖ seed), realized as
      // a range exchange + in-partition sort (plan-shape spec'd — never a
      // single-partition sort or window)
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      pipeline.Sampling.globalShuffle(docs, Seq("doc_id"), seed = 42L,
          numPartitions = 8)
        .select(col("doc_id"), col("shuffle_key"))
    })
  )

  // ------------------------------------------------------------- oracle SQL

  private val baseOracles: Map[String, String] = Map(
    "q_search_from" ->
      """SELECT doc_id, n_chars,
           CAST(regexp_matches(lower(text), '\bspark\b') AS INT) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
         ORDER BY n_chars DESC, doc_id LIMIT 40 OFFSET 50""",
    "q_search_source_filter" ->
      """SELECT doc_id, lang, n_chars,
           CAST(regexp_matches(lower(text), '\bspark\b') AS INT) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')""",
    "q_search_sorted" ->
      """SELECT doc_id, lang, n_chars,
           CAST(regexp_matches(lower(text), '\bspark\b') AS INT) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
         ORDER BY lang ASC NULLS FIRST, n_chars DESC, doc_id LIMIT 100""",
    "q_search_highlight" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch[^\s]*') THEN 1 ELSE 0 END) AS _score,
           regexp_replace(text, '(?i)(\bspark\b|\bbatch[^\s]*)',
             '<em>\1</em>', 'g') AS _highlight_text
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
            OR regexp_matches(lower(text), '\bbatch[^\s]*')
         ORDER BY _score DESC, doc_id""",
    "q_search_highlight_dsl" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch fast\b') THEN 1 ELSE 0 END) AS _score,
           regexp_replace(text, '(?i)(\bspark\b|\bbatch fast\b)',
             '<em>\1</em>', 'g') AS _highlight_text
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
           AND (lang IS NULL OR lang <> 'fr')
         ORDER BY _score DESC, doc_id""",
    "q_search_after" ->
      """WITH scored AS (
           SELECT doc_id, lang,
             (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
              CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
           FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
              OR regexp_matches(lower(text), '\bbatch\b'))
         SELECT doc_id, lang, _score FROM scored
         WHERE _score < 2 OR (_score = 2 AND doc_id > 100)
         ORDER BY _score DESC, doc_id LIMIT 50""",
    "q_search_topk" ->
      """SELECT doc_id, lang,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') OR regexp_matches(lower(text), '\bbatch\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_qstring_or" ->
      // a query_string sub-query is ONE scoring leaf in the DSL (declared),
      // so every hit scores 1 regardless of how many inner terms matched
      """SELECT doc_id, lang, 1 AS _score
         FROM documents
         WHERE (regexp_matches(lower(text), '\bspark\b')
                OR regexp_matches(lower(text), '\bbatch\b'))
           AND NOT regexp_matches(lower(text), '\bfilter\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_wildcard" ->
      """SELECT doc_id, source,
           (CASE WHEN regexp_matches(lower(text), '\bfilt[^\s]*\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(lang), '\bde\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bfilt[^\s]*\b') AND lower(lang) = 'de'
         ORDER BY doc_id""",
    "q_search_dsl_range" ->
      """SELECT event_id, user_id, value,
           (CASE WHEN value >= 100 AND value < 150 THEN 1 ELSE 0 END +
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS _score
         FROM events
         WHERE value >= 100 AND value < 150 AND event_type = 'purchase'
         ORDER BY event_id""",
    "q_search_dsl_bool" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
           (CASE WHEN o_totalprice >= 50000 THEN 1 ELSE 0 END +
            CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS _score
         FROM orders
         WHERE o_totalprice >= 50000 AND NOT o_orderstatus = 'F'
         ORDER BY o_orderkey""",
    "q_search_pk_only" ->
      """SELECT doc_id, 1 AS _score FROM documents
         WHERE regexp_matches(lower(text), '\bwindow\b')
         ORDER BY doc_id""",
    "q_search_rowload" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice, 1 AS _score
         FROM part WHERE regexp_matches(lower(p_name), '\bblue[^\s]*')
         ORDER BY p_partkey""",
    "q_search_meta" ->
      """WITH hits AS (
           SELECT doc_id, 2 AS _score FROM documents
           WHERE regexp_matches(lower(text), '\bmerge\b') AND regexp_matches(lower(text), '\bsort\b'))
         SELECT doc_id, _score,
           count(*) OVER () AS hit_count, max(_score) OVER () AS max_score,
           CAST(0 AS BIGINT) AS took,
           (SELECT count(DISTINCT source) FROM documents) AS shards_total,
           (SELECT count(DISTINCT source) FROM documents) AS shards_successful
         FROM hits ORDER BY doc_id""",
    "q_search_alias_typed" ->
      """WITH u AS (
           SELECT 'part-' || CAST(p_partkey AS VARCHAR) AS doc_id,
                  lower(p_name) AS pn, CAST(NULL AS VARCHAR) AS tx,
                  'part' AS _type FROM part
           UNION ALL
           SELECT 'doc-' || CAST(doc_id AS VARCHAR),
                  CAST(NULL AS VARCHAR), lower(text), 'documents' FROM documents)
         SELECT doc_id, _type,
           (CASE WHEN pn IS NOT NULL AND regexp_matches(pn, '\bblue[^\s]*') THEN 1 ELSE 0 END +
            CASE WHEN tx IS NOT NULL AND regexp_matches(tx, '\bfilter\b') THEN 1 ELSE 0 END) AS _score
         FROM u
         WHERE (pn IS NOT NULL AND regexp_matches(pn, '\bblue[^\s]*'))
            OR (tx IS NOT NULL AND regexp_matches(tx, '\bfilter\b'))
         ORDER BY doc_id""",
    "q_search_alias" ->
      """WITH u AS (
           SELECT 'part-' || CAST(p_partkey AS VARCHAR) AS doc_id,
                  lower(p_name) AS pn, CAST(NULL AS VARCHAR) AS tx FROM part
           UNION ALL
           SELECT 'doc-' || CAST(doc_id AS VARCHAR),
                  CAST(NULL AS VARCHAR), lower(text) FROM documents)
         SELECT doc_id,
           (CASE WHEN pn IS NOT NULL AND regexp_matches(pn, '\bblue[^\s]*') THEN 1 ELSE 0 END +
            CASE WHEN tx IS NOT NULL AND regexp_matches(tx, '\bfilter\b') THEN 1 ELSE 0 END) AS _score
         FROM u
         WHERE (pn IS NOT NULL AND regexp_matches(pn, '\bblue[^\s]*'))
            OR (tx IS NOT NULL AND regexp_matches(tx, '\bfilter\b'))
         ORDER BY doc_id""",
    "q_search_phrase" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bbatch stream\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bhash join\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bbatch stream\b')
            OR regexp_matches(lower(text), '\bhash join\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_dsl_dismax" ->
      """SELECT doc_id,
           greatest(
             CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END,
             CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 3 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
            OR regexp_matches(lower(text), '\bbatch\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_mm_best" ->
      """SELECT doc_id,
           greatest(
             (CASE WHEN regexp_matches(lower(text), '\bfast\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bjoin\b') THEN 1 ELSE 0 END),
             (CASE WHEN regexp_matches(lower(lang), '\bfast\b') THEN 2 ELSE 0 END
              + CASE WHEN regexp_matches(lower(lang), '\bjoin\b') THEN 2 ELSE 0 END))
             AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bfast\b')
            OR regexp_matches(lower(text), '\bjoin\b')
            OR regexp_matches(lower(lang), '\bfast\b')
            OR regexp_matches(lower(lang), '\bjoin\b')""",
    "q_search_proximity" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text),
              '\bspark(?:\s+\S+){0,2}\s+batch\b') THEN 2 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text),
              '\bhash(?:\s+\S+){0,1}\s+join\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark(?:\s+\S+){0,2}\s+batch\b')
            OR regexp_matches(lower(text), '\bhash(?:\s+\S+){0,1}\s+join\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_bm25" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl,
             CAST(len(regexp_extract_all(lower(text), '\bspark\b')) AS DOUBLE) AS tf0,
             CAST(len(regexp_extract_all(lower(text), '\bquery\b')) AS DOUBLE) AS tf1
           FROM documents),
         s AS (
           SELECT *, CAST(count(*) OVER () AS DOUBLE) AS N, avg(dl) OVER () AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df1
           FROM d),
         sc AS (
           SELECT doc_id,
             ln(1 + (N - df0 + 0.5)/(df0 + 0.5)) * tf0 * 2.2
               / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1 + (N - df1 + 0.5)/(df1 + 0.5)) * tf1 * 2.2
               / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS raw
           FROM s),
         top AS (
           SELECT doc_id, raw, round(raw, 4) AS bm25 FROM sc WHERE raw > 0
           ORDER BY raw DESC, doc_id LIMIT 50)
         SELECT doc_id, bm25 FROM top ORDER BY bm25 DESC, doc_id""",
    "q_query_validate" ->
      """SELECT * FROM (VALUES
           ('text:spark', true), ('text:spark AND lang:en', true),
           ('{"query":{"match_all":{}}}', true), ('text:spark AND (', false),
           ('{"query":{"bogus_op":{}}}', false), ('{not json', false),
           (':nofield', false)) AS t(query, valid)
         ORDER BY query""",
    "q_query_validate_explain" ->
      """SELECT * FROM (VALUES
           ('lang:en AND text:fast', true,
            'and(rlike(lower(lang), ''\\b\\Qen\\E\\b''), rlike(lower(text), ''\\b\\Qfast\\E\\b''))'),
           ('text:spark', true, 'rlike(lower(text), ''\\b\\Qspark\\E\\b'')'),
           ('text:spark AND (', false, NULL),
           ('{"query":{"range":{"n_chars":{"gte":100}}}}', true,
            '`>=`(n_chars, 100L)'),
           ('{"query":{"term":{"lang":"en"}}}', true, '`=`(lang, ''en'')'),
           ('{not json', false, NULL)
         ) AS t(query, valid, explanation)
         ORDER BY query""",
    "q_admin_get_mapping" ->
      """SELECT * FROM (VALUES
           ('l_orderkey','bigint','long'), ('l_partkey','bigint','long'),
           ('l_suppkey','bigint','long'), ('l_linenumber','int','long'),
           ('l_quantity','double','double'), ('l_extendedprice','double','double'),
           ('l_discount','double','double'), ('l_tax','double','double'),
           ('l_returnflag','string','text'), ('l_linestatus','string','text'),
           ('l_shipdate','timestamp_ntz','date')) AS t(field, dtype, es_type)
         ORDER BY field""",
    "q_doc_projection" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
           l_returnflag, l_quantity,
           strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%gZ') AS l_shipdate,
           '2024-07-01T00:00:00.000Z' AS IndexationDate
         FROM lineitem ORDER BY doc_id""",
    "q_doc_collections" ->
      """SELECT c_custkey,
           '["' || c_name || '","' || c_mktsegment || '"]' AS arr_json,
           '{"segment":"' || c_mktsegment || '"}' AS map_json,
           '{"c_name":"' || c_name || '","c_nationkey":' || c_nationkey || '}' AS udt_json
         FROM customer ORDER BY c_custkey""",
    "q_docid_roundtrip" ->
      """WITH ids AS (
           SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id
           FROM lineitem)
         SELECT doc_id,
           CAST(split_part(doc_id, '-', 1) AS BIGINT) AS pk_orderkey,
           CAST(split_part(doc_id, '-', 2) AS INT) AS ck_linenumber
         FROM ids ORDER BY doc_id""",
    "q_upsert_insert_only" ->
      """WITH a AS (
           SELECT * FROM (
             SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1),
         b AS (
           SELECT * FROM (
             SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1)
         SELECT COALESCE(b.user_id, a.user_id) AS user_id,
           CASE WHEN b.user_id IS NULL THEN a.event_id ELSE b.event_id END AS event_id,
           CASE WHEN b.user_id IS NULL THEN a.event_type ELSE b.event_type END AS event_type,
           CASE WHEN b.user_id IS NULL THEN a.value ELSE b.value END AS value
         FROM a FULL JOIN b ON a.user_id = b.user_id ORDER BY user_id""",
    "q_upsert_merge" ->
      """WITH a AS (
           SELECT * FROM (
             SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1),
         b AS (
           SELECT * FROM (
             SELECT user_id, event_id, event_type,
               CASE WHEN value > 100 THEN value END AS value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1)
         SELECT COALESCE(b.user_id, a.user_id) AS user_id,
           COALESCE(b.event_id, a.event_id) AS event_id,
           COALESCE(b.event_type, a.event_type) AS event_type,
           COALESCE(b.value, a.value) AS value
         FROM a FULL JOIN b ON a.user_id = b.user_id ORDER BY user_id""",
    "q_postings_build" ->
      """WITH toks AS (
           SELECT DISTINCT u.tok AS token, 'text' AS field, d.doc_id
           FROM documents d,
                unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9_]+')) AS u(tok)
           WHERE u.tok <> ''
           UNION
           SELECT DISTINCT u.tok AS token, 'lang' AS field, d.doc_id
           FROM documents d,
                unnest(regexp_split_to_array(lower(d.lang), '[^a-z0-9_]+')) AS u(tok)
           WHERE u.tok <> '')
         SELECT token, field, doc_id FROM toks
         ORDER BY token, field, doc_id""",
    "q_search_indexed" ->
      """SELECT doc_id, lang,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bfilt[^\s]*') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
            OR regexp_matches(lower(text), '\bfilt[^\s]*')
         ORDER BY _score DESC, doc_id""",
    "q_search_indexed_dsl" ->
      """SELECT doc_id, lang,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bquery planner\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
           AND NOT coalesce(lang = 'de', FALSE)
         ORDER BY doc_id""",
    "q_search_pure_index" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bdup\b') THEN 1 ELSE 0 END +
            CASE WHEN lower(lang) = 'de' THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bdup\b') AND lower(lang) = 'de'
         ORDER BY doc_id""",
    "q_search_bm25_indexed" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                    '[^a-z0-9_]+'), x -> x <> '')) AS DOUBLE) AS dl,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bspark\b')) AS DOUBLE) AS tf0,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bquery\b')) AS DOUBLE) AS tf1
           FROM documents),
         s AS (
           SELECT *, CAST(count(*) OVER () AS DOUBLE) AS N, avg(dl) OVER () AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df1
           FROM d),
         sc AS (
           SELECT doc_id,
             ln(1 + (N - df0 + 0.5)/(df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2*(0.25 + 0.75*dl/avgdl)) +
             ln(1 + (N - df1 + 0.5)/(df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2*(0.25 + 0.75*dl/avgdl)) AS bm25
           FROM s WHERE tf0 > 0 OR tf1 > 0)
         SELECT doc_id, round(bm25, 4) AS bm25 FROM sc
         ORDER BY bm25 DESC, doc_id LIMIT 50""",
    "q_search_bm25_store" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                    '[^a-z0-9_]+'), x -> x <> '')) AS DOUBLE) AS dl,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bspark\b')) AS DOUBLE) AS tf0,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bquery\b')) AS DOUBLE) AS tf1
           FROM documents),
         s AS (
           SELECT *, CAST(count(*) OVER () AS DOUBLE) AS N, avg(dl) OVER () AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df1
           FROM d),
         sc AS (
           SELECT doc_id,
             ln(1 + (N - df0 + 0.5)/(df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2*(0.25 + 0.75*dl/avgdl)) +
             ln(1 + (N - df1 + 0.5)/(df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2*(0.25 + 0.75*dl/avgdl)) AS bm25
           FROM s WHERE tf0 > 0 OR tf1 > 0)
         SELECT doc_id, round(bm25, 4) AS bm25 FROM sc
         ORDER BY bm25 DESC, doc_id LIMIT 50""",
    "q_index_create" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS segment, count(*) AS doc_count
         FROM orders GROUP BY 1 ORDER BY segment""",
    "q_discard_nulls" ->
      """SELECT event_id,
           CASE WHEN event_type <> 'error'
                THEN '{"et":"' || event_type || '","user_id":' || user_id || '}'
                ELSE '{"user_id":' || user_id || '}' END AS doc_discard,
           CASE WHEN event_type <> 'error'
                THEN '{"et":"' || event_type || '","user_id":' || user_id || '}'
                ELSE '{"et":null,"user_id":' || user_id || '}' END AS doc_keep
         FROM events ORDER BY event_id""",
    "q_upsert_lww" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""",
    "q_delete_antijoin" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id
         FROM lineitem
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_orderstatus = 'F' AND o_orderkey = l_orderkey)
         ORDER BY doc_id""",
    "q_delete_by_query" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE NOT coalesce(lang = 'de' AND n_chars >= 200, FALSE)""",
    "q_update_by_query" ->
      """SELECT doc_id, lang,
           CASE WHEN lang = 'fr' THEN upper(source) ELSE source END AS source,
           CASE WHEN lang = 'fr' THEN n_chars + 1000 ELSE n_chars END AS n_chars
         FROM documents""",
    "q_bulk_ndjson" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
           '{"update":{"_index":"lineitem_index@","_id":"'
             || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
             || '"}}' || chr(10)
             || '{"doc":{"l_returnflag":"' || l_returnflag
             || '","l_linestatus":"' || l_linestatus
             || '"},"doc_as_upsert":true}' AS bulk
         FROM lineitem ORDER BY doc_id""",
    "q_analytic_mode" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id
         FROM lineitem ORDER BY doc_id""",
    "q_ingest_exactly_once" ->
      """SELECT user_id, event_id, event_type, value
         FROM events ORDER BY event_id""",
    "q_shard_prune" ->
      """SELECT l_orderkey, l_linenumber, count(*) AS n
         FROM lineitem GROUP BY 1, 2
         ORDER BY l_orderkey, l_linenumber""",
    "q_search_dsl_exists" ->
      """SELECT event_id,
           CASE WHEN value > 150 THEN value END AS big_val, 1 AS _score
         FROM events WHERE value > 150
         ORDER BY event_id""",
    "q_types_decimal" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))
                AS DECIMAL(18,2)) AS VARCHAR) AS total_dec
         FROM lineitem ORDER BY doc_id""",
    "q_empty_update_skip" ->
      """SELECT event_id,
           CASE WHEN event_type <> 'error' THEN event_type END AS f1,
           CASE WHEN value > 100 THEN value END AS f2
         FROM events
         WHERE (CASE WHEN event_type <> 'error' THEN event_type END) IS NOT NULL
            OR (CASE WHEN value > 100 THEN value END) IS NOT NULL
         ORDER BY event_id""",
    "q_flatten" ->
      """SELECT event_id, regexp_extract(props, '[0-9]+') AS k_flat
         FROM events ORDER BY event_id""",
    "q_json_serialized" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
         ORDER BY event_id""",
    "q_types_blob" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS VARCHAR) || ' bytes' AS blob_repr
         FROM documents ORDER BY doc_id""",
    "q_maintain_truncate" ->
      """SELECT l_orderkey FROM lineitem WHERE 1 = 0 ORDER BY l_orderkey""",
    "q_segment_roll" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS segment,
           count(*) AS doc_count, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1 ORDER BY segment""",
    "q_segment_purge" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS segment, count(*) AS doc_count
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1 HAVING count(*) > 0 ORDER BY segment""",
    "q_ttl_expire" ->
      """SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 1000) AS BIGINT) AS _cassandraTtl
         FROM events
         WHERE CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 1000) AS BIGINT)
               > 1705276800 + 3600
         ORDER BY event_id""",
    "q_segment_ttl_drop" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS segment, count(*) AS doc_count
         FROM orders
         WHERE date_trunc('month', o_orderdate) >= TIMESTAMP '1999-01-01'
         GROUP BY 1 ORDER BY segment""",
    "q_agg_terms" ->
      """SELECT lang AS key, count(*) AS doc_count, avg(n_chars) AS avg_chars
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL
         GROUP BY lang
         ORDER BY doc_count DESC, key LIMIT 5""",
    "q_agg_terms_order" ->
      """SELECT lang AS key, count(*) AS doc_count, avg(n_chars) AS avg_chars
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL
         GROUP BY lang
         HAVING count(*) >= 2
         ORDER BY avg_chars DESC, key LIMIT 5""",
    "q_agg_date_histogram" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
           count(*) AS doc_count, round(sum(value), 2) AS total_value
         FROM events
         GROUP BY 1 ORDER BY key""",
    "q_agg_date_fixed" ->
      // epoch-micros modular arithmetic, integer end to end (the
      // sessionize lesson: never let bucket identity ride on a
      // timestamp cast)
      """WITH ev AS (
           SELECT epoch_ns(ts) // 1000 AS us, value FROM events)
         SELECT us - us % 21600000000 AS key_us, count(*) AS doc_count,
           round(sum(value), 2) AS total_value
         FROM ev GROUP BY 1 ORDER BY key_us""",
    "q_agg_date_tz" ->
      // anchor = offset − tz = 3h − 5h = −2h; shift, snap, unshift
      """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us FROM events),
         b AS (SELECT us + 7200000000 AS a FROM ev)
         SELECT a - a % 86400000000 - 7200000000 AS key_us,
           count(*) AS doc_count
         FROM b GROUP BY 1 ORDER BY key_us""",
    "q_agg_terms_include" ->
      """SELECT lang AS key, count(*) AS doc_count
         FROM documents
         WHERE regexp_full_match(lang, 'en|de|es|fr')
           AND NOT regexp_full_match(lang, 'd.*')
         GROUP BY lang ORDER BY key""",
    "q_agg_date_zero_fill" ->
      // 721 hourly frames Jan 1 .. Jan 31 00:00 inclusive; LEFT JOIN
      // zero-fills hours with no purchases (integer micros throughout)
      """WITH ev AS (
           SELECT epoch_ns(ts) // 1000 AS us FROM events
           WHERE event_type = 'purchase'),
         c AS (
           SELECT us - us % 3600000000 AS key_us, count(*) AS n
           FROM ev GROUP BY 1),
         frames AS (
           SELECT 1704067200000000 + 3600000000 * i AS key_us
           FROM range(0, 721) t(i))
         SELECT f.key_us, coalesce(c.n, 0) AS doc_count
         FROM frames f LEFT JOIN c USING (key_us)
         ORDER BY key_us""",
    "q_agg_date_range" ->
      """WITH b AS (
           SELECT value,
             CASE WHEN ts < TIMESTAMP '2024-01-10' THEN '*-2024-01-10'
                  WHEN ts < TIMESTAMP '2024-01-20' THEN '2024-01-10-2024-01-20'
                  ELSE '2024-01-20-*' END AS key
           FROM events)
         SELECT key, count(*) AS doc_count, round(sum(value), 2) AS total
         FROM b GROUP BY key ORDER BY key""",
    "q_agg_missing" ->
      """SELECT count(*) AS doc_count FROM documents WHERE doc_id % 7 = 0""",
    "q_agg_terms_partition" ->
      // union of the two hash partitions == the plain terms result:
      // disjointness + completeness in one hash compare
      """SELECT lang AS key, count(*) AS doc_count
         FROM documents WHERE lang IS NOT NULL
         GROUP BY lang ORDER BY key""",
    "q_agg_terms_missing" ->
      """SELECT coalesce(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END,
                'unknown') AS key,
           count(*) AS doc_count, avg(n_chars) AS avg_chars
         FROM documents
         GROUP BY 1 ORDER BY key""",
    "q_agg_filter_global" ->
      """SELECT 'all' AS key, count(*) AS doc_count,
           round(sum(value), 2) AS total
         FROM events
         UNION ALL
         SELECT 'big', count(*), round(sum(value), 2)
         FROM events
         WHERE event_type = 'purchase' AND value >= 500
         ORDER BY key""",
    "q_agg_sibling_max" ->
      // the per-bucket sums round AFTER the max (one double sum per day is
      // the only order-dependent step; max of exact values is exact)
      """WITH d AS (
           SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             sum(value) AS total
           FROM events GROUP BY 1)
         SELECT round(max(total), 2) AS value FROM d""",
    "q_agg_histogram_offset" ->
      """SELECT floor((value - 5) / 20) * 20 + 5 AS key, count(*) AS doc_count,
           count(event_id) AS n
         FROM events WHERE value IS NOT NULL
         GROUP BY 1 ORDER BY key""",
    "q_agg_filters_other" ->
      // guarded counts from one pass; the catch-all is null-safe NOT-any
      """WITH t AS (
           SELECT regexp_matches(lower(text), '\bspark\b') AS m1,
                  regexp_matches(lower(text), '\bstream\b') AS m2,
                  n_chars
           FROM documents)
         SELECT 'sp' AS key, count(*) FILTER (WHERE m1) AS doc_count,
           CAST(sum(n_chars) FILTER (WHERE m1) AS BIGINT) AS chars FROM t
         UNION ALL
         SELECT 'st', count(*) FILTER (WHERE m2),
           CAST(sum(n_chars) FILTER (WHERE m2) AS BIGINT) FROM t
         UNION ALL
         SELECT 'rest',
           count(*) FILTER (WHERE NOT coalesce(m1, FALSE) AND NOT coalesce(m2, FALSE)),
           CAST(sum(n_chars) FILTER (WHERE NOT coalesce(m1, FALSE)
             AND NOT coalesce(m2, FALSE)) AS BIGINT) FROM t""",
    "q_agg_top_metrics" ->
      // per type, the value at the latest micros timestamp; ties break to
      // the larger value (the engine's declared deterministic tiebreak)
      """WITH r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY epoch_ns(ts) // 1000 DESC, value DESC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS doc_count
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL)
         SELECT event_type AS key, doc_count, value AS latest_value
         FROM r WHERE rn = 1 ORDER BY key""",
    "q_agg_rare_terms" ->
      """SELECT user_id AS key, count(*) AS doc_count
         FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
         GROUP BY 1 HAVING count(*) <= 3
         ORDER BY doc_count, key""",
    "q_agg_multi_terms" ->
      """SELECT event_type, user_id, count(*) AS doc_count,
           count(event_id) AS events
         FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
         GROUP BY 1, 2
         ORDER BY doc_count DESC, event_type, user_id LIMIT 20""",
    "q_agg_stats_bucket" ->
      // bucket totals are integer-exact; floor-scaled avg/percentile
      """WITH b AS (
           SELECT source AS key, count(*) AS doc_count, sum(n_chars) AS total
           FROM documents WHERE source IS NOT NULL GROUP BY 1)
         SELECT count(total) AS count, CAST(min(total) AS BIGINT) AS min,
           CAST(max(total) AS BIGINT) AS max,
           CAST(floor(avg(total) * 100) AS BIGINT) AS avg_x100,
           CAST(sum(total) AS BIGINT) AS sum,
           CAST(floor(quantile_cont(CAST(doc_count AS DOUBLE), 0.5) * 100)
             AS BIGINT) AS p50_x100
         FROM b""",
    "q_agg_extended_stats" ->
      """SELECT count(value) AS v_count, min(value) AS v_min, max(value) AS v_max,
           round(avg(value), 2) AS v_avg, round(sum(value), 2) AS v_sum,
           round(sum(value * value), 2) AS v_sum_sq,
           round(var_pop(value), 2) AS v_variance,
           round(stddev_pop(value), 2) AS v_std_dev
         FROM events""",
    "q_agg_weighted_avg" ->
      """SELECT round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
           AS wavg_price
         FROM lineitem""",
    "q_agg_range" ->
      """WITH b AS (
           SELECT o_totalprice,
             CASE WHEN o_totalprice < 100000 THEN '*-100000.0'
                  WHEN o_totalprice < 300000 THEN '100000.0-300000.0'
                  ELSE 'big' END AS key
           FROM orders)
         SELECT key, count(*) AS doc_count, count(o_totalprice) AS price_count,
           min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
           round(avg(o_totalprice), 2) AS price_avg,
           round(sum(o_totalprice), 2) AS price_sum
         FROM b GROUP BY key ORDER BY key""",
    "q_agg_histogram" ->
      """SELECT floor(value / 20) * 20 AS key, count(*) AS doc_count,
           count(DISTINCT user_id) AS users
         FROM events WHERE event_type = 'click'
         GROUP BY 1 ORDER BY key""",
    "q_agg_composite" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS doc_count,
           round(sum(l_quantity), 2) AS qty
         FROM lineitem
         WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           AND (l_returnflag > 'A'
                OR (l_returnflag = 'A' AND l_linestatus > 'F'))
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus LIMIT 10""",
    "q_agg_percentiles" ->
      """SELECT round(quantile_cont(value, 0.50), 4) AS v_p50,
           round(quantile_cont(value, 0.90), 4) AS v_p90,
           round(quantile_cont(value, 0.99), 4) AS v_p99
         FROM events WHERE event_type = 'view'""",
    "q_agg_adjacency" ->
      """WITH w AS (SELECT
           count(CASE WHEN value >= 300 THEN 1 END) AS c_big,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS c_clicks,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS c_views,
           count(CASE WHEN value >= 300 AND event_type = 'click' THEN 1 END)
             AS c_big_clicks,
           count(CASE WHEN value >= 300 AND event_type = 'view' THEN 1 END)
             AS c_big_views
         FROM events)
         SELECT key, doc_count FROM (
           SELECT 'big' AS key, c_big AS doc_count FROM w
           UNION ALL SELECT 'clicks', c_clicks FROM w
           UNION ALL SELECT 'views', c_views FROM w
           UNION ALL SELECT 'big&clicks', c_big_clicks FROM w
           UNION ALL SELECT 'big&views', c_big_views FROM w
           UNION ALL SELECT 'clicks&views', 0 FROM w) t
         WHERE doc_count > 0""",
    "q_agg_auto_date" ->
      """WITH s AS (SELECT min(epoch_ns(ts) // 1000) AS lo,
                    max(epoch_ns(ts) // 1000) AS hi FROM events),
         r AS (SELECT t.r AS r, t.lbl AS lbl FROM (VALUES
                 (1000000,'1s'),(5000000,'5s'),(10000000,'10s'),(30000000,'30s'),
                 (60000000,'1m'),(300000000,'5m'),(600000000,'10m'),(1800000000,'30m'),
                 (3600000000,'1h'),(10800000000,'3h'),(43200000000,'12h'),
                 (86400000000,'1d'),(604800000000,'7d'),(2592000000000,'30d'),
                 (7776000000000,'90d'),(31536000000000,'365d')) t(r, lbl), s
               WHERE (s.hi // t.r - s.lo // t.r + 1) <= 15 ORDER BY t.r LIMIT 1)
         SELECT e.us - e.us % r.r AS key_us, count(*) AS doc_count,
           round(avg(e.value), 2) AS avg_value, r.lbl AS bucket_interval
         FROM (SELECT epoch_ns(ts) // 1000 AS us, value FROM events
               WHERE ts IS NOT NULL) e, r
         GROUP BY 1, 4 ORDER BY key_us""",
    "q_agg_rate" ->
      """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, value FROM events)
         SELECT us - us % 86400000000 AS key_us, count(*) AS doc_count,
           round(sum(value) / 24, 2) AS hourly_value
         FROM ev GROUP BY 1 ORDER BY key_us""",
    "q_agg_boxplot" ->
      """SELECT event_type AS key, count(*) AS doc_count,
           min(value) AS v_min, max(value) AS v_max,
           round(quantile_cont(value, 0.25), 4) AS v_q1,
           round(quantile_cont(value, 0.50), 4) AS v_q2,
           round(quantile_cont(value, 0.75), 4) AS v_q3
         FROM events WHERE event_type IS NOT NULL GROUP BY event_type""",
    "q_agg_string_stats" ->
      """WITH chars AS (
           SELECT unnest(string_split(text, '')) AS ch
           FROM documents WHERE text IS NOT NULL)
         SELECT (SELECT count(text) FROM documents) AS t_count,
           (SELECT CAST(min(length(text)) AS INT) FROM documents) AS t_min_length,
           (SELECT CAST(max(length(text)) AS INT) FROM documents) AS t_max_length,
           (SELECT round(avg(length(text)), 2) FROM documents) AS t_avg_length,
           round(entropy(ch), 2) AS t_entropy
         FROM chars""",
    "q_agg_matrix_stats" ->
      """SELECT count(*) AS m_count,
           round(avg(value), 4) AS m_mean_value,
           round(avg(user_id), 4) AS m_mean_user_id,
           round(var_samp(value), 4) AS m_variance_value,
           round(var_samp(CAST(user_id AS DOUBLE)), 4) AS m_variance_user_id,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS m_covariance,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS m_correlation
         FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL""",
    "q_agg_ttest" ->
      """WITH s AS (SELECT
           avg(CASE WHEN event_type = 'click' THEN value END) AS ma,
           var_samp(CASE WHEN event_type = 'click' THEN value END) AS va,
           count(CASE WHEN event_type = 'click' THEN value END) AS na,
           avg(CASE WHEN event_type = 'view' THEN value END) AS mb,
           var_samp(CASE WHEN event_type = 'view' THEN value END) AS vb,
           count(CASE WHEN event_type = 'view' THEN value END) AS nb
         FROM events)
         SELECT round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t FROM s""",
    "q_agg_mad" ->
      """WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events)
         SELECT round(quantile_cont(abs(value - med), 0.5), 4) AS vmad
         FROM events, m""",
    "q_agg_filters" ->
      """WITH w AS (
           SELECT
             count(CASE WHEN event_type = 'click' THEN 1 END) AS c_clicks,
             avg(CASE WHEN event_type = 'click' THEN value END) AS a_clicks,
             count(CASE WHEN value >= 400 THEN 1 END) AS c_big,
             avg(CASE WHEN value >= 400 THEN value END) AS a_big
           FROM events)
         SELECT 'big' AS key, c_big AS doc_count, round(a_big, 2) AS avg_value FROM w
         UNION ALL
         SELECT 'clicks', c_clicks, round(a_clicks, 2) FROM w""",
    "q_agg_nested" ->
      """WITH g AS (
           SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
             event_type, count(*) AS doc_count, avg(value) AS avg_value
           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
         r AS (
           SELECT *, row_number() OVER
             (PARTITION BY key ORDER BY doc_count DESC, event_type) AS bucket_rank
           FROM g)
         SELECT key, event_type, doc_count, round(avg_value, 2) AS avg_value,
           CAST(bucket_rank AS INT) AS bucket_rank
         FROM r WHERE bucket_rank <= 2 ORDER BY key, bucket_rank""",
    "q_agg_indexed" ->
      """SELECT lang AS key, count(*) AS doc_count, avg(n_chars) AS avg_chars
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL
         GROUP BY lang
         ORDER BY doc_count DESC, key LIMIT 5""",
    "q_agg_significant" ->
      """WITH fg AS (
           SELECT lang AS key, count(*) AS doc_count FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL
           GROUP BY 1),
         bg AS (
           SELECT lang AS key, count(*) AS bg_count FROM documents
           WHERE lang IS NOT NULL GROUP BY 1),
         ft AS (
           SELECT count(*) AS fg_total FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL),
         bt AS (SELECT count(*) AS bg_total FROM documents WHERE lang IS NOT NULL),
         s AS (
           SELECT key, doc_count, bg_count,
             (CAST(doc_count AS DOUBLE) / fg_total
                - CAST(bg_count AS DOUBLE) / bg_total)
               * ((CAST(doc_count AS DOUBLE) / fg_total)
                  / (CAST(bg_count AS DOUBLE) / bg_total)) AS raw
           FROM fg JOIN bg USING (key), ft, bt
           WHERE CAST(doc_count AS DOUBLE) / fg_total
               > CAST(bg_count AS DOUBLE) / bg_total)
         SELECT key, doc_count, bg_count, round(raw, 6) AS score
         FROM s ORDER BY raw DESC, key LIMIT 10""",
    "q_agg_significant_bgf" ->
      """WITH fg AS (
           SELECT lang AS key, count(*) AS doc_count FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
             AND lang IN ('en', 'de', 'fr') GROUP BY 1),
         bg AS (
           SELECT lang AS key, count(*) AS bg_count FROM documents
           WHERE lang IN ('en', 'de', 'fr') GROUP BY 1),
         ft AS (
           SELECT count(*) AS fg_total FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
             AND lang IN ('en', 'de', 'fr')),
         bt AS (SELECT count(*) AS bg_total FROM documents
                WHERE lang IN ('en', 'de', 'fr')),
         s AS (
           SELECT key, doc_count, bg_count,
             (CAST(doc_count AS DOUBLE) / fg_total
                - CAST(bg_count AS DOUBLE) / bg_total)
               * ((CAST(doc_count AS DOUBLE) / fg_total)
                  / (CAST(bg_count AS DOUBLE) / bg_total)) AS raw
           FROM fg JOIN bg USING (key), ft, bt
           WHERE CAST(doc_count AS DOUBLE) / fg_total
               > CAST(bg_count AS DOUBLE) / bg_total)
         SELECT key, doc_count, bg_count, round(raw, 6) AS score
         FROM s ORDER BY raw DESC, key LIMIT 10""",
    "q_agg_significant_chi" ->
      """WITH fg AS (
           SELECT lang AS key, count(*) AS doc_count FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL
           GROUP BY 1),
         bg AS (
           SELECT lang AS key, count(*) AS bg_count FROM documents
           WHERE lang IS NOT NULL GROUP BY 1),
         ft AS (
           SELECT count(*) AS fg_total FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b') AND lang IS NOT NULL),
         bt AS (SELECT count(*) AS bg_total FROM documents WHERE lang IS NOT NULL),
         s AS (
           SELECT key, doc_count, bg_count,
             CAST(doc_count AS DOUBLE) AS o11,
             fg_total - doc_count AS o12,
             CAST(bg_count - doc_count AS DOUBLE) AS o21,
             bg_total - fg_total - (bg_count - doc_count) AS o22,
             fg_total, bg_total
           FROM fg JOIN bg USING (key), ft, bt
           WHERE CAST(doc_count AS DOUBLE) / fg_total
               > CAST(bg_count AS DOUBLE) / bg_total),
         sc AS (
           SELECT key, doc_count, bg_count,
             bg_total * (o11 * o22 - o12 * o21) * (o11 * o22 - o12 * o21)
               / ((o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22)) AS raw
           FROM s)
         SELECT key, doc_count, bg_count, round(raw, 6) AS score
         FROM sc ORDER BY raw DESC, key LIMIT 10""",
    "q_agg_moving_fn" ->
      """WITH b AS (
           SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
             count(*) AS doc_count
           FROM events GROUP BY 1)
         SELECT key, doc_count,
           max(doc_count) OVER (ORDER BY key
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mx,
           CAST(sum(doc_count) OVER (ORDER BY key
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sm
         FROM b ORDER BY key""",
    "q_agg_matrix_stats" ->
      """WITH m AS (
           SELECT value AS a, CAST(user_id AS DOUBLE) AS b FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL)
         SELECT count(*) AS ms_count,
           round(avg(a), 2) AS mean_value,
           round(avg(b), 2) AS mean_user_id,
           round(var_samp(a), 2) AS variance_value,
           round(var_samp(b), 2) AS variance_user_id,
           round(covar_samp(a, b), 2) AS covariance,
           round(corr(a, b), 4) AS correlation
         FROM m""",
    "q_agg_var_width" ->
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
         b AS (SELECT quantile_cont(value, [0.25, 0.5, 0.75]) AS qs FROM v),
         a AS (SELECT value,
                 len(list_filter(b.qs, q -> q <= value)) AS bucket
               FROM v, b)
         SELECT round(avg(value), 4) AS key, min(value) AS min,
           max(value) AS max, count(*) AS doc_count
         FROM a GROUP BY bucket ORDER BY key""",
    "q_agg_cumulative_card" ->
      """WITH b AS (
           SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
             count(*) AS doc_count, count(DISTINCT user_id) AS daily_users
           FROM events GROUP BY 1),
         f AS (
           SELECT user_id,
             min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) AS key
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         n AS (SELECT key, count(*) AS new_u FROM f GROUP BY key)
         SELECT epoch_us(b.key) AS key_us, b.doc_count, b.daily_users,
           CAST(sum(coalesce(n.new_u, 0)) OVER (ORDER BY b.key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS total_users
         FROM b LEFT JOIN n USING (key) ORDER BY key_us""",
    "q_agg_moving_pctl" ->
      """WITH b AS (
           SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
             count(*) AS doc_count
           FROM events GROUP BY 1)
         SELECT epoch_us(key) AS key_us, doc_count,
           CAST(floor(quantile_cont(CAST(doc_count AS DOUBLE), 0.25) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100) AS BIGINT) AS mp_p25_x100,
           CAST(floor(quantile_cont(CAST(doc_count AS DOUBLE), 0.50) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100) AS BIGINT) AS mp_p50_x100,
           CAST(floor(quantile_cont(CAST(doc_count AS DOUBLE), 0.75) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100) AS BIGINT) AS mp_p75_x100
         FROM b ORDER BY key_us""",
    "q_agg_normalize" ->
      // CAST(sum(...) AS BIGINT): DuckDB's integer sum returns HUGEINT
      // (int128) — a type whose formatting is checker-build-dependent; the
      // r7 driver hash-mismatch set was exactly the oracles emitting raw
      // HUGEINT columns (same pin applied to all of them)
      """WITH b AS (
           SELECT source AS key, count(*) AS doc_count,
             CAST(sum(n_chars) AS BIGINT) AS total
           FROM documents WHERE source IS NOT NULL GROUP BY 1)
         SELECT key, doc_count, total,
           CAST(floor(CAST(total AS DOUBLE) / sum(CAST(total AS DOUBLE)) OVER ()
             * 10000) AS BIGINT) AS share_x10k
         FROM b ORDER BY doc_count DESC, key""",
    "q_agg_percentile_ranks" ->
      """SELECT
           CAST(floor(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) * 100.0
             / count(value) * 100) AS BIGINT) AS pr_100_x100,
           CAST(floor(sum(CASE WHEN value <= 250 THEN 1 ELSE 0 END) * 100.0
             / count(value) * 100) AS BIGINT) AS pr_250_x100,
           CAST(floor(sum(CASE WHEN value <= 400 THEN 1 ELSE 0 END) * 100.0
             / count(value) * 100) AS BIGINT) AS pr_400_x100
         FROM events""",
    "q_agg_bucket_script" ->
      // serial_diff over the FULL bucket frame (declared before the
      // selector), selector filter applied after; integer-exact arithmetic
      """WITH b AS (
           SELECT CAST(floor(n_chars / 200) * 200 AS BIGINT) AS key,
             count(*) AS doc_count, CAST(sum(n_chars) AS BIGINT) AS total
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         p AS (
           SELECT key, doc_count, total,
             CAST(floor((CAST(total AS DOUBLE) / doc_count) * 100) AS BIGINT) AS avg_chars_x100,
             doc_count - lag(doc_count, 1) OVER (ORDER BY key) AS dd
           FROM b)
         SELECT key, doc_count, total, avg_chars_x100, dd
         FROM p WHERE doc_count >= 5 ORDER BY key""",
    "q_agg_bucket_sort" ->
      """WITH b AS (
           SELECT source AS key, count(*) AS doc_count,
             CAST(sum(n_chars) AS BIGINT) AS total
           FROM documents WHERE source IS NOT NULL GROUP BY 1)
         SELECT key, doc_count, total FROM b
         ORDER BY total DESC, key ASC LIMIT 3 OFFSET 1""",
    "q_agg_pipeline" ->
      """WITH b AS (
           SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS key,
             count(*) AS doc_count, sum(value) AS total
           FROM events GROUP BY 1)
         SELECT key, doc_count, round(total, 2) AS total,
           round(sum(total) OVER (ORDER BY key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum,
           round(total - lag(total) OVER (ORDER BY key), 2) AS diff,
           round(avg(CAST(doc_count AS DOUBLE)) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma
         FROM b ORDER BY key""",
    "q_index_terms_agg" ->
      """WITH w AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               x -> len(x) > 0)) AS token
           FROM documents)
         SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
         FROM w GROUP BY token ORDER BY freq DESC, token LIMIT 200""",
    "q_agg_top_hits" ->
      """WITH ranked AS (
           SELECT event_type AS key, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id) AS hit_rank
           FROM events WHERE event_type IS NOT NULL)
         SELECT key, event_id, value, CAST(hit_rank AS INT) AS hit_rank
         FROM ranked WHERE hit_rank <= 2 ORDER BY key, hit_rank""",
    "q_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1 ORDER BY fp""",
    "q_dedup_jaccard" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         words AS (
           SELECT DISTINCT doc_id AS id, w FROM docs,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                    x -> len(x) > 0)) AS t(w)),
         sizes AS (SELECT id, count(*) AS n FROM words GROUP BY id),
         inter AS (
           SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
           FROM words x JOIN words y ON x.w = y.w AND x.id < y.id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter
         JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6
         ORDER BY id_a, id_b""",
    "q_similarity_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         qz AS (
           SELECT vec_id,
             list_transform(emb, x -> CAST(round(
               x * 127.0 / greatest(list_max(list_transform(emb, y -> abs(y))), 1e-30))
               AS INT)) AS q
           FROM e),
         probes AS (SELECT vec_id AS query_id, q AS query_vec FROM qz WHERE vec_id < 5),
         scored AS (
           SELECT p.query_id, z.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(z.q AS DOUBLE[]), CAST(p.query_vec AS DOUBLE[])) AS raw_cos
           FROM qz z, probes p WHERE z.vec_id <> p.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_search_msearch" ->
      """SELECT 0 AS _msearch_index, doc_id FROM documents WHERE lang = 'de'
         UNION ALL
         SELECT 1, doc_id FROM documents WHERE n_chars >= 500""",
    "q_search_span_near" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text),
                 '\bspark(?:\s+\S+){0,3}\s+window\b')
            OR regexp_matches(lower(text),
                 '\bwindow(?:\s+\S+){0,3}\s+spark\b')""",
    "q_search_span_masking" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text),
                 '\bmerge(?:\s+\S+){0,2}\s+join\b')""",
    "q_search_span_first" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text), '^\s*(?:\S+\s+){0,1}the\b')""",
    "q_search_span_or" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text), '\bvector\b')
            OR regexp_matches(lower(text), '\bsort\s+merge\b')""",
    "q_search_span_not" ->
      // DuckDB's RE2 has no lookahead: strip every excluded 'data model'
      // bigram (each consumes exactly one excluded 'data' occurrence;
      // distinct terms cannot overlap), then test for a surviving 'data'
      """SELECT doc_id FROM documents
         WHERE regexp_matches(
                 regexp_replace(lower(text), '\bhash\s+join\b', '', 'g'),
                 '\bhash\b')""",
    "q_agg_nested_path" ->
      // element granularity == the flat orders table; parents = distinct
      // custkeys per bucket
      """SELECT o_orderstatus AS key, count(*) AS doc_count,
              count(DISTINCT o_custkey) AS parents_doc_count,
              round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY 1 ORDER BY doc_count DESC, key""",
    "q_agg_geo_bounds" ->
      """SELECT CAST(max(c_custkey % 180 - 90) AS DOUBLE) AS box_top,
              CAST(min(c_custkey % 180 - 90) AS DOUBLE) AS box_bottom,
              CAST(min((c_custkey * 7) % 360 - 180) AS DOUBLE) AS box_left,
              CAST(max((c_custkey * 7) % 360 - 180) AS DOUBLE) AS box_right
         FROM customer""",
    "q_agg_geo_centroid" ->
      """SELECT CAST(floor(avg(c_custkey % 180 - 90) * 1e6) AS BIGINT) AS lat_e6,
              CAST(floor(avg((c_custkey * 7) % 360 - 180) * 1e6) AS BIGINT) AS lon_e6,
              count(*) AS c_count
         FROM customer""",
    "q_agg_composite_geo" ->
      """WITH pts AS (
           SELECT CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         cl AS (SELECT greatest(least(lat, 85.05112878), -85.05112878) AS latc,
                       lon FROM pts),
         t AS (SELECT
           CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS x,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc))
               + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS y
           FROM cl)
         SELECT '3/' || x || '/' || y AS tile, count(*) AS doc_count,
           count(*) AS n_docs
         FROM t GROUP BY 1 ORDER BY tile LIMIT 20""",
    "q_agg_geotile" ->
      // the web-mercator projection verbatim, lat clipped to ES's bound
      """WITH pts AS (
           SELECT CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         cl AS (SELECT greatest(least(lat, 85.05112878), -85.05112878) AS latc,
                       lon FROM pts),
         t AS (SELECT
           CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS x,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc))
               + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS y
           FROM cl)
         SELECT '3/' || x || '/' || y AS key, count(*) AS doc_count
         FROM t GROUP BY 1 ORDER BY doc_count DESC, key""",
    "q_search_has_child" ->
      """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS doc_id
         FROM orders WHERE o_totalprice >= 300000""",
    "q_search_has_child_inner" ->
      """WITH m AS (
           SELECT 'c' || CAST(o_custkey AS VARCHAR) AS pid,
                  'o' || CAST(o_orderkey AS VARCHAR) AS cid
           FROM orders WHERE o_totalprice >= 300000)
         SELECT pid AS doc_id,
           array_to_string((list_sort(list(cid)))[1:3], ',') AS inner_ids,
           count(*) AS inner_total
         FROM m GROUP BY pid ORDER BY doc_id""",
    "q_search_parent_id" ->
      """SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS doc_id
         FROM orders WHERE o_custkey = 42""",
    "q_search_has_parent" ->
      """SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS doc_id
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_acctbal < 0""",
    "q_search_dsl_nested" ->
      // EXISTS over the parent's orders = the base-table predicate DISTINCT
      """SELECT DISTINCT o_custkey AS doc_id FROM orders
         WHERE o_orderstatus = 'F' AND o_totalprice >= 200000""",
    "q_search_geo_bbox" ->
      """SELECT c_custkey AS doc_id FROM customer
         WHERE (c_custkey % 180 - 90) BETWEEN -10 AND 40
           AND ((c_custkey * 7) % 360 - 180) BETWEEN -50 AND 60""",
    "q_search_geo_polygon" ->
      // convex CCW quad — containment = strictly left of every edge
      // (cross product > 0); equivalent to the engine's ray cast for
      // off-boundary points
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  CAST(c_custkey % 180 - 90 AS DOUBLE) AS py,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS px
           FROM customer)
         SELECT doc_id FROM pts
         WHERE 101.0 * (py - (-20.5)) - (-5.0) * (px - (-60.5)) > 0
           AND  30.0 * (py - (-25.5)) -  56.0 * (px -   40.5)  > 0
           AND -101.0 * (py -   30.5) -  15.0 * (px -   70.5)  > 0
           AND  -30.0 * (py -   45.5) - (-66.0) * (px - (-30.5)) > 0""",
    "q_search_named" ->
      """SELECT doc_id,
           concat_ws(',',
             CASE WHEN regexp_matches(lower(text), '\bspark\b')
                  THEN 'has_spark' END,
             CASE WHEN n_chars >= 400 THEN 'long_doc' END) AS matched
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') OR n_chars >= 400
         ORDER BY doc_id""",
    "q_search_geo_shape" ->
      // the geo_polygon half-plane quad minus the hole box (even-odd
      // with one hole ring = outer AND NOT hole for a hole fully inside)
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  CAST(c_custkey % 180 - 90 AS DOUBLE) AS py,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS px
           FROM customer)
         SELECT doc_id FROM pts
         WHERE 101.0 * (py - (-20.5)) - (-5.0) * (px - (-60.5)) > 0
           AND  30.0 * (py - (-25.5)) -  56.0 * (px -   40.5)  > 0
           AND -101.0 * (py -   30.5) -  15.0 * (px -   70.5)  > 0
           AND  -30.0 * (py -   45.5) - (-66.0) * (px - (-30.5)) > 0
           AND NOT (py > 0.5 AND py < 20.5 AND px > -10.5 AND px < 19.5)""",
    "q_search_geo_shape_envelope" ->
      """SELECT c_custkey AS doc_id FROM customer
         WHERE NOT ((c_custkey % 180 - 90) BETWEEN -10 AND 40
           AND ((c_custkey * 7) % 360 - 180) BETWEEN -50 AND 60)""",
    "q_search_geo_distance" ->
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  radians(CAST(c_custkey % 180 - 90 AS DOUBLE)) AS plat,
                  radians(CAST((c_custkey * 7) % 360 - 180 AS DOUBLE)) AS plon
           FROM customer),
         h AS (
           SELECT doc_id,
                  sin((plat - radians(10.0)) / 2) AS sdlat,
                  sin((plon - radians(20.0)) / 2) AS sdlon,
                  cos(plat) AS cplat
           FROM pts)
         SELECT doc_id FROM h
         WHERE 2 * 6371008.7714150598 *
               asin(sqrt(sdlat * sdlat
                 + cplat * cos(radians(10.0)) * sdlon * sdlon)) <= 3000000.0""",
    "q_search_geo_sort" ->
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  radians(CAST(c_custkey % 180 - 90 AS DOUBLE)) AS plat,
                  radians(CAST((c_custkey * 7) % 360 - 180 AS DOUBLE)) AS plon
           FROM customer),
         h AS (
           SELECT doc_id,
                  sin((plat - radians(10.0)) / 2) AS sdlat,
                  sin((plon - radians(20.0)) / 2) AS sdlon,
                  cos(plat) AS cplat
           FROM pts)
         SELECT doc_id FROM (
           SELECT doc_id,
                  2 * 6371008.7714150598 *
                  asin(sqrt(sdlat * sdlat
                    + cplat * cos(radians(10.0)) * sdlon * sdlon)) AS d
           FROM h)
         ORDER BY d, doc_id LIMIT 100""",
    "q_search_distance_feature" ->
      // the haversine + decay formula verbatim (1.0 * pivot / (pivot + d))
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  radians(CAST(c_custkey % 180 - 90 AS DOUBLE)) AS plat,
                  radians(CAST((c_custkey * 7) % 360 - 180 AS DOUBLE)) AS plon
           FROM customer),
         h AS (
           SELECT doc_id,
                  sin((plat - radians(10.0)) / 2) AS sdlat,
                  sin((plon - radians(20.0)) / 2) AS sdlon,
                  cos(plat) AS cplat
           FROM pts),
         d AS (
           SELECT doc_id,
                  2 * 6371008.7714150598 * asin(sqrt(sdlat * sdlat
                    + cplat * cos(radians(10.0)) * sdlon * sdlon)) AS dist
           FROM h)
         SELECT doc_id,
                CAST(floor(1.0 * 1000000.0 / (1000000.0 + dist) * 1e9) AS BIGINT)
                  AS score_e9
         FROM d""",
    "q_search_rank_feature" ->
      """SELECT doc_id,
              CAST(floor(1.0 * n_chars / (n_chars + 500.0) * 1e9) AS BIGINT)
                AS score_e9
         FROM documents WHERE n_chars IS NOT NULL""",
    "q_search_template" ->
      """SELECT doc_id FROM documents WHERE lang = 'de' AND n_chars >= 400""",
    "q_agg_geohash" ->
      // the engine's bit math verbatim: quantize to 10 bits each, spread
      // (masks are hex 0000FFFF0000FFFF … 5555555555555555 in decimal),
      // interleave lon-first, base32 the four 5-bit groups
      """WITH pts AS (
           SELECT CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         q AS (
           SELECT CAST(least(floor((lon + 180.0) / 360.0 * 1024.0), 1023.0)
                    AS BIGINT) AS lonq,
                  CAST(least(floor((lat + 90.0) / 180.0 * 1024.0), 1023.0)
                    AS BIGINT) AS latq
           FROM pts),
         s0 AS (SELECT (lonq | (lonq << 16)) & 281470681808895 AS a,
                       (latq | (latq << 16)) & 281470681808895 AS b FROM q),
         s1 AS (SELECT (a | (a << 8)) & 71777214294589695 AS a,
                       (b | (b << 8)) & 71777214294589695 AS b FROM s0),
         s2 AS (SELECT (a | (a << 4)) & 1085102592571150095 AS a,
                       (b | (b << 4)) & 1085102592571150095 AS b FROM s1),
         s3 AS (SELECT (a | (a << 2)) & 3689348814741910323 AS a,
                       (b | (b << 2)) & 3689348814741910323 AS b FROM s2),
         s4 AS (SELECT (a | (a << 1)) & 6148914691236517205 AS a,
                       (b | (b << 1)) & 6148914691236517205 AS b FROM s3),
         iv AS (SELECT (a << 1) | b AS v FROM s4),
         k AS (
           SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz',
                    CAST(((v >> 15) & 31) + 1 AS INT), 1)
               || substr('0123456789bcdefghjkmnpqrstuvwxyz',
                    CAST(((v >> 10) & 31) + 1 AS INT), 1)
               || substr('0123456789bcdefghjkmnpqrstuvwxyz',
                    CAST(((v >> 5) & 31) + 1 AS INT), 1)
               || substr('0123456789bcdefghjkmnpqrstuvwxyz',
                    CAST((v & 31) + 1 AS INT), 1) AS key
           FROM iv)
         SELECT key, count(*) AS doc_count FROM k
         GROUP BY key ORDER BY doc_count DESC, key""",
    "q_agg_geo_rings" ->
      """WITH pts AS (
           SELECT radians(CAST(c_custkey % 180 - 90 AS DOUBLE)) AS plat,
                  radians(CAST((c_custkey * 7) % 360 - 180 AS DOUBLE)) AS plon
           FROM customer),
         d AS (
           SELECT 2 * 6371008.7714150598 * asin(sqrt(
                    sin((plat - radians(10.0)) / 2) * sin((plat - radians(10.0)) / 2)
                  + cos(plat) * cos(radians(10.0))
                    * sin((plon - radians(20.0)) / 2) * sin((plon - radians(20.0)) / 2)))
                  / 1000.0 AS km
           FROM pts)
         SELECT CASE WHEN km < 2000 THEN '*-2000.0'
                     WHEN km >= 2000 AND km < 8000 THEN '2000.0-8000.0'
                     ELSE '8000.0-*' END AS key,
                count(*) AS doc_count
         FROM d GROUP BY 1 ORDER BY key""",
    "q_search_span_containing" ->
      // the compiled alternation verbatim: 'table' pinned as gap token #i
      // of the hash..join window, remaining budget slop-1-i
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text),
                 '\bhash\b(?:\s+\S+){0}\s+table\b(?:\s+\S+){0,1}\s+join\b')
            OR regexp_matches(lower(text),
                 '\bhash\b(?:\s+\S+){1}\s+table\b(?:\s+\S+){0,0}\s+join\b')""",
    "q_search_span_within" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text),
                 '\bspark\b(?:\s+\S+){0,1}\s+window\b')""",
    "q_search_span_multi" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text), '\bst[^\s]eam\b')
            OR regexp_matches(lower(text), '\bdup\b')""",
    "q_search_intervals" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text), '\bsort(?:\s+\S+){0,2}\s+merge\b')
            OR regexp_matches(lower(text), '\bvect[^\s]*')""",
    "q_search_wrapper" ->
      "SELECT doc_id FROM documents WHERE lang = 'fr'",
    "q_search_terms_set" ->
      """SELECT doc_id FROM documents
         WHERE (CASE WHEN regexp_matches(lower(text), '\bhash\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bjoin\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bmerge\b') THEN 1 ELSE 0 END) >= 2""",
    "q_search_pinned" ->
      """SELECT doc_id,
              (CASE WHEN doc_id = 5 THEN 2000000 ELSE 0 END
             + CASE WHEN doc_id = 3 THEN 1000000 ELSE 0 END
             + CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END)
                AS _score
         FROM documents
         WHERE doc_id IN (5, 3) OR regexp_matches(lower(text), '\bspark\b')""",
    "q_search_term_ci" ->
      """SELECT doc_id FROM documents WHERE lower(lang) = 'en'""",
    "q_search_rule" ->
      """SELECT doc_id,
              (CASE WHEN doc_id = 7 THEN 2000000 ELSE 0 END
             + CASE WHEN doc_id = 13 THEN 1000000 ELSE 0 END
             + CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END)
                AS _score
         FROM documents
         WHERE (doc_id IN (7, 13) OR regexp_matches(lower(text), '\bspark\b'))
           AND doc_id != 21""",
    "q_search_combined_fields" ->
      """SELECT doc_id FROM documents
         WHERE (regexp_matches(lower(text), '\bde\b') OR regexp_matches(lower(lang), '\bde\b'))
           AND (regexp_matches(lower(text), '\bfast\b') OR regexp_matches(lower(lang), '\bfast\b'))""",
    "q_agg_significant_text" ->
      """WITH fgd AS (SELECT text FROM documents WHERE lang = 'de' AND text IS NOT NULL),
         bgd AS (SELECT text FROM documents WHERE text IS NOT NULL),
         fgt AS (SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS key FROM fgd),
         bgt AS (SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS key FROM bgd),
         fg AS (SELECT key, count(*) AS doc_count FROM fgt GROUP BY key),
         bg AS (SELECT key, count(*) AS bg_count FROM bgt GROUP BY key),
         ft AS (SELECT count(*) AS fg_total FROM fgd),
         bt AS (SELECT count(*) AS bg_total FROM bgd),
         s AS (
           SELECT key, doc_count, bg_count,
             (CAST(doc_count AS DOUBLE) / fg_total
                - CAST(bg_count AS DOUBLE) / bg_total)
               * ((CAST(doc_count AS DOUBLE) / fg_total)
                  / (CAST(bg_count AS DOUBLE) / bg_total)) AS raw
           FROM fg JOIN bg USING (key), ft, bt
           WHERE CAST(doc_count AS DOUBLE) / fg_total
               > CAST(bg_count AS DOUBLE) / bg_total)
         SELECT key, doc_count, bg_count, round(raw, 6) AS score
         FROM s ORDER BY raw DESC, key LIMIT 10""",
    "q_agg_sampler" ->
      """WITH pool AS (
           SELECT doc_id, lang FROM (
             SELECT doc_id, lang,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             FROM documents) t WHERE rn <= 2),
         sample AS (SELECT doc_id, lang FROM pool ORDER BY doc_id LIMIT 100)
         SELECT lang AS key, count(*) AS doc_count FROM sample
         WHERE lang IS NOT NULL GROUP BY lang""",
    "q_search_script" ->
      """SELECT event_id FROM events
         WHERE value * 2 > 150 AND event_type = 'purchase'""",
    "q_search_runtime_field" ->
      """WITH ev AS (SELECT event_id,
             CAST(value - value % 50 AS BIGINT) AS vb FROM events)
         SELECT event_id, vb FROM ev WHERE vb >= 100""",
    "q_percolate" ->
      """SELECT 'sparky' AS query_id, doc_id FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
         UNION ALL
         SELECT 'de_docs', doc_id FROM documents WHERE lang = 'de'
         UNION ALL
         SELECT 'big', doc_id FROM documents WHERE n_chars >= 400""",
    "q_search_terms_lookup" ->
      """SELECT doc_id, lang FROM documents
         WHERE lang IN (SELECT DISTINCT lang FROM documents
                        WHERE source = 'src7' AND lang IS NOT NULL)""",
    "q_suggest_term" ->
      """WITH input AS (
           SELECT DISTINCT unnest(list_filter(
             string_split_regex(lower('sparc streem'), '[^a-z0-9_]+'),
             x -> len(x) > 0)) AS token),
         d AS (
           SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS cand
           FROM documents),
         dict AS (SELECT cand, count(*) AS freq FROM d GROUP BY cand),
         c AS (
           SELECT token, cand AS suggestion,
             CAST(levenshtein(token, cand) AS INT) AS distance, freq
           FROM dict, input
           WHERE cand <> token AND levenshtein(token, cand) <= 2),
         r AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY token
             ORDER BY distance, freq DESC, suggestion) AS INT) AS rank
           FROM c)
         SELECT token, suggestion, distance, freq, rank
         FROM r WHERE rank <= 5 ORDER BY token, rank""",
    "q_suggest_completion" ->
      """WITH d AS (
           SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS suggestion
           FROM documents)
         SELECT suggestion, count(*) AS freq FROM d
         WHERE suggestion LIKE 'str%'
         GROUP BY suggestion ORDER BY freq DESC, suggestion LIMIT 10""",
    "q_suggest_phrase" ->
      // the two-token stupid-backoff pipeline verbatim: occurrence-count
      // unigrams/bigrams, per-position candidates = original token +
      // top-4 corrections (distance, freq DESC, term), score =
      // bigram/uni(w1) or 0.4*uni(w2)/N
      """WITH toks AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                              x -> len(x) > 0) AS ts
           FROM documents),
         uni AS (SELECT unnest(ts) AS w FROM toks),
         dict AS (SELECT w, count(*) AS freq FROM uni GROUP BY w),
         total AS (SELECT count(*) AS n FROM uni),
         bgl AS (SELECT unnest([ts[i] || ' ' || ts[i + 1]
                                FOR i IN range(1, len(ts))]) AS b
                 FROM toks WHERE len(ts) >= 2),
         bigs AS (SELECT b, count(*) AS freq FROM bgl GROUP BY b),
         c0corr AS (
           SELECT w, freq, row_number() OVER
             (ORDER BY levenshtein('pert', w), freq DESC, w) AS r
           FROM dict WHERE w <> 'pert' AND levenshtein('pert', w) <= 2),
         c0 AS (SELECT w, freq FROM c0corr WHERE r <= 4
                UNION ALL
                SELECT 'pert',
                  coalesce((SELECT freq FROM dict WHERE w = 'pert'), 0)),
         c1corr AS (
           SELECT w, freq, row_number() OVER
             (ORDER BY levenshtein('streem', w), freq DESC, w) AS r
           FROM dict WHERE w <> 'streem' AND levenshtein('streem', w) <= 2),
         c1 AS (SELECT w, freq FROM c1corr WHERE r <= 4
                UNION ALL
                SELECT 'streem',
                  coalesce((SELECT freq FROM dict WHERE w = 'streem'), 0)),
         pairs AS (
           SELECT c0.w AS w1, c0.freq AS f1, c1.w AS w2, c1.freq AS f2
           FROM c0, c1),
         scored AS (
           SELECT w1 || ' ' || w2 AS suggestion,
                  CASE WHEN coalesce(bg.freq, 0) > 0 THEN bg.freq / f1
                       ELSE 0.4 * f2 / (SELECT n FROM total) END AS score
           FROM pairs LEFT JOIN bigs bg ON bg.b = w1 || ' ' || w2)
         SELECT suggestion, CAST(floor(score * 1e9) AS BIGINT) AS score_e9,
                CAST(row_number() OVER (ORDER BY score DESC, suggestion) AS INT)
                  AS rank
         FROM scored QUALIFY rank <= 3 ORDER BY rank""",
    "q_suggest_phrase_store" ->
      // the two-token stupid-backoff pipeline verbatim: occurrence-count
      // unigrams/bigrams, per-position candidates = original token +
      // top-4 corrections (distance, freq DESC, term), score =
      // bigram/uni(w1) or 0.4*uni(w2)/N
      """WITH toks AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                              x -> len(x) > 0) AS ts
           FROM documents),
         uni AS (SELECT unnest(ts) AS w FROM toks),
         dict AS (SELECT w, count(*) AS freq FROM uni GROUP BY w),
         total AS (SELECT count(*) AS n FROM uni),
         bgl AS (SELECT unnest([ts[i] || ' ' || ts[i + 1]
                                FOR i IN range(1, len(ts))]) AS b
                 FROM toks WHERE len(ts) >= 2),
         bigs AS (SELECT b, count(*) AS freq FROM bgl GROUP BY b),
         c0corr AS (
           SELECT w, freq, row_number() OVER
             (ORDER BY levenshtein('pert', w), freq DESC, w) AS r
           FROM dict WHERE w <> 'pert' AND levenshtein('pert', w) <= 2),
         c0 AS (SELECT w, freq FROM c0corr WHERE r <= 4
                UNION ALL
                SELECT 'pert',
                  coalesce((SELECT freq FROM dict WHERE w = 'pert'), 0)),
         c1corr AS (
           SELECT w, freq, row_number() OVER
             (ORDER BY levenshtein('streem', w), freq DESC, w) AS r
           FROM dict WHERE w <> 'streem' AND levenshtein('streem', w) <= 2),
         c1 AS (SELECT w, freq FROM c1corr WHERE r <= 4
                UNION ALL
                SELECT 'streem',
                  coalesce((SELECT freq FROM dict WHERE w = 'streem'), 0)),
         pairs AS (
           SELECT c0.w AS w1, c0.freq AS f1, c1.w AS w2, c1.freq AS f2
           FROM c0, c1),
         scored AS (
           SELECT w1 || ' ' || w2 AS suggestion,
                  CASE WHEN coalesce(bg.freq, 0) > 0 THEN bg.freq / f1
                       ELSE 0.4 * f2 / (SELECT n FROM total) END AS score
           FROM pairs LEFT JOIN bigs bg ON bg.b = w1 || ' ' || w2)
         SELECT suggestion, CAST(floor(score * 1e9) AS BIGINT) AS score_e9,
                CAST(row_number() OVER (ORDER BY score DESC, suggestion) AS INT)
                  AS rank
         FROM scored QUALIFY rank <= 3 ORDER BY rank""",
    "q_suggest_completion_ctx" ->
      """WITH d AS (
           SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS suggestion
           FROM documents WHERE lang IN ('en', 'de')),
         f AS (SELECT suggestion, count(*) AS freq FROM d GROUP BY suggestion),
         m AS (
           SELECT suggestion, freq,
             CAST(levenshtein(substr(suggestion, 1, 3), 'sca') AS INT) AS distance
           FROM f WHERE substr(suggestion, 1, 1) = 's')
         SELECT suggestion, freq, distance FROM m WHERE distance <= 1
         ORDER BY freq DESC, suggestion LIMIT 10""",
    "q_suggest_completion_store" ->
      """WITH d AS (
           SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS suggestion
           FROM documents WHERE lang IN ('en', 'de')),
         f AS (SELECT suggestion, count(*) AS freq FROM d GROUP BY suggestion),
         m AS (
           SELECT suggestion, freq,
             CAST(levenshtein(substr(suggestion, 1, 3), 'sca') AS INT) AS distance
           FROM f WHERE substr(suggestion, 1, 1) = 's')
         SELECT suggestion, freq, distance FROM m WHERE distance <= 1
         ORDER BY freq DESC, suggestion LIMIT 10""",
    "q_search_rrf" ->
      """WITH r1 AS (
           SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents WHERE regexp_matches(lower(text), '\bspark\b')),
         r2 AS (
           SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents WHERE regexp_matches(lower(text), '\bquery\b')),
         u AS (SELECT doc_id, 1.0 / (60 + rk) AS c FROM r1
               UNION ALL SELECT doc_id, 1.0 / (60 + rk) FROM r2),
         f AS (SELECT doc_id, sum(c) AS s, CAST(count(*) AS INT) AS m
               FROM u GROUP BY doc_id)
         SELECT doc_id, CAST(floor(s * 1e6) AS BIGINT) AS score_e6,
           m AS _rrf_matched
         FROM f ORDER BY s DESC, doc_id LIMIT 20""",
    "q_rank_eval" ->
      """WITH reqs AS (
           SELECT * FROM (VALUES ('spark_query'), ('stream_window')) t(query_id)),
         h1 AS (
           SELECT CAST(doc_id AS VARCHAR) AS hid,
             row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
             AND regexp_matches(lower(text), '\bquery\b')
           ORDER BY doc_id LIMIT 10),
         r1(id, rating) AS (SELECT * FROM (VALUES
           ('4', 2), ('11', 1), ('99', 1), ('5', 0)) t),
         j1 AS (SELECT h.rk, coalesce(r.rating, 0) AS rating,
                  CASE WHEN coalesce(r.rating, 0) > 0 THEN 1 ELSE 0 END AS rel
                FROM h1 h LEFT JOIN r1 r ON r.id = h.hid),
         m1 AS (
           SELECT 'spark_query' AS query_id,
             round(sum(rel) / 10.0, 4) AS precision_at_k,
             round(sum(rel) / 3.0, 4) AS recall_at_k,
             round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rk END), 0), 4) AS mrr,
             round(coalesce(sum(CASE WHEN rel = 1
               THEN (pow(2.0, rating) - 1) / log2(rk + 1.0) ELSE 0 END), 0), 4) AS dcg
           FROM j1),
         h2 AS (
           SELECT CAST(doc_id AS VARCHAR) AS hid,
             row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents
           WHERE regexp_matches(lower(text), '\bstream\b')
             AND regexp_matches(lower(text), '\bwindow\b')
           ORDER BY doc_id LIMIT 10),
         r2(id, rating) AS (SELECT * FROM (VALUES
           ('3', 1), ('7', 2), ('200', 1)) t),
         j2 AS (SELECT h.rk, coalesce(r.rating, 0) AS rating,
                  CASE WHEN coalesce(r.rating, 0) > 0 THEN 1 ELSE 0 END AS rel
                FROM h2 h LEFT JOIN r2 r ON r.id = h.hid),
         m2 AS (
           SELECT 'stream_window' AS query_id,
             round(sum(rel) / 10.0, 4) AS precision_at_k,
             round(sum(rel) / 3.0, 4) AS recall_at_k,
             round(coalesce(1.0 / min(CASE WHEN rel = 1 THEN rk END), 0), 4) AS mrr,
             round(coalesce(sum(CASE WHEN rel = 1
               THEN (pow(2.0, rating) - 1) / log2(rk + 1.0) ELSE 0 END), 0), 4) AS dcg
           FROM j2)
         SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY query_id""",
    "q_mix_temperature" ->
      """WITH stats AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> len(x) > 0))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS raw FROM stats),
         t AS (SELECT sum(raw) AS total FROM w)
         SELECT source, n_docs, n_tokens,
           round(raw / total, 4) AS weight,
           round(least(CAST(1 AS DOUBLE), 2000 * (raw / total) / n_tokens), 4)
             AS keep_frac
         FROM w, t ORDER BY source""",
    "q_agg_children" ->
      """SELECT c_mktsegment AS key, count(*) AS doc_count,
           round(avg(o_totalprice), 2) AS avg_price
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 10""",
    "q_agg_random_sampler" ->
      """SELECT lang AS key, count(*) AS doc_count FROM documents
         WHERE ((doc_id % 1000003 + 42) * 1103515245 + 12345) % 1000000 < 250000
         GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 10""",
    "q_agg_parent" ->
      """SELECT c_mktsegment AS key, count(*) AS doc_count,
           CAST(floor(avg(c_acctbal) * 100) AS BIGINT) AS avg_bal_x100
         FROM customer
         WHERE c_custkey IN (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 10""",
    "q_agg_categorize" ->
      """WITH k AS (
           SELECT array_to_string(list_slice(list_filter(
               string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
               x -> x <> ''), 1, 3), ' ') AS key
           FROM documents WHERE text IS NOT NULL)
         SELECT key, count(*) AS doc_count FROM k WHERE key <> ''
         GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 8""",
    "q_agg_ip_range" ->
      """WITH ips AS (
           SELECT (c_custkey % 223 + 1) * CAST(16777216 AS BIGINT)
                + ((c_custkey * 3) % 256) * 65536
                + ((c_custkey * 7) % 256) * 256
                + ((c_custkey * 11) % 256) AS ip
           FROM customer),
         b AS (
           SELECT CASE
             WHEN ip < 64 * CAST(16777216 AS BIGINT) THEN '*-64.0.0.0'
             WHEN ip < 128 * CAST(16777216 AS BIGINT) THEN '64.0.0.0-128.0.0.0'
             WHEN ip >= 200 * CAST(16777216 AS BIGINT)
               AND ip < 208 * CAST(16777216 AS BIGINT)
               THEN '200.0.0.0/5'
             END AS key
           FROM ips)
         SELECT key, count(*) AS doc_count FROM b WHERE key IS NOT NULL
         GROUP BY 1 ORDER BY key""",
    "q_agg_ip_prefix" ->
      """WITH ips AS (
           SELECT (c_custkey % 223 + 1) * CAST(16777216 AS BIGINT)
                + ((c_custkey * 3) % 256) * 65536
                + ((c_custkey * 7) % 256) * 256
                + ((c_custkey * 11) % 256) AS ip
           FROM customer),
         n AS (SELECT (ip // 1048576) * 1048576 AS net FROM ips)
         SELECT CAST(net // 16777216 % 256 AS VARCHAR) || '.' ||
                CAST(net // 65536 % 256 AS VARCHAR) || '.' ||
                CAST(net // 256 % 256 AS VARCHAR) || '.' ||
                CAST(net % 256 AS VARCHAR) || '/12' AS key,
                count(*) AS doc_count
         FROM n GROUP BY 1 ORDER BY key""",
    "q_agg_frequent_sets" ->
      """WITH t AS (SELECT count(*) AS total FROM documents),
         sets AS (
           SELECT 'lang=' || lang AS key, 1 AS set_size, count(*) AS doc_count
           FROM documents WHERE lang IS NOT NULL GROUP BY 1
           UNION ALL
           SELECT 'source=' || source, 1, count(*)
           FROM documents WHERE source IS NOT NULL GROUP BY 1
           UNION ALL
           SELECT 'lang=' || lang || ',source=' || source, 2, count(*)
           FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
           GROUP BY 1)
         SELECT key, set_size, doc_count,
           CAST(floor((CAST(doc_count AS DOUBLE) / total) * 1000000) AS BIGINT)
             AS support_x1m
         FROM sets, t
         WHERE CAST(doc_count AS DOUBLE) / total >= 0.01
         ORDER BY doc_count DESC, key LIMIT 12""",
    "q_agg_change_point" ->
      """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us FROM events),
         b AS (SELECT us - us % 86400000000 AS key_us,
                 CAST(count(*) AS DOUBLE) AS c
               FROM ev GROUP BY 1),
         s AS (SELECT key_us,
                 row_number() OVER (ORDER BY key_us) AS t,
                 lead(key_us) OVER (ORDER BY key_us) AS next_key_us,
                 sum(c) OVER (ORDER BY key_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 count(*) OVER () AS n,
                 sum(c) OVER () AS tot
               FROM b),
         sc AS (SELECT key_us, next_key_us,
                 abs(cum / t - (tot - cum) / (n - t))
                   * sqrt((t * (n - t)) / CAST(n AS DOUBLE)) AS stat
               FROM s WHERE t >= 2 AND t <= n - 2)
         SELECT next_key_us AS change_key_us,
           CAST(floor(stat * 1000) AS BIGINT) AS stat_x1k
         FROM sc ORDER BY stat DESC, key_us LIMIT 1""",
    "q_agg_bucket_corr" ->
      """WITH b AS (SELECT event_type, count(*) AS c FROM events
                    WHERE event_type IS NOT NULL GROUP BY 1),
         s AS (SELECT row_number() OVER (ORDER BY c DESC, event_type) AS r,
                 event_type, CAST(c AS DOUBLE) AS x FROM b
               ORDER BY c DESC, event_type LIMIT 10),
         o AS (SELECT row_number() OVER (ORDER BY event_type) AS t, x FROM s),
         a AS (SELECT sum(x) AS sx, sum(x * x) AS sxx,
                 sum(x * CAST(t AS DOUBLE)) AS sxy FROM o)
         SELECT CAST(floor(((5.0 * sxy - sx * 15.0)
             / (sqrt(5.0 * sxx - sx * sx) * sqrt(50.0))) * 1000000) AS BIGINT)
           AS corr_x1m
         FROM a""",
    "q_agg_ks_test" ->
      """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us FROM events),
         b AS (SELECT us - us % 86400000000 AS key_us,
                 CAST(count(*) AS DOUBLE) AS c
               FROM ev GROUP BY 1),
         s AS (SELECT key_us,
                 row_number() OVER (ORDER BY key_us) AS t,
                 sum(c) OVER (ORDER BY key_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER () AS tot
               FROM b)
         SELECT CAST(floor(max(abs(cum / tot - CAST(t AS DOUBLE) / 30.0))
             * 1000000) AS BIGINT) AS d_x1m
         FROM s""",
    "q_agg_composite_date" ->
      """WITH b AS (
           SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS d,
                  event_type AS t, count(*) AS doc_count, avg(value) AS v
           FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2)
         SELECT d, t, doc_count, CAST(floor(v * 100) AS BIGINT) AS v_x100
         FROM b ORDER BY d, t LIMIT 8""",
    "q_agg_scripted_metric" ->
      """SELECT lang AS key, count(*) AS doc_count,
           CAST(sum(n_chars * 2 + 1) AS BIGINT) AS weight
         FROM documents WHERE lang IS NOT NULL
         GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 5""",
    "q_agg_geo_line" ->
      """WITH pts AS (
           SELECT c_nationkey AS k, c_custkey AS s,
             CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
             CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer)
         SELECT k AS key, count(*) AS doc_count,
           array_to_string(list_slice(
             list(lat || ',' || lon ORDER BY s), 1, 100), ';') AS line
         FROM pts GROUP BY k ORDER BY doc_count DESC, key LIMIT 5""",
    "q_agg_sampler_plain" ->
      """WITH s AS (
           SELECT n_chars FROM documents ORDER BY doc_id LIMIT 100)
         SELECT CAST(floor(avg(CAST(n_chars AS DOUBLE)) * 100) AS BIGINT)
             AS avg_chars_x100
         FROM s""",
    "q_search_script_score" ->
      """WITH h AS (
           SELECT doc_id, n_chars, 1 AS s FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b'))
         SELECT doc_id, CAST(100 * s + n_chars % 7 AS BIGINT) AS _score
         FROM h ORDER BY _score DESC, doc_id LIMIT 50""",
    "q_termvectors" ->
      """WITH t AS (
           SELECT CAST(doc_id AS VARCHAR) AS _tv_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               x -> len(x) > 0) AS tk
           FROM documents WHERE doc_id IN (3, 17)),
         p AS (SELECT _tv_id, unnest(tk) AS term, tk FROM t),
         pd AS (
           SELECT _tv_id, term, count(*) AS term_freq,
             CAST(min(list_position(tk, term)) AS BIGINT) AS first_position
           FROM p GROUP BY _tv_id, term),
         alltk AS (
           SELECT unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0))) AS term
           FROM documents),
         df AS (SELECT term, count(*) AS doc_freq FROM alltk GROUP BY term)
         SELECT pd._tv_id, pd.term, pd.term_freq, pd.first_position,
           coalesce(df.doc_freq, CAST(0 AS BIGINT)) AS doc_freq
         FROM pd LEFT JOIN df USING (term)
         ORDER BY _tv_id, term""",
    "q_field_caps" ->
      """SELECT * FROM (VALUES
           ('doc_id', 'long', true, true),
           ('lang', 'text', true, false),
           ('n_chars', 'long', true, true),
           ('source', 'text', true, false),
           ('text', 'text', true, false))
         t(field, es_type, searchable, aggregatable)
         ORDER BY field""",
    "q_analyze_custom" ->
      // hand-derived through the declared chain (lowercase → asciifolding
      // → stop → unique → stemmer); the chain logic itself is spec-tested
      """SELECT * FROM (VALUES
           ('quick', CAST(1 AS BIGINT)), ('brown', 2), ('fox', 3),
           ('lazy', 4), ('ingenieur', 5), ('visit', 6), ('queri', 7))
           t(token, position)
         ORDER BY position""",
    "q_analyze" ->
      """SELECT * FROM (VALUES
           ('spark', CAST(1 AS BIGINT)), ('streaming', 2), ('joins', 3),
           ('fast', 4), ('scans', 5), ('merge_sort', 6)) t(token, position)
         ORDER BY position""",
    "q_mget" ->
      """WITH req(id, ord) AS (SELECT * FROM (VALUES
             ('17', CAST(0 AS BIGINT)), ('3', 1), ('999999', 2),
             ('42', 3), ('7', 4)) t)
         SELECT req.ord AS _ord, req.id AS _id,
           d.doc_id IS NOT NULL AS found,
           d.text, d.lang, d.source, d.n_chars
         FROM req LEFT JOIN documents d ON CAST(d.doc_id AS VARCHAR) = req.id
         ORDER BY _ord""",
    "q_scroll" ->
      """WITH r AS (
           SELECT doc_id, source, n_chars,
             row_number() OVER (ORDER BY doc_id) AS rn
           FROM documents)
         SELECT doc_id, source, n_chars,
           CAST((rn - 1) // 100 + 1 AS INT) AS page
         FROM r WHERE rn <= 300 ORDER BY doc_id""",
    "q_esql_stats" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty,
           round(max(l_extendedprice), 2) AS hi
         FROM lineitem WHERE l_quantity > 10
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_esql_mad" ->
      """WITH m AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1)
         SELECT e.event_type,
           round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS vmad,
           count(*) AS n
         FROM events e JOIN m USING (event_type)
         GROUP BY 1 ORDER BY 1""",
    "q_esql_to_ip" ->
      """WITH t AS (
           SELECT c_custkey AS doc_id,
             CASE c_custkey % 3
               WHEN 0 THEN (c_custkey % 223 + 1) || '.' || (c_custkey * 3) % 256
                 || '.' || (c_custkey * 7) % 256 || '.' || (c_custkey * 11) % 256
               WHEN 1 THEN (c_custkey % 223 + 1) || '.' || (c_custkey * 3) % 256
                 || '.' || (c_custkey * 7) % 256 || '.' || (c_custkey * 11) % 256
                 || '.9'
               ELSE '300.' || (c_custkey * 3) % 256 || '.'
                 || (c_custkey * 7) % 256 || '.' || (c_custkey * 11) % 256
             END AS raw
           FROM customer)
         SELECT doc_id, raw,
           CASE WHEN regexp_full_match(raw,
             '(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}')
           THEN raw END AS ip
         FROM t ORDER BY doc_id""",
    "q_esql_stats_ext" ->
      """SELECT event_type, round(stddev_pop(value), 4) AS sd, count(*) AS n,
           md5(event_type) AS tag, repeat('ab', 2) AS bar,
           '  ' || event_type AS pad
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_esql_eval" ->
      """SELECT doc_id, n_chars * 2 + length(lang) AS chars2,
           lang || '-' || source AS tag
         FROM documents
         WHERE lang IN ('en', 'fr') AND text LIKE '%spark%'
         ORDER BY doc_id""",
    "q_esql_lookup" ->
      """SELECT c_mktsegment, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY 1""",
    "q_esql_dissect" ->
      """SELECT c_mktsegment AS seg, count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1""",
    "q_search_retriever" ->
      """WITH r1 AS (
           SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents WHERE regexp_matches(lower(text), '\bspark\b')),
         r2 AS (
           SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
           FROM documents WHERE regexp_matches(lower(text), '\bquery\b')),
         u AS (SELECT doc_id, 1.0 / (60 + rk) AS c FROM r1
               UNION ALL SELECT doc_id, 1.0 / (60 + rk) FROM r2),
         f AS (SELECT doc_id, sum(c) AS s, CAST(count(*) AS INT) AS m
               FROM u GROUP BY doc_id)
         SELECT doc_id, CAST(floor(s * 1e6) AS BIGINT) AS score_e6,
           m AS _rrf_matched
         FROM f ORDER BY s DESC, doc_id LIMIT 20""",
    "q_mix_epochs" ->
      """WITH d AS (
           SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 1.3
                         WHEN 'src2' THEN 0.5 ELSE -1 END AS e,
             ((doc_id % 1000003 + 7) * 1103515245 + 12345) % 1000000 AS b
           FROM documents),
         c AS (
           SELECT doc_id, source,
             CAST(floor(e) AS BIGINT) +
               (CASE WHEN b < CAST((e - floor(e)) * 1000000 AS BIGINT)
                     THEN 1 ELSE 0 END) AS copies
           FROM d WHERE e >= 0)
         SELECT doc_id, source, unnest(generate_series(0, copies - 1)) AS epoch
         FROM c WHERE copies > 0
         ORDER BY doc_id, epoch""",
    "q_search_index_pattern" ->
      """SELECT doc_id, lang, n_chars, 'docs_' || lang AS _index
         FROM documents WHERE lang IN ('en', 'fr') ORDER BY doc_id""",
    "q_esql_metadata" ->
      """SELECT * FROM (
           SELECT 'lineitem' AS _index, count(*) AS c FROM lineitem
           UNION ALL SELECT 'orders', count(*) FROM orders) t
         ORDER BY _index""",
    "q_terms_enum" ->
      """SELECT DISTINCT source AS term FROM documents
         WHERE source LIKE 'src1%' ORDER BY term LIMIT 8""",
    "q_search_synonyms" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bquick\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bfast\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\brapid\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END)
             AS _score
         FROM documents
         WHERE (regexp_matches(lower(text), '\bquick\b')
             OR regexp_matches(lower(text), '\bfast\b')
             OR regexp_matches(lower(text), '\brapid\b'))
           AND regexp_matches(lower(text), '\bspark\b')
         ORDER BY doc_id""",
    "q_search_sparse_vector" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         tf AS (
           SELECT doc_id, w, count(*) AS c FROM toks WHERE length(w) > 0
           GROUP BY 1, 2),
         sc AS (
           SELECT doc_id,
             sum(CASE WHEN w = 'spark' THEN 2.0 * c
                      WHEN w = 'streaming' THEN 1.0 * c ELSE 0 END) AS s
           FROM tf GROUP BY 1)
         SELECT doc_id, CAST(s AS BIGINT) AS score FROM sc WHERE s > 0
         ORDER BY s DESC, doc_id LIMIT 20""",
    "q_reindex" ->
      """SELECT doc_id, lang, upper(source) AS source, n_chars AS chars
         FROM documents WHERE lang = 'en' ORDER BY doc_id""",
    "q_snapshot_restore" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    "q_search_min_score" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END)
             AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
           AND regexp_matches(lower(text), '\bbatch\b')
         ORDER BY doc_id""",
    "q_count" ->
      """SELECT count(*) AS count FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') AND lang = 'en'""",
    "q_transform_pivot" ->
      """SELECT o_orderstatus AS status,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(o_orderkey) AS n, round(sum(o_totalprice), 2) AS total,
           count(DISTINCT o_custkey) AS custs
         FROM orders GROUP BY 1, 2 ORDER BY status, month""",
    "q_transform_latest" ->
      """SELECT user_id, event_id, us AS ts_us FROM (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "q_sql" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE n_chars >= 200
         GROUP BY lang ORDER BY lang LIMIT 10""",
    "q_sql_join" ->
      """SELECT c.c_mktsegment AS seg, count(*) AS n
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE o.o_totalprice > 150000
         GROUP BY c.c_mktsegment ORDER BY seg""",
    "q_admin_stats" ->
      """SELECT count(*) AS docs, count(text) AS text_docs,
           count(lang) AS lang_docs, count(source) AS source_docs,
           count(DISTINCT lang) AS lang_cardinality,
           CAST(sum(length(text)) AS BIGINT) AS text_bytes
         FROM documents""",
    "q_admin_stats_segments" ->
      """SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS segment,
           count(*) AS docs,
           CAST(sum(COALESCE(length(event_type), 0)
             + COALESCE(length(props), 0)) AS BIGINT) AS store_bytes,
           count(event_id) AS docs_event_id, count(ts) AS docs_ts,
           count(user_id) AS docs_user_id,
           count(event_type) AS docs_event_type,
           count(value) AS docs_value, count(props) AS docs_props
         FROM events GROUP BY 1 ORDER BY segment""",
    "q_esql_inlinestats" ->
      """WITH g AS (
           SELECT l_returnflag AS rf, sum(l_quantity) AS gtotal
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_returnflag, round(gtotal, 2) AS gtotal,
           CAST(floor(l_quantity * 100000 / gtotal) AS BIGINT) AS share_e5
         FROM lineitem JOIN g ON l_returnflag = rf
         WHERE l_linenumber = 1
         ORDER BY l_orderkey, l_returnflag""",
    "q_esql_bucket" ->
      """SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d,
           count(*) AS n, round(sum(value), 2) AS v
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_esql_top" ->
      """WITH e AS (
           SELECT user_id, event_type, value, user_id % 3 AS band FROM events)
         SELECT band, count(*) AS n,
           (list_sort(list(user_id), 'DESC'))[1] AS u1,
           (list_sort(list(user_id), 'DESC'))[2] AS u2,
           (list_sort(list(user_id), 'DESC'))[3] AS u3,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS vj,
           round(sum(value * user_id) / sum(user_id), 2) AS wa
         FROM e GROUP BY band ORDER BY band""",
    "q_esql_match" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE (regexp_matches(lower(text), '\bspark\b')
             OR regexp_matches(lower(text), '\bbatch\b'))
           AND (lang = 'en' OR lang = 'de')
         GROUP BY lang ORDER BY lang""",
    "q_esql_stats_where" ->
      """SELECT l_returnflag, count(*) AS n,
           count(CASE WHEN l_quantity > 30 THEN 1 END) AS heavy,
           round(sum(CASE WHEN l_quantity > 30 THEN l_extendedprice END), 2) AS hv
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "q_esql_hash" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(lang) AS h_sha,
           base64(encode(source)) AS h_b64, lang AS h_rt
         FROM documents WHERE doc_id < 20 ORDER BY doc_id""",
    "q_esql_fork" ->
      """SELECT 'fork1' AS _fork, NULL AS event_type, count(*) AS n,
           round(sum(value), 2) AS v
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT 'fork2', event_type, count(*), NULL
         FROM events GROUP BY event_type
         ORDER BY _fork, event_type""",
    "q_esql_change_point" ->
      """WITH b AS (
           SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d,
             CAST(count(*) AS DOUBLE) AS c
           FROM events GROUP BY 1),
         s AS (SELECT d,
                 row_number() OVER (ORDER BY d) AS t,
                 lead(d) OVER (ORDER BY d) AS next_d,
                 sum(c) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 count(*) OVER () AS n,
                 sum(c) OVER () AS tot
               FROM b),
         sc AS (SELECT d, next_d,
                 abs(cum / t - (tot - cum) / (n - t))
                   * sqrt((t * (n - t)) / CAST(n AS DOUBLE)) AS stat
               FROM s WHERE t >= 2 AND t <= n - 2)
         SELECT next_d AS d, CAST(floor(stat * 1000) AS BIGINT) AS stat_x1k
         FROM sc ORDER BY stat DESC, sc.d LIMIT 1""",
    "q_esql_row" ->
      """SELECT '10.0.0.0' AS net, TRUE AS inb, 'tfarg' AS r,
           CAST(2 AS BIGINT) AS lg""",
    "q_esql_mv" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS nw,
           string_split(text, ' ')[1] AS first,
           string_split(text, ' ')[-1] AS last,
           list_aggregate(string_split(text, ' '), 'max') AS top
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    "q_esql_dates" ->
      """SELECT event_id,
           CAST(date_part('day', ts) AS BIGINT) AS day,
           CAST(date_part('hour', ts) AS BIGINT) AS hr,
           strftime(ts, '%Y-%m-%d') AS fmt
         FROM events WHERE event_id < 100 ORDER BY event_id""",
    "q_search_explain" ->
      // the q_search_bm25 pipeline with per-term components surfaced;
      // explanation entries ordered by term ('query' < 'spark')
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl,
             CAST(len(regexp_extract_all(lower(text), '\bquery\b')) AS DOUBLE) AS tfq,
             CAST(len(regexp_extract_all(lower(text), '\bspark\b')) AS DOUBLE) AS tfs
           FROM documents),
         s AS (
           SELECT *, CAST(count(*) OVER () AS DOUBLE) AS N, avg(dl) OVER () AS avgdl,
             sum(CASE WHEN tfq > 0 THEN 1.0 ELSE 0.0 END) OVER () AS dfq,
             sum(CASE WHEN tfs > 0 THEN 1.0 ELSE 0.0 END) OVER () AS dfs
           FROM d),
         sc AS (
           SELECT doc_id, tfq, dfq, tfs, dfs,
             ln(1 + (N - dfq + 0.5)/(dfq + 0.5)) AS idfq,
             ln(1 + (N - dfs + 0.5)/(dfs + 0.5)) AS idfs,
             ln(1 + (N - dfq + 0.5)/(dfq + 0.5)) * tfq * 2.2
               / (tfq + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS cq,
             ln(1 + (N - dfs + 0.5)/(dfs + 0.5)) * tfs * 2.2
               / (tfs + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS cs
           FROM s),
         top AS (
           SELECT * FROM sc WHERE cq + cs > 0
           ORDER BY cq + cs DESC, doc_id LIMIT 20)
         SELECT doc_id, round(cq + cs, 4) AS bm25,
           'query' AS term0, CAST(tfq AS BIGINT) AS tf0,
           CAST(dfq AS BIGINT) AS df0, round(idfq, 4) AS idf0,
           round(cq, 4) AS contrib0,
           'spark' AS term1, CAST(tfs AS BIGINT) AS tf1,
           CAST(dfs AS BIGINT) AS df1, round(idfs, 4) AS idf1,
           round(cs, 4) AS contrib1
         FROM top ORDER BY bm25 DESC, doc_id""",
    "q_search_knn" ->
      """WITH q AS (SELECT [CAST(x % 5 - 2 AS DOUBLE) FOR x IN range(64)] AS qv),
         scored AS (
           SELECT vec_id,
             (1 + list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)) / 2 AS s
           FROM embeddings, q WHERE label = 3)
         SELECT vec_id, round(s, 4) AS _score FROM scored
         ORDER BY s DESC, vec_id LIMIT 10""",
    "q_search_knn_multi" ->
      """WITH q1 AS (SELECT [CAST(x % 5 - 2 AS DOUBLE) FOR x IN range(64)] AS v),
         q2 AS (SELECT [CAST(x % 7 - 3 AS DOUBLE) FOR x IN range(64)] AS v),
         s1 AS (SELECT vec_id,
             (1 + list_cosine_similarity(CAST(embedding AS DOUBLE[]), q1.v)) / 2 AS s
           FROM embeddings, q1 ORDER BY s DESC, vec_id LIMIT 20),
         s2 AS (SELECT vec_id,
             (1 + list_cosine_similarity(CAST(embedding AS DOUBLE[]), q2.v)) / 2 * 2 AS s
           FROM embeddings, q2 ORDER BY s DESC, vec_id LIMIT 20),
         u AS (SELECT vec_id, sum(s) AS s
               FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY 1)
         SELECT vec_id, round(s, 4) AS _score FROM u
         ORDER BY s DESC, vec_id LIMIT 15""",
    "q_search_knn_sim" ->
      """WITH q AS (SELECT [CAST(x % 5 - 2 AS DOUBLE) FOR x IN range(64)] AS qv),
         scored AS (
           SELECT vec_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS c
           FROM embeddings, q)
         SELECT vec_id, round((1 + c) / 2, 4) AS _score FROM scored
         WHERE c >= 0.2 ORDER BY c DESC, vec_id LIMIT 50""",
    "q_search_rescore" ->
      """WITH hits AS (
           SELECT doc_id, lower(text) AS lt FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
           ORDER BY doc_id LIMIT 20)
         SELECT doc_id,
           CAST(1.0 + CASE WHEN regexp_matches(lt, '\bstreaming\b')
                      THEN 2.0 ELSE 0.0 END AS DOUBLE) AS _score
         FROM hits ORDER BY _score DESC, doc_id LIMIT 5""",
    "q_search_knn_hybrid" ->
      """WITH q AS (SELECT [CAST(x % 5 - 2 AS DOUBLE) FOR x IN range(64)] AS qv),
         scored AS (
           SELECT vec_id, label,
             (1 + list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)) / 2 AS ks
           FROM embeddings, q),
         k AS (SELECT vec_id, ks FROM scored ORDER BY ks DESC, vec_id LIMIT 10)
         SELECT s.vec_id,
           round(CASE WHEN s.label = 2 THEN 1.0 ELSE 0.0 END
                 + coalesce(k.ks, 0), 4) AS _score
         FROM scored s LEFT JOIN k ON s.vec_id = k.vec_id
         WHERE s.label = 2 OR k.vec_id IS NOT NULL
         ORDER BY (CASE WHEN s.label = 2 THEN 1.0 ELSE 0.0 END
                   + coalesce(k.ks, 0)) DESC, s.vec_id
         LIMIT 10""",
    "q_similarity_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_text_langid" ->
      """SELECT doc_id,
           CASE
             WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
             WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
             WHEN de >= fr AND de > 0 THEN 'de'
             WHEN fr > 0 THEN 'fr'
             ELSE 'und' END AS lang_pred
         FROM (
           SELECT doc_id,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('the','and','of','is'))) AS en,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('el','la','de','es'))) AS es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('der','die','und','ist'))) AS de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('le','la','et','est'))) AS fr
           FROM documents)
         ORDER BY doc_id""",
    "q_text_quality" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk,
             text
           FROM documents)
         SELECT doc_id, len(tk) AS n_tokens,
           round(CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                 / greatest(len(tk), 1), 4) AS mean_tok_len,
           round(CAST(len(list_filter(tk,
                 x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                 / greatest(len(tk), 1), 4) AS stopword_ratio,
           round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                 / greatest(len(text), 1), 4) AS alpha_ratio
         FROM toks ORDER BY doc_id""",
    "q_text_chunk" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         s AS (
           SELECT doc_id, tk, len(tk) AS n, unnest(range(1, len(tk) + 1, 48)) AS st
           FROM t WHERE len(tk) > 0)
         SELECT doc_id, CAST((st - 1) // 48 AS INT) AS chunk_idx,
           array_to_string(list_slice(tk, st, st + 63), ' ') AS chunk_text,
           least(64, n - st + 1) AS chunk_len
         FROM s WHERE (st - 1) // 48 = 0 OR st + 16 <= n
         ORDER BY doc_id, chunk_idx""",
    "q_text_vocab" ->
      """WITH w AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS token
           FROM documents)
         SELECT token, count(*) AS freq FROM w GROUP BY token
         ORDER BY freq DESC, token LIMIT 200""",
    "q_quality_filter" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk,
             text
           FROM documents),
         m AS (
           SELECT doc_id, len(tk) AS n_tokens,
             round(CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                   / greatest(len(tk), 1), 4) AS mean_tok_len,
             round(CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE)
                   / greatest(len(text), 1), 4) AS punct_ratio,
             round(CAST(len(list_filter(tk,
                   x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                   / greatest(len(tk), 1), 4) AS stopword_ratio,
             round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                   / greatest(len(text), 1), 4) AS alpha_ratio
           FROM toks)
         SELECT doc_id, n_tokens, stopword_ratio FROM m
         WHERE n_tokens >= 20 AND n_tokens <= 100000
           AND mean_tok_len >= 2.0 AND mean_tok_len <= 8.0
           AND punct_ratio <= 0.2 AND stopword_ratio >= 0.05
           AND alpha_ratio >= 0.5
         ORDER BY doc_id""",
    "q_quality_gopher" ->
      // the line-level rules (bullet/ellipsis) are constant-true on the
      // single-line corpus, so the pass flag is the conjunction of the
      // five content rules on both sides
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk,
             text
           FROM documents),
         m AS (
           SELECT doc_id, len(tk) AS g_words,
             len(tk) >= 50 AND len(tk) <= 100000 AS g_word_count,
             (CAST(len(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS DOUBLE)
                / greatest(len(tk), 1)) >= 3.0 AND
             (CAST(len(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS DOUBLE)
                / greatest(len(tk), 1)) <= 10.0 AS g_mean_len,
             (CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
                / greatest(len(tk), 1)) <= 0.1 AS g_symbol_ratio,
             (CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                / greatest(len(tk), 1)) >= 0.8 AS g_alpha_words,
             len(list_intersect(list_distinct(tk),
               ['the','data','join','scan','fast','slow','key','row'])) >= 2 AS g_stopwords
           FROM toks)
         SELECT doc_id, g_words, g_word_count, g_mean_len, g_symbol_ratio,
           g_alpha_words, g_stopwords,
           g_word_count AND g_mean_len AND g_symbol_ratio AND g_alpha_words
             AND g_stopwords AS gopher_pass
         FROM m ORDER BY doc_id""",
    "q_quality_c4" ->
      """WITH d AS (
           SELECT doc_id,
             substr(text, 1, 60) || '.' || chr(10) ||
             'tiny line' || chr(10) ||
             'good second sentence here. it has words. end.' || chr(10) ||
             CASE WHEN doc_id % 5 = 0 THEN 'lorem ipsum filler here.'
                  ELSE 'clean closing line here.' END || chr(10) ||
             CASE WHEN doc_id % 7 = 0 THEN 'config { block }' || chr(10)
                  ELSE '' END AS page
           FROM documents),
         l AS (
           SELECT doc_id, page,
             list_filter(string_split(page, chr(10)),
               x -> len(trim(x)) > 0) AS lines
           FROM d),
         k AS (
           SELECT doc_id, page, lines,
             list_filter(lines, x -> regexp_matches(trim(x), '[.!?"'']$')
               AND len(list_filter(string_split_regex(trim(x), '\s+'),
                 w -> len(w) > 0)) >= 3
               AND NOT contains(lower(x), 'javascript')) AS kept
           FROM l)
         SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept_lines,
           contains(page, '{') AS has_brace,
           contains(lower(page), 'lorem ipsum') AS has_lorem,
           len(regexp_extract_all(page, '[.!?]')) AS n_sentences,
           len(kept) >= 1 AND len(regexp_extract_all(page, '[.!?]')) >= 5
             AND NOT contains(page, '{')
             AND NOT contains(lower(page), 'lorem ipsum') AS c4_keep,
           array_to_string(kept, chr(10)) AS c4_text
         FROM k ORDER BY doc_id""",
    "q_filter_url" ->
      """WITH u AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'ads.example.com'
                  ELSE source || '.example.' ||
                    CASE CAST(doc_id % 4 AS INTEGER)
                      WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      WHEN 2 THEN 'net' ELSE 'xyz' END
             END AS host
           FROM documents),
         t AS (
           SELECT doc_id, host,
             regexp_extract(host, '\.([a-z0-9-]+)$', 1) AS tld
           FROM u),
         b AS (
           SELECT doc_id, host, tld,
             (host = 'ads.example.com' OR ends_with(host, '.ads.example.com')
              OR host = 'spam.example' OR ends_with(host, '.spam.example'))
               AS domain_blocked,
             tld IN ('com', 'org', 'net') AS tld_allowed
           FROM t)
         SELECT doc_id, host, tld, domain_blocked, tld_allowed,
           len(host) > 0 AND NOT domain_blocked AND tld_allowed AS url_keep
         FROM b ORDER BY doc_id""",
    "q_text_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               translate('“quoted” ‘x’ – dash — em ​zw' || chr(7) ||
                   '  ' || chr(9) || 'tabs  ' || substr(text, 1, 40) || ' end',
                 '‘’“”–—', '''''""--'),
               '[\x00-\x08\x0b-\x1f\x7f\x{200b}-\x{200d}\x{feff}]', '', 'g'),
             '\s+', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""",
    "q_corpus_stats" ->
      """WITH t AS (
           SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> len(x) > 0)) AS nt,
             lang, source
           FROM documents)
         SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
           min(nt) AS min_tokens,
           quantile_cont(nt, 0.5) AS p50_tokens,
           quantile_cont(nt, 0.9) AS p90_tokens,
           max(nt) AS max_tokens,
           count(DISTINCT lang) AS n_lang, count(DISTINCT source) AS n_source
         FROM t""",
    "q_dedup_bloom" ->
      """WITH corpus AS (
           SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id < 400),
         inc AS (
           SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
           UNION ALL
           SELECT doc_id, text FROM documents WHERE doc_id >= 400)
         SELECT i.doc_id FROM inc i
         WHERE NOT EXISTS (SELECT 1 FROM corpus c
           WHERE c.fp = md5(lower(regexp_replace(trim(i.text), '\s+', ' ', 'g'))))
         ORDER BY doc_id""",
    "q_dedup_semantic" ->
      """WITH e AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
           FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
             AND list_cosine_similarity(a.emb, b.emb) >= 0.3
           GROUP BY 1)
         SELECT e.vec_id, e.label, p.dup_of, p.dup_of IS NOT NULL AS is_dup
         FROM e LEFT JOIN p ON e.vec_id = p.vec_id ORDER BY e.vec_id""",
    "q_dedup_semantic_escape" ->
      """WITH e0 AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         e AS (
           SELECT vec_id, label, emb FROM e0
           UNION ALL
           SELECT vec_id + (SELECT max(vec_id) + 1 FROM e0), label, emb
           FROM e0 WHERE vec_id % 4 = 0),
         p AS (
           SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
           FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
             AND list_cosine_similarity(a.emb, b.emb) >= 0.95
           GROUP BY 1)
         SELECT e.vec_id, e.label, p.dup_of, p.dup_of IS NOT NULL AS is_dup
         FROM e LEFT JOIN p ON e.vec_id = p.vec_id ORDER BY e.vec_id""",
    "q_text_tokens" ->
      """SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
         FROM documents ORDER BY doc_id""",
    "q_text_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    "q_multimodal_meta" ->
      """SELECT doc_id, 'image' AS kind, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents ORDER BY doc_id""",
    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "q_multimodal_frames" ->
      """WITH m AS (
           SELECT doc_id, CAST(floor(octet_length(encode(text)) / 256) AS BIGINT) AS n_frames
           FROM documents),
         f AS (
           SELECT doc_id, n_frames, unnest(range(0, n_frames, 4)) AS frame_idx
           FROM m WHERE n_frames > 0)
         SELECT doc_id, n_frames, frame_idx, frame_idx * 256 AS byte_offset
         FROM f ORDER BY doc_id, frame_idx""",
    "q_admin_put_mapping" ->
      """SELECT * FROM (VALUES
           ('l_returnflag', TRUE),
           ('nonexistent_col', FALSE)) AS t(field, present)
         ORDER BY field""",
    "q_admin_update" ->
      """SELECT * FROM (VALUES
           ('analytic-mode', 'false'),
           ('discard-nulls', 'true'),
           ('insert-only', 'false'),
           ('max-results', '500'),
           ('segment', 'fixed:3600000')) AS t(key, value)
         ORDER BY key""",
    "q_search_source" ->
      """SELECT doc_id, 2 AS _score,
           to_json(struct_pack(doc_id := doc_id, text := text, lang := lang,
                               source := source, n_chars := n_chars)) AS _source
         FROM documents
         WHERE regexp_matches(lower(text), '\bwindow\b') AND lower(lang) = 'en'
         ORDER BY doc_id""",
    "q_search_fuzzy" ->
      """SELECT doc_id, 1 AS _score
         FROM documents
         WHERE len(list_filter(
                 list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
                 t -> damerau_levenshtein(t, 'sprk') <= 1)) > 0
         ORDER BY doc_id""",
    "q_search_match_multi" ->
      """SELECT doc_id, lang,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') OR regexp_matches(lower(text), '\bbatch\b')
         ORDER BY _score DESC, doc_id""",
    "q_search_collapse" ->
      """WITH sc AS (
           SELECT doc_id, lang,
             (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
              CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
           FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
              OR regexp_matches(lower(text), '\bbatch\b')),
         r AS (
           SELECT doc_id, lang, _score,
             row_number() OVER (PARTITION BY lang ORDER BY _score DESC, doc_id) AS rn
           FROM sc)
         SELECT doc_id, lang, _score FROM r WHERE rn = 1
         ORDER BY _score DESC, doc_id""",
    "q_search_collapse_inner" ->
      """WITH sc AS (
           SELECT doc_id, lang,
             (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
              CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
           FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b')
              OR regexp_matches(lower(text), '\bbatch\b')),
         r AS (
           SELECT doc_id, lang, _score,
             row_number() OVER (PARTITION BY lang ORDER BY _score DESC, doc_id) AS rn
           FROM sc),
         ih AS (SELECT * FROM r WHERE rn <= 3),
         heads AS (
           SELECT lang FROM ih WHERE rn = 1
           ORDER BY _score DESC, doc_id LIMIT 3)
         SELECT i.doc_id, i.lang, i._score, i.rn AS _inner_rank
         FROM ih i JOIN heads h ON i.lang = h.lang""",
    "q_search_fuzzy_auto" ->
      // prefix_length pins the folded prefix verbatim; the edit budget
      // (AUTO('spark') = 1, where OSA == DuckDB's unrestricted DL) applies
      // to the remainder only
      """SELECT doc_id, 1 AS _score
         FROM documents
         WHERE len(list_filter(
                 list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
                 t -> substr(t, 1, 2) = 'sp'
                      AND damerau_levenshtein(substr(t, 3), 'ark') <= 1)) > 0
         ORDER BY doc_id""",
    "q_search_boost" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 3 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') OR regexp_matches(lower(text), '\bbatch\b')
         ORDER BY _score DESC, doc_id""",
    "q_skew_join" ->
      """SELECT l.l_orderkey, l.l_quantity, o.o_totalprice
         FROM lineitem l JOIN orders o
           ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
         ORDER BY l_orderkey, l_quantity, o_totalprice""",
    "q_skew_adaptive" ->
      """SELECT l.l_orderkey, l.l_quantity, o.o_totalprice
         FROM lineitem l JOIN orders o
           ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
         ORDER BY l_orderkey, l_quantity, o_totalprice""",
    "q_segment_name" ->
      """SELECT 'orders_idx_index@' || strftime(o_orderdate, '%Y-%m') AS segment_index,
           count(*) AS doc_count
         FROM orders GROUP BY 1 ORDER BY segment_index""",
    "q_segment_fixed" ->
      """SELECT CAST(floor(epoch(o_orderdate) / 604800) * 604800 AS BIGINT) AS segment_epoch,
           count(*) AS doc_count
         FROM orders GROUP BY 1 ORDER BY segment_epoch""",
    "q_search_dsl_terms" ->
      """SELECT event_id, event_type, 1 AS _score
         FROM events WHERE event_type IN ('click', 'purchase')
         ORDER BY event_id""",
    "q_search_dsl_msm" ->
      """WITH m AS (
           SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
             l_returnflag, l_linestatus, l_quantity,
             (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END +
              CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END +
              CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS _score
           FROM lineitem)
         SELECT doc_id, l_returnflag, l_linestatus, l_quantity, _score
         FROM m WHERE _score >= 2 ORDER BY doc_id""",
    "q_bulk_roundtrip" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
           l_returnflag, l_linestatus
         FROM lineitem ORDER BY doc_id""",
    "q_train_split" ->
      """SELECT l_orderkey, l_linenumber, count(*) AS n
         FROM lineitem GROUP BY 1, 2
         ORDER BY l_orderkey, l_linenumber""",
    "q_text_entropy" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         c AS (
           SELECT doc_id, w, count(*) AS c FROM toks WHERE length(w) > 0
           GROUP BY doc_id, w)
         SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_text_bigram_nll" ->
      """WITH t AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
               for i in generate_series(1, greatest(len(toks) - 1, 0))]) AS bg
           FROM t),
         p AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM g),
         cb AS (SELECT bg, CAST(count(*) AS DOUBLE) AS cb FROM p GROUP BY bg),
         ch AS (SELECT w1, CAST(count(*) AS DOUBLE) AS ch FROM p GROUP BY w1)
         SELECT doc_id, round(-avg(ln(cb / ch)), 4) AS bigram_nll
         FROM p JOIN cb USING (bg) JOIN ch USING (w1)
         GROUP BY doc_id ORDER BY doc_id""",
    "q_text_dup_ngrams" ->
      """WITH t AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
               for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS g
           FROM t),
         c AS (SELECT g, count(*) AS cg FROM g GROUP BY g)
         SELECT doc_id,
           round(sum(CASE WHEN cg >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 4)
             AS dup_ngram_frac,
           count(*) AS n_ngrams
         FROM g JOIN c USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "q_text_unigram_nll" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
         doctok AS (
           SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c FROM t2 GROUP BY 1, 2),
         corpus AS (SELECT w, CAST(count(*) AS DOUBLE) AS cw FROM t2 GROUP BY w),
         total AS (SELECT sum(cw) AS t FROM corpus)
         SELECT doc_id, round(-sum(c * ln(cw / t)) / sum(c), 4) AS unigram_nll
         FROM doctok JOIN corpus USING (w) CROSS JOIN total
         GROUP BY doc_id ORDER BY doc_id""",
    "q_text_keywords" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
         doctok AS (
           SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c FROM t2 GROUP BY 1, 2),
         docfreq AS (SELECT w, CAST(count(*) AS DOUBLE) AS df_w FROM doctok GROUP BY w),
         n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM doctok),
         scored AS (
           SELECT doc_id, w, c * ln(n_docs / df_w) AS tfidf
           FROM doctok JOIN docfreq USING (w) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, w AS keyword,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rank,
             round(tfidf, 4) AS tfidf
           FROM scored)
         SELECT doc_id, keyword, rank, tfidf FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q_sessionize" ->
      """WITH ev AS (
           -- events.ts is parquet TIMESTAMP(NANOS); Spark truncates to
           -- micros (tbl(): ts div 1000). epoch_ns // 1000 is the same
           -- explicit truncation as integers — no timestamp cast whose
           -- truncate-vs-round behavior varies by engine version
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         e AS (
           SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM ev),
         s AS (
           SELECT user_id, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM e)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(us) AS session_start_us, max(us) AS session_end_us
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "q_session_window" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         e AS (
           SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM ev),
         s AS (
           SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM e)
         SELECT user_id, min(us) AS start_us,
           max(us) + 1800000000 AS end_us, count(*) AS n_events
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, start_us""",
    "q_dedup_corpus" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         e AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         label AS (SELECT a AS id, min(b) AS mn FROM reach GROUP BY a)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM label WHERE mn < id)
         ORDER BY d.doc_id""",
    "q_dedup_incremental" ->
      // the full all-pairs oracle restricted to pairs touching the new
      // batch (doc_id >= 300) — exactly what the incremental path returns
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM p
         WHERE jaccard >= 0.5 AND (id_a >= 300 OR id_b >= 300)
         ORDER BY id_a, id_b""",
    "q_dedup_minhash" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM p WHERE jaccard >= 0.5
         ORDER BY id_a, id_b""",
    "q_dedup_minhash_salted" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM p WHERE jaccard >= 0.5
         ORDER BY id_a, id_b""",
    "q_curate_spans" ->
      """WITH bt AS (
           SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> len(x) > 0) AS tk
           FROM documents WHERE doc_id % 50 = 0),
         bg AS (
           SELECT DISTINCT array_to_string(list_slice(tk, st, st + 3), ' ') AS gram
           FROM (SELECT tk, unnest(range(1, len(tk) - 4 + 2)) AS st
                 FROM bt WHERE len(tk) >= 4)),
         t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents WHERE doc_id % 50 <> 0),
         g AS (
           SELECT doc_id, st, array_to_string(list_slice(tk, st, st + 3), ' ') AS gram
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 4 + 2)) AS st
                 FROM t WHERE len(tk) >= 4)),
         c AS (SELECT g.doc_id, g.st FROM g JOIN bg USING (gram)),
         b AS (
           SELECT doc_id, st,
             CASE WHEN st > lag(st) OVER (PARTITION BY doc_id ORDER BY st) + 4
                  THEN 1 ELSE 0 END AS brk
           FROM c),
         i AS (
           SELECT doc_id, st,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS island
           FROM b)
         SELECT doc_id, CAST(min(st) AS INT) AS span_start,
           CAST(max(st) + 3 AS INT) AS span_end,
           CAST(max(st) + 4 - min(st) AS INT) AS span_len,
           count(*) AS n_windows
         FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "q_dedup_spans" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         g AS (
           SELECT doc_id, st, array_to_string(list_slice(tk, st, st + 7), ' ') AS gram
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 8 + 2)) AS st
                 FROM t WHERE len(tk) >= 8)),
         d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         c AS (SELECT g.doc_id, g.st FROM g JOIN d USING (gram)),
         b AS (
           SELECT doc_id, st,
             CASE WHEN st > lag(st) OVER (PARTITION BY doc_id ORDER BY st) + 8
                  THEN 1 ELSE 0 END AS brk
           FROM c),
         i AS (
           SELECT doc_id, st,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS island
           FROM b)
         SELECT doc_id, CAST(min(st) AS INT) AS span_start,
           CAST(max(st) + 7 AS INT) AS span_end,
           CAST(max(st) + 8 - min(st) AS INT) AS span_len,
           count(*) AS n_windows
         FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "q_dedup_span_removal" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         g AS (
           SELECT doc_id, st, array_to_string(list_slice(tk, st, st + 7), ' ') AS gram
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 8 + 2)) AS st
                 FROM t WHERE len(tk) >= 8)),
         d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         c AS (SELECT g.doc_id, g.st FROM g JOIN d USING (gram)),
         b AS (
           SELECT doc_id, st,
             CASE WHEN st > lag(st) OVER (PARTITION BY doc_id ORDER BY st) + 8
                  THEN 1 ELSE 0 END AS brk
           FROM c),
         i AS (
           SELECT doc_id, st,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS island
           FROM b),
         sp AS (SELECT doc_id, min(st) AS s, max(st) + 7 AS e
                FROM i GROUP BY doc_id, island),
         p AS (SELECT doc_id, unnest(tk) AS tok,
                 unnest(range(1, len(tk) + 1)) AS idx FROM t),
         kept AS (
           SELECT p.doc_id, p.tok, p.idx FROM p
           WHERE NOT EXISTS (SELECT 1 FROM sp
             WHERE sp.doc_id = p.doc_id AND p.idx BETWEEN sp.s AND sp.e)),
         agg AS (
           SELECT doc_id, array_to_string(list(tok ORDER BY idx), ' ') AS ct,
             count(*) AS n
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, coalesce(a.ct, '') AS clean_text,
           CAST(coalesce(a.n, 0) AS INT) AS n_tokens,
           CAST(len(t.tk) - coalesce(a.n, 0) AS INT) AS removed_tokens
         FROM t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""",
    "q_dedup_cosine_exact" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 150)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3
         ORDER BY id_a, id_b""",
    "q_ingest_processors" ->
      """SELECT doc_id,
           source AS src_part, lang AS lang_part,
           sha256(lang || '|' || source) AS fp,
           replace(source, 'rc', '-') AS split_join,
           '2' AS kv_b,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us
         FROM documents ORDER BY doc_id""",
    "q_ingest_pipeline" ->
      // insert path: updates (pipeline-shaped) replace overlapping existing
      // docs wholesale; lowercase/gsub/set/convert are plain SQL
      """SELECT doc_id, lang, source, n_chars, curated FROM (
           SELECT doc_id, upper(lang) AS lang, source,
                  CAST(n_chars AS BIGINT) AS n_chars, 'no' AS curated
           FROM documents WHERE doc_id < 200
           UNION ALL
           SELECT doc_id, lower(lang), regexp_replace(source, '^src', 'origin-'),
                  CAST(n_chars AS BIGINT), 'yes'
           FROM documents WHERE doc_id >= 200 AND doc_id < 500)
         ORDER BY doc_id""",
    "q_maintain_drop" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS segment, count(*) AS doc_count
         FROM orders WHERE strftime(o_orderdate, '%Y-%m') >= '1995-01'
         GROUP BY 1 ORDER BY segment""",
    "q_dummy_mode" ->
      """SELECT doc_id, lang, source FROM documents ORDER BY doc_id""",
    "q_maintain_compact" ->
      """SELECT 'y' || strftime(o_orderdate, '%Y') AS segment, count(*) AS doc_count,
           round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1 ORDER BY segment""",
    "q_zorder" ->
      """SELECT event_id, user_id,
           CAST(floor(value * 100) AS BIGINT) AS value_x100
         FROM events""",
    "q_search_grouping" ->
      // group boost ^2 distributes over (spark OR batch); `-lang:de` is a
      // prohibited (non-scoring) clause with Lucene absent-field semantics;
      // `src1?` consumes exactly one non-space char inside \b anchors
      """SELECT doc_id, lang, source,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 2 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 2 ELSE 0 END +
            CASE WHEN regexp_matches(lower(source), '\bsrc1[^\s]\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE (regexp_matches(lower(text), '\bspark\b') OR regexp_matches(lower(text), '\bbatch\b'))
           AND (lang IS NULL OR NOT regexp_matches(lower(lang), '\bde\b'))
           AND regexp_matches(lower(source), '\bsrc1[^\s]\b')
         ORDER BY doc_id""",
    "q_search_dsl_long" ->
      // long-body DSL: match(text, boost 2) + term(lang='en', exact value);
      // must_not wildcard src1* is non-scoring with absent-field semantics
      """SELECT doc_id, lang, source,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 2 ELSE 0 END +
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b') AND lang = 'en'
           AND (source IS NULL OR NOT regexp_matches(lower(source), '\bsrc1[^\s]*'))
         ORDER BY doc_id""",
    "q_search_phrase_positional" ->
      """SELECT doc_id, 1 AS _score FROM documents
         WHERE regexp_matches(lower(text), '\bspark(?:\s+\S+){0,2}\s+batch\b')
         ORDER BY doc_id""",
    "q_search_dsl_qstring" ->
      """SELECT doc_id, 1 AS _score FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
            OR regexp_matches(lower(text), '\bbatch\b')
         ORDER BY doc_id""",
    "q_search_mlt" ->
      // replicate the declared selection: like-tf >= 2 → top-100 by tf →
      // corpus df (distinct per doc) >= 5 → top-10 by tf/(df+1) — every
      // ranking step integer or single-division (bit-stable)
      """WITH liketok AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> len(x) > 0)) AS t
           FROM documents WHERE doc_id IN (1, 2, 3)),
         ltf AS (
           SELECT t, count(*) AS tf FROM liketok GROUP BY t HAVING count(*) >= 2),
         cand AS (SELECT t, tf FROM ltf ORDER BY tf DESC, t LIMIT 100),
         dfc AS (
           SELECT tok.t, count(*) AS df, max(cand.tf) AS tf
           FROM (SELECT unnest(list_distinct(list_filter(string_split_regex(
                   lower(text), '[^a-z0-9_]+'), x -> len(x) > 0))) AS t
                 FROM documents) tok
           JOIN cand ON tok.t = cand.t GROUP BY tok.t),
         picked AS (
           SELECT t FROM dfc WHERE df >= 5
           ORDER BY CAST(tf AS DOUBLE) / (df + 1) DESC, t LIMIT 10),
         pc AS (SELECT count(*) AS n FROM picked),
         hits AS (
           SELECT d.doc_id,
             (SELECT count(*) FROM picked p
               WHERE regexp_matches(lower(d.text), '\b' || p.t || '\b')) AS raw
           FROM documents d
           WHERE d.doc_id NOT IN (1, 2, 3))
         SELECT doc_id, CAST(raw AS INT) AS _score FROM hits, pc
         WHERE raw >= greatest(1, (30 * n) // 100)
         ORDER BY doc_id""",
    "q_search_bool_prefix" ->
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bquer[^\s]*') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
           AND regexp_matches(lower(text), '\bquer[^\s]*')
         ORDER BY doc_id""",
    "q_search_simple_qs" ->
      // ((spark OR "batch stream") AND NOT join) AND quer* — the negated
      // leaf never scores; positive leaves score per match
      """SELECT doc_id,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bbatch stream\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bquer[^\s]*') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE (regexp_matches(lower(text), '\bspark\b')
                OR regexp_matches(lower(text), '\bbatch stream\b'))
           AND NOT coalesce(regexp_matches(lower(text), '\bjoin\b'), FALSE)
           AND regexp_matches(lower(text), '\bquer[^\s]*')
         ORDER BY doc_id""",
    "q_search_function_score" ->
      // query score (1 for spark) × capped (en-weight + 2·n_chars); hits
      // under min_score 900 drop
      """WITH scored AS (
           SELECT doc_id,
             (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END)
               * least(1500,
                   (CASE WHEN coalesce(lang = 'en', FALSE) THEN 500 ELSE 0 END)
                   + 2 * coalesce(n_chars, 0)) AS _score
           FROM documents
           WHERE regexp_matches(lower(text), '\bspark\b'))
         SELECT doc_id, _score FROM scored
         WHERE _score >= 900
         ORDER BY doc_id""",
    "q_search_dsl_boosting" ->
      // negative (lang='de', null-safe) zeroes the positive bool's score
      // (must spark + scoring-only should batch) but never filters the row
      """SELECT doc_id, lang,
           (CASE WHEN coalesce(lang = 'de', FALSE) THEN 0 ELSE
             (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END +
              CASE WHEN regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
         ORDER BY doc_id""",
    "q_dedup_embedding" ->
      // exact all-pairs ≥ threshold: valid oracle because the LSH gate
      // params give recall 1.0 on this corpus (see the query's comment)
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 1000)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
         ORDER BY id_a, id_b""",
    "q_search_regex" ->
      """SELECT doc_id, source,
           (CASE WHEN regexp_matches(lower(source), '\b(?:src[0-9]+)\b') THEN 2 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(source), '\b(?:src[0-9]+)\b')
           AND regexp_matches(lower(text), '\bspark\b')
         ORDER BY doc_id""",
    "q_search_dsl_ids" ->
      // nested-bool should with msm=1 filters; outer should scores only;
      // each positive leaf (ids, prefix, query_string) contributes 1
      """SELECT doc_id, source,
           (CASE WHEN doc_id IN (1,2,3,40,41,500) THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(source), '\bsrc1[^\s]*') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(lower(text), '\bspark\b')
                   OR regexp_matches(lower(text), '\bbatch\b') THEN 1 ELSE 0 END) AS _score
         FROM documents
         WHERE doc_id IN (1,2,3,40,41,500)
            OR regexp_matches(lower(source), '\bsrc1[^\s]*')
         ORDER BY doc_id""",
    "q_search_dsl_multi" ->
      // multi_match most_fields: per-field leaves summed with per-field
      // boosts; constant_score scores its boost when the filter matches;
      // regexp is whole-token; should-with-must is scoring-only (msm=0)
      """SELECT doc_id, lang, source,
           (CASE WHEN regexp_matches(lower(text), '\bspark\b') THEN 2 ELSE 0 END +
            CASE WHEN regexp_matches(lower(source), '\bspark\b') THEN 1 ELSE 0 END +
            CASE WHEN lang = 'en' THEN 3 ELSE 0 END +
            CASE WHEN regexp_matches(lower(source), '\b(?:src[0-9]+)\b') THEN 2 ELSE 0 END) AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bspark\b')
            OR regexp_matches(lower(source), '\bspark\b')
         ORDER BY doc_id""",
    "q_search_dsl_phrase_prefix" ->
      // phrase + prefix: quoted-phrase anchor on the left, open [^\s]* on
      // the prefix end (trailing wildcard drops its anchor)
      """SELECT doc_id, 2 AS _score
         FROM documents
         WHERE regexp_matches(lower(text), '\bsort tab[^\s]*')
         ORDER BY doc_id""",
    "q_multimodal_decode" ->
      // the stub decode contract: checksum = Σ byte_i × ((i mod 64) + 1)
      // over UTF-8 bytes (the corpus is ASCII, so bytes = code points);
      // width/height are checksum-derived. Empty text → checksum 0.
      """WITH f AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             CAST(coalesce(list_sum(list_transform(range(1, strlen(text) + 1),
               i -> unicode(text[i]) * (((i - 1) % 64) + 1))), 0) AS BIGINT) AS checksum
           FROM documents WHERE text IS NOT NULL)
         SELECT id, n_bytes, checksum,
           CAST(NULL AS VARCHAR) AS format,
           CAST(16 + checksum % 1024 AS INTEGER) AS width,
           CAST(16 + (checksum // 1024) % 1024 AS INTEGER) AS height
         FROM f ORDER BY id""",
    "q_multimodal_decode_real" ->
      // the engine built a 33-byte PNG per doc from these same parameters;
      // the oracle asserts the decoded dims equal the construction inputs
      """SELECT CAST(doc_id AS BIGINT) AS id, CAST(33 AS BIGINT) AS n_bytes,
           'png' AS format,
           CAST(doc_id % 64 + 1 AS INTEGER) AS width,
           CAST(doc_id % 32 + 1 AS INTEGER) AS height
         FROM documents ORDER BY id""",
    "q_similarity_pq_exact" ->
      // ksub >= corpus slice makes PQ lossless → ADC == exact cosine, so
      // brute-force top-k is the exact oracle for train->encode->LUT->ADC
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                    FROM embeddings WHERE vec_id < 500),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_similarity_ivfpq_exact" ->
      // nprobe = C + lossless codebook: the composed IVF-PQ path must
      // equal brute force on the same slice
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                    FROM embeddings WHERE vec_id < 500),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_similarity_bbq_exact" ->
      // oversample spans the corpus → brute-force top-k is the exact
      // oracle for the binarize/hamming/rerank pipeline
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_similarity_ivf_exact" ->
      // nprobe = C makes IVF exhaustive → brute-force top-k is the exact
      // oracle for the whole train/assign/probe pipeline
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_similarity_lsh" ->
      // brute-force top-k as oracle: LSH gate params give recall 1.0 here
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS query_vec
               FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS raw_cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY raw_cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(raw_cos, 4) AS cos, rank FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> len(x) > 0) AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t)-3, 1)),
               i -> array_to_string(t[i:i+3], ' ')))) AS gram
           FROM toks),
         bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
         SELECT g.doc_id, count(*) AS matched_grams
         FROM grams g JOIN bench b USING (gram)
         WHERE g.doc_id % 50 <> 0
         GROUP BY 1 ORDER BY doc_id""",
    "q_pii_redact" ->
      """WITH noted AS (
           SELECT c_custkey,
             'contact ' || c_name
             || CASE WHEN c_custkey % 3 > 0 THEN ' email ' ||
                  lower(replace(c_name, '#', '')) || '@example.com' ELSE '' END
             || CASE WHEN c_custkey % 2 = 0 THEN ' phone ' ||
                  CAST(c_nationkey + 10 AS VARCHAR) || '-' ||
                  lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
                  lpad(CAST((c_custkey * 13) % 1000 AS VARCHAR), 3, '0') || '-' ||
                  lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0') ELSE '' END
             || CASE WHEN c_custkey % 7 = 0 THEN ' backup ' ||
                  lower(replace(c_name, '#', '')) || '@example.com' ELSE '' END
             || CASE WHEN c_custkey % 5 = 0 THEN ' ip ' ||
                  '10.' || CAST(c_nationkey % 256 AS VARCHAR) || '.' ||
                  CAST((c_custkey // 256) % 256 AS VARCHAR) || '.' ||
                  CAST(c_custkey % 256 AS VARCHAR) ELSE '' END AS note
           FROM customer)
         SELECT c_custkey,
           len(regexp_extract_all(note,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(note, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           len(regexp_extract_all(note, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(note,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
         FROM noted ORDER BY c_custkey""",
    "q_domain_mix" ->
      """WITH stats AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> len(x) > 0))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source)
         SELECT source, n_docs, n_tokens,
           CAST(floor(least(CAST(1 AS DOUBLE), CAST(1400 AS DOUBLE) / n_tokens) * 10000)
                AS BIGINT) AS keep_frac_x1e4
         FROM stats ORDER BY source""",
    "q_sample_stratified" ->
      // cover check only: kept ∪ complement must re-derive each doc exactly
      // once (hash determinism); the per-domain fractions are spec-tested
      """SELECT doc_id, CAST(1 AS BIGINT) AS n FROM documents ORDER BY doc_id""",
    "q_split_leakage_safe" ->
      // exact all-pairs jaccard (the q_dedup_minhash oracle) with the
      // co-travel invariant asserted as a constant TRUE column
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5)
         SELECT id_a, id_b, TRUE AS co_split FROM p ORDER BY id_a, id_b""",
    "q_curate_corpus" ->
      // composition of the q_dedup_corpus transitive-closure oracle, the
      // q_quality_filter threshold oracle, and the q_decontaminate gram
      // oracle — one pipeline, stage semantics unchanged
      """WITH RECURSIVE t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents WHERE doc_id % 50 <> 0),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
           FROM t),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         e AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         label AS (SELECT a AS id, min(b) AS mn FROM reach GROUP BY a),
         surv1 AS (
           SELECT doc_id, text, tk FROM t
           WHERE doc_id NOT IN (SELECT id FROM label WHERE mn < id)),
         m AS (
           SELECT doc_id, tk FROM surv1
           WHERE len(tk) >= 20 AND len(tk) <= 100000
             AND round(CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                   / greatest(len(tk), 1), 4) >= 2.0
             AND round(CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                   / greatest(len(tk), 1), 4) <= 8.0
             AND round(CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE)
                   / greatest(len(text), 1), 4) <= 0.2
             AND round(CAST(len(list_filter(tk,
                   x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                   / greatest(len(tk), 1), 4) >= 0.05
             AND round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                   / greatest(len(text), 1), 4) >= 0.5),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk)-3, 1)),
               i -> array_to_string(tk[i:i+3], ' ')))) AS gram
           FROM m),
         bt AS (
           SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> len(x) > 0) AS tk
           FROM documents WHERE doc_id % 50 = 0),
         bgrams AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk)-3, 1)),
               i -> array_to_string(tk[i:i+3], ' ')))) AS gram
           FROM bt),
         contaminated AS (
           SELECT DISTINCT g.doc_id FROM grams g JOIN bgrams b USING (gram))
         SELECT doc_id FROM m
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         ORDER BY doc_id""",
    "q_text_repetition" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> len(x) > 0) AS t
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(t)-1, 1)),
               i -> array_to_string(t[i:i+1], ' '))) AS gram
           FROM toks),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_gram_frac,
           round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 4) AS dup_gram_frac,
           CAST(sum(c) AS BIGINT) AS n_grams
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_multimodal_patches" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 50 + 16 AS w, (doc_id * 3) % 40 + 16 AS h
           FROM documents WHERE doc_id < 100),
         g AS (
           SELECT doc_id, w, h,
             CAST(floor((w + 15) / 16.0) AS BIGINT) AS nx,
             CAST(floor((h + 15) / 16.0) AS BIGINT) AS ny
           FROM d),
         p AS (
           SELECT doc_id, w, h, nx,
             unnest(range(0, nx * ny)) AS patch_id
           FROM g)
         SELECT doc_id, patch_id,
           (patch_id % nx) * 16 AS x0, (patch_id // nx) * 16 AS y0,
           least(16, w - (patch_id % nx) * 16) AS pw,
           least(16, h - (patch_id // nx) * 16) AS ph
         FROM p ORDER BY doc_id, patch_id""",
    "q_decontaminate_semantic" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         b AS (SELECT emb FROM e WHERE vec_id % 50 = 0),
         t AS (SELECT vec_id, emb FROM e WHERE vec_id % 50 != 0)
         SELECT t.vec_id FROM t
         WHERE NOT EXISTS (
           SELECT 1 FROM b WHERE list_cosine_similarity(t.emb, b.emb) >= 0.3)
         ORDER BY vec_id""",
    "q_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> len(x) > 0)) AS n_tokens
           FROM documents)
         SELECT doc_id, source, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
             / CAST(500 AS DOUBLE)) AS BIGINT) AS shard
         FROM t ORDER BY source, doc_id""",
    "q_agg_time_series" ->
      """SELECT event_type, user_id % 7 AS host, count(*) AS doc_count,
           max(value) AS max_v
         FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""",
    "q_agg_geohex" ->
      // the flat axial hex lattice verbatim: pointy-top axial coords over
      // the lon/lat plane, cube rounding via floor(v+0.5)
      """WITH pts AS (
           SELECT CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         h AS (SELECT
           (sqrt(3.0) / 3.0 * lon - lat / 3.0) / 11.25 AS qf,
           lat * 2.0 / 3.0 / 11.25 AS rf FROM pts),
         r0 AS (SELECT qf, rf,
           CAST(floor(qf + 0.5) AS BIGINT) AS rx0,
           CAST(floor(rf + 0.5) AS BIGINT) AS rz0,
           CAST(floor(-qf - rf + 0.5) AS BIGINT) AS ry0 FROM h),
         fx AS (SELECT rx0, rz0, ry0,
           abs(rx0 - qf) AS dx, abs(ry0 + qf + rf) AS dy,
           abs(rz0 - rf) AS dz FROM r0),
         k AS (SELECT
           CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0 ELSE rx0 END AS hq,
           CASE WHEN NOT (dx > dy AND dx > dz) AND dz >= dy
                THEN -rx0 - ry0 ELSE rz0 END AS hr
          FROM fx)
         SELECT '2/' || hq || '/' || hr AS key, count(*) AS doc_count
         FROM k GROUP BY 1 ORDER BY doc_count DESC, key""",
    "q_search_mvt_hits" ->
      // world pixel span at z=2 with extent 4096 = 16384; tile (2,1)
      // origin = (8192, 4096)
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         cl AS (SELECT doc_id, lon,
                  greatest(least(lat, 85.05112878), -85.05112878) AS latc
                FROM pts),
         g AS (SELECT doc_id,
           CAST(floor((lon + 180.0) / 360.0 * 16384.0) AS BIGINT) - 8192 AS px,
           CAST(floor((1.0 - ln(tan(radians(latc))
               + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 16384.0)
             AS BIGINT) - 4096 AS py
          FROM cl)
         SELECT doc_id, px, py FROM g
         WHERE px >= 0 AND px < 4096 AND py >= 0 AND py < 4096
         ORDER BY doc_id""",
    "q_search_mvt_grid" ->
      """WITH pts AS (
           SELECT CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         cl AS (SELECT lon,
                  greatest(least(lat, 85.05112878), -85.05112878) AS latc
                FROM pts),
         g AS (SELECT
           CAST(floor((lon + 180.0) / 360.0 * 16384.0) AS BIGINT) - 8192 AS px,
           CAST(floor((1.0 - ln(tan(radians(latc))
               + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 16384.0)
             AS BIGINT) - 4096 AS py
          FROM cl),
         h AS (SELECT px, py FROM g
               WHERE px >= 0 AND px < 4096 AND py >= 0 AND py < 4096)
         SELECT CAST(floor(px / 16.0) AS BIGINT) || '/' ||
                CAST(floor(py / 16.0) AS BIGINT) AS cell,
           count(*) AS doc_count
         FROM h GROUP BY 1 ORDER BY doc_count DESC, cell""",
    "q_upsert_versioned" ->
      // external versioning with version=event_id → the overall-latest
      // row per user survives
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
               AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q_upsert_cas" ->
      """WITH a AS (SELECT user_id, count(*) AS seq, min(event_type) AS etype
                    FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
            b AS (SELECT user_id, count(*) AS seq, max(event_type) AS etype
                  FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY 1)
         SELECT a.user_id AS user_id,
           CASE WHEN b.seq = a.seq THEN a.seq + 1 ELSE a.seq END AS seq,
           CASE WHEN b.seq = a.seq THEN b.etype ELSE a.etype END AS etype
         FROM a LEFT JOIN b ON a.user_id = b.user_id ORDER BY user_id""",
    "q_upsert_scripted" ->
      """WITH a AS (SELECT user_id, count(*) AS cnt, min(event_type) AS tag
                    FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
            b AS (SELECT user_id, count(*) AS cnt
                  FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY 1)
         SELECT user_id, COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt,
           a.tag AS tag
         FROM a FULL JOIN b USING (user_id) ORDER BY user_id""",
    "q_upsert_scripted_dup" ->
      """WITH a AS (SELECT user_id, count(*) AS cnt, min(event_type) AS tag
                    FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1),
            b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                  FROM events WHERE ts >= TIMESTAMP '2024-01-15'
                  GROUP BY user_id, date_trunc('day', ts)),
            s AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS inc
                  FROM b GROUP BY 1)
         SELECT user_id, COALESCE(a.cnt, 0) + COALESCE(s.inc, 0) AS cnt,
           a.tag AS tag
         FROM a FULL JOIN s USING (user_id) ORDER BY user_id""",
    "q_admin_search_shards" ->
      // 2^64 / 8 = 2305843009213693952
      """SELECT CAST(i AS INTEGER) AS shard,
           CAST(-9223372036854775808
             + CAST(i AS HUGEINT) * 2305843009213693952 AS BIGINT)
             AS token_start,
           CAST(CASE WHEN i = 7 THEN 9223372036854775807
                ELSE -9223372036854775808
                  + CAST(i + 1 AS HUGEINT) * 2305843009213693952 - 1
                END AS BIGINT) AS token_end
         FROM generate_series(0, 7) AS t(i) ORDER BY shard""",
    "q_search_indices_boost" ->
      """SELECT doc_id,
           CASE WHEN lang = 'en' THEN 'docs_en' ELSE 'docs_fr' END AS _index,
           CASE WHEN lang = 'en' THEN 3 ELSE 2 END AS _score
         FROM documents
         WHERE lang IN ('en', 'fr') AND regexp_matches(lower(text), '\bspark\b')
         ORDER BY doc_id""",
    "q_search_script_fields" ->
      """SELECT event_id, user_id * 3 + event_id % 10 AS s2
         FROM events WHERE event_type = 'purchase' ORDER BY event_id""",
    "q_search_geo_grid" ->
      // the tile-3 mercator key restricted to tile 3/2/1
      """WITH pts AS (
           SELECT c_custkey AS doc_id,
                  CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
                  CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) AS lon
           FROM customer),
         cl AS (SELECT doc_id, lon,
                  greatest(least(lat, 85.05112878), -85.05112878) AS latc
                FROM pts),
         t AS (SELECT doc_id,
           CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS x,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc))
               + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 8.0), 0.0), 7.0)
             AS BIGINT) AS y
           FROM cl)
         SELECT doc_id FROM t WHERE x = 2 AND y = 1 ORDER BY doc_id""",
    "q_agg_composite_missing" ->
      """WITH e AS (SELECT
           CASE WHEN value >= 100 THEN event_type END AS etype
           FROM events)
         SELECT etype, count(*) AS doc_count, count(*) AS n_docs
         FROM e GROUP BY etype
         ORDER BY etype NULLS FIRST LIMIT 10""",
    "q_esql_now" ->
      """WITH t AS (SELECT
           CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts))
             // 86400000000 AS BIGINT) AS age
           FROM events)
         SELECT age, count(*) AS n FROM t GROUP BY age ORDER BY age""",
    "q_dedup_edit" ->
      // all-pairs with the same length prefilter is the exact oracle for
      // the engine's bucketed candidate generation (recall 1 by the
      // length-window argument)
      """WITH b AS (SELECT doc_id AS id, text AS t, len(text) AS l
                    FROM documents)
         SELECT x.id AS id_a, y.id AS id_b, levenshtein(x.t, y.t) AS dist
         FROM b x JOIN b y ON x.id < y.id AND abs(x.l - y.l) <= 5
         WHERE levenshtein(x.t, y.t) <= 5
         ORDER BY id_a, id_b""",
    "q_contrastive_pairs" ->
      """WITH c AS (SELECT min(doc_id) AS lo, count(*) AS n FROM documents),
         r AS (SELECT d.doc_id, j AS pair_j, (j = 0) AS is_positive,
           CASE WHEN j = 0 THEN d.doc_id
             ELSE lo + ((d.doc_id - lo + 1
               + (CAST('0x' || substr(md5(d.doc_id || ':' || j || ':' || '11'),
                   1, 8) AS BIGINT) % (n - 1))) % n)
           END AS cap_ref
           FROM documents d, c, generate_series(0, 3) AS g(j))
         SELECT r.doc_id, r.pair_j, r.is_positive, cap.text AS caption
         FROM r JOIN documents cap ON cap.doc_id = r.cap_ref
         ORDER BY r.doc_id, r.pair_j""",
    "q_strip_boilerplate" ->
      """WITH d AS (SELECT doc_id, source,
             'HDR ' || source || chr(10) || text || chr(10) || 'FOOTER'
               AS text2
           FROM documents),
         dl AS (SELECT doc_id, source, string_split(text2, chr(10)) AS ls
                FROM d),
         e AS (SELECT DISTINCT doc_id, source, unnest(ls) AS line FROM dl),
         sup AS (SELECT source, line FROM e
                 GROUP BY 1, 2 HAVING count(*) >= 5),
         bl AS (SELECT source, list(line) AS bad FROM sup GROUP BY 1)
         SELECT dl.doc_id,
           array_to_string(list_filter(dl.ls,
             x -> NOT list_contains(COALESCE(bl.bad, CAST([] AS VARCHAR[])), x)),
             chr(10)) AS text_clean,
           len(dl.ls) - len(list_filter(dl.ls,
             x -> NOT list_contains(COALESCE(bl.bad, CAST([] AS VARCHAR[])), x)))
             AS n_boiler
         FROM dl LEFT JOIN bl USING (source) ORDER BY dl.doc_id""",
    "q_quality_classifier" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         f AS (SELECT doc_id,
             list_concat(toks, list_transform(range(1, len(toks)),
               i -> toks[i] || '_' || toks[i+1])) AS feats
           FROM t)
         SELECT doc_id,
           CAST(COALESCE(list_sum(list_transform(feats, x ->
             (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 4096)
               * 2654435761 % 1001 - 500)), 0) AS BIGINT) AS w_sum,
           len(feats) AS n_feats
         FROM f ORDER BY doc_id""",
    "q_augment_mask" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         p AS (SELECT doc_id, toks,
             list_transform(range(1, len(toks) + 1), i ->
               CAST('0x' || substr(md5(doc_id || ':' || i || ':' || '7'),
                 1, 8) AS BIGINT) % 100 < 15) AS m
           FROM t)
         SELECT doc_id,
           COALESCE(array_to_string(list_transform(range(1, len(toks) + 1),
             i -> CASE WHEN m[i] THEN '[MASK]' ELSE toks[i] END), ' '), '')
             AS masked_text,
           COALESCE(array_to_string(list_filter(
             list_transform(range(1, len(toks) + 1),
               i -> CASE WHEN m[i] THEN i || ':' || toks[i] END),
             x -> x IS NOT NULL), ','), '') AS targets
         FROM p ORDER BY doc_id""",
    "q_search_date_math" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-18' AND ts < TIMESTAMP '2024-01-25'
         ORDER BY event_id""",
    "q_train_shuffle" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '42') AS shuffle_key
         FROM documents ORDER BY shuffle_key"""
    // rows-only (genuinely approximate or non-SQL): q_dedup_simhash
    // (xxhash64 signature), q_similarity_ivf / q_similarity_ann_store
    // (IVF recall < 1 — honest approximation; the exhaustive twins
    // q_similarity_ivf_exact / q_similarity_ann_store_exact ARE oracled),
    // q_similarity_pq (ADC quantization error by contract; its lossless
    // twins q_similarity_pq_exact / q_similarity_ivfpq_exact ARE oracled),
    // q_similarity_bbq (hamming recall < 1 at oversample 4; its exhaustive
    // twin q_similarity_bbq_exact IS oracled), q_bpe_train / q_tokenize_ids
    // (iterative merge induction has no SQL oracle; BpeSpec pins both),
    // q_ann_recall (the measured recall depends on the k-means assignment —
    // deterministic but not SQL-derivable; IvfSpec pins the arithmetic on
    // known-recall fixtures)
  )

  // the append-path proofs serve the SAME answers as their write-once
  // twins — build(half) + append(half) must equal build(all), so they
  // share the full-corpus oracle verbatim
  def oracleSql: Map[String, String] = baseOracles ++ Map(
    "q_termvectors_store" -> baseOracles("q_termvectors"),
    "q_suggest_term_store" -> baseOracles("q_suggest_term"),
    "q_suggest_store_append" -> baseOracles("q_suggest_phrase_store"),
    "q_completion_store_append" -> baseOracles("q_suggest_completion_store"),
    "q_norms_append" -> baseOracles("q_search_bm25_store"),
    "q_bm25_upsert_store" -> baseOracles("q_search_bm25_store"),
    "q_text_bigram_nll_store" -> baseOracles("q_text_bigram_nll"),
    "q_bigram_lm_append" -> baseOracles("q_text_bigram_nll"),
    "q_search_mlt_store" -> baseOracles("q_search_mlt"),
    "q_agg_significant_text_store" -> baseOracles("q_agg_significant_text"),
    "q_text_dup_ngrams_store" -> baseOracles("q_text_dup_ngrams"),
    "q_ngram_store_append" -> baseOracles("q_text_dup_ngrams"),
    // the subtraction proofs serve the SURVIVOR corpus' answers — build
    // over everything, forget a slice by key, and the store must serve
    // exactly what a rebuild without the deleted docs would (their oracle
    // is the direct SQL restricted to the survivors on BOTH sides: the
    // scored docs and the corpus statistics)
    "q_ngram_store_subtract" ->
      baseOracles("q_text_dup_ngrams").replace("FROM documents",
        "FROM documents WHERE doc_id % 7 <> 0"),
    "q_bigram_lm_subtract" ->
      baseOracles("q_text_bigram_nll").replace("FROM documents",
        "FROM documents WHERE doc_id % 7 <> 0"),
    "q_suggest_rebuild" -> baseOracles("q_suggest_phrase_store"),
    "q_bm25_store_delete" -> baseOracles("q_search_bm25_store")
      .replace("FROM documents", "FROM documents WHERE doc_id % 7 <> 0"),
    "q_dedup_store_delete" -> baseOracles("q_dedup_minhash")
      .replace("FROM documents", "FROM documents WHERE doc_id % 7 <> 0"),
    "q_completion_rebuild" -> baseOracles("q_suggest_completion_store"),
    // the materialized ANN index at nprobe = C is exhaustive — brute-force
    // top-k oracles the whole write-index → pruned-probe → verify path
    // (q_similarity_ann_store itself is rows-only: recall < 1 at
    // nprobe = 2 is its honest contract, like q_similarity_ivf)
    "q_similarity_ann_store_exact" -> baseOracles("q_similarity_ivf_exact"),
    "q_similarity_ivfpq_store_exact" ->
      baseOracles("q_similarity_ivfpq_exact"),
    // ANN maintenance plane (r13): append shares the write-once oracle
    // verbatim (build(half)+append(half) == build(all) at an exhaustive
    // probe); delete/compact serve the SURVIVOR corpus' answers — the same
    // oracle restricted to surviving neighbors (queries still query: only
    // the indexed side forgets); the ivfpq cycle returns every row, so the
    // full-slice oracle witnesses delete→compact→append end to end
    "q_similarity_ann_store_append" -> baseOracles("q_similarity_ivf_exact"),
    "q_ann_stream_store" -> baseOracles("q_similarity_ivf_exact"),
    "q_ann_store_retrain" -> baseOracles("q_similarity_ivf_exact"),
    // stats: lists is the build-time C, rows/tombstoned recount the store's
    // inputs (count FILTER keeps DuckDB in BIGINT, matching Spark's long)
    "q_ann_store_stats" ->
      """SELECT CAST(8 AS BIGINT) AS lists, count(*) AS rows,
           count(*) FILTER (WHERE vec_id % 7 = 3) AS tombstoned
         FROM embeddings""",
    "q_similarity_ann_store_delete" -> baseOracles("q_similarity_ivf_exact")
      .replace("WHERE e.vec_id <> q.query_id",
        "WHERE e.vec_id <> q.query_id AND e.vec_id % 7 <> 3"),
    "q_ann_store_compact" -> baseOracles("q_similarity_ivf_exact")
      .replace("WHERE e.vec_id <> q.query_id",
        "WHERE e.vec_id <> q.query_id AND e.vec_id % 7 <> 3"),
    "q_similarity_ivfpq_store_cycle" ->
      baseOracles("q_similarity_ivfpq_exact"),
    "q_ivfpq_store_retrain" -> baseOracles("q_similarity_ivfpq_exact"),
    "q_ivfpq_stream_store" -> baseOracles("q_similarity_ivfpq_exact"),
    // hybrid fusion: BM25 top-50 (raw-score ranking, the bm25_indexed
    // CTEs) and exact cosine top-50 around doc 0, fused by 1/(60+rank)
    "q_hybrid_retrieval_store" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                    '[^a-z0-9_]+'), x -> x <> '')) AS DOUBLE) AS dl,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bspark\b')) AS DOUBLE) AS tf0,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\bquery\b')) AS DOUBLE) AS tf1
           FROM documents),
         s AS (
           SELECT *, CAST(count(*) OVER () AS DOUBLE) AS N, avg(dl) OVER () AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) OVER () AS df1
           FROM d),
         sc AS (
           SELECT doc_id,
             ln(1 + (N - df0 + 0.5)/(df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2*(0.25 + 0.75*dl/avgdl)) +
             ln(1 + (N - df1 + 0.5)/(df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2*(0.25 + 0.75*dl/avgdl)) AS bm25
           FROM s WHERE tf0 > 0 OR tf1 > 0),
         t50 AS (
           SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
           FROM sc QUALIFY rk <= 50),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         qv AS (SELECT embedding AS query_vec FROM e WHERE vec_id = 0),
         cos AS (
           SELECT e.vec_id AS doc_id,
             list_cosine_similarity(e.embedding, q.query_vec) AS c
           FROM e, qv q WHERE e.vec_id <> 0),
         v50 AS (
           SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rk
           FROM cos QUALIFY rk <= 50),
         u AS (SELECT doc_id, 1.0 / (60 + rk) AS c FROM t50
               UNION ALL SELECT doc_id, 1.0 / (60 + rk) FROM v50),
         f AS (SELECT doc_id, sum(c) AS fused, CAST(count(*) AS INT) AS m
               FROM u GROUP BY doc_id)
         SELECT doc_id, CAST(floor(fused * 1e6) AS BIGINT) AS score_e6,
           m AS _rrf_matched
         FROM f ORDER BY fused DESC, doc_id LIMIT 20""")
}
