package perfbench

import graft.{Aggs, IndexConfig, Indexer, Maintain, QueryCompiler, Search, SegmentGranularity, TextIndex}
import graft.pipeline.{Bpe, Dedup, TextStats}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Helpers shared by the workloads. */
abstract class Base(h: Harness) extends Workload {
  protected val spark = h.spark
  import spark.implicits._
  protected val cfg = IndexConfig()
  protected val seed = h.opts.seed
  protected var dir = ""
  def inputsDir: String = s"$dir/inputs"
  protected def inputPath(table: String) = s"$inputsDir/$table.parquet"

  protected def scaled(n: Int, min: Int): Int = math.max(min, (n * h.opts.scale).toInt)

  protected def docsFrame(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.text, d.lang, d.source, d.segment))
      .toDF("doc_id", "text", "lang", "source", "segment")

  /** Doc ids of result rows; the indexer's doc model stores them as text. */
  protected def ids(rows: Array[Row]): Seq[Long] =
    rows.map(r => r.get(r.fieldIndex("doc_id")).toString.toLong).toSeq

  /** Order-free digest of an id set. */
  protected def digest(xs: Iterable[Long]): Long =
    xs.toArray.sorted.foldLeft(1125899906842597L)((a, x) => a * 31 + x)

  /** Predicted hits of a word term over a set of documents. */
  protected def holders(docs: Iterable[Doc], tok: String): Set[Long] =
    docs.iterator.filter(_.tokenSet(tok)).map(_.id).toSet

  /** One search request served from stores opened by path: validate,
    * open, construct, plan, execute. */
  protected def serve(docsPath: String, postPath: String, normsPath: String,
                      kind: String, q: String, terms: Seq[String]): Array[Row] = {
    if (kind != "bm25" && kind != "aggs")
      h.span("query.compile")(QueryCompiler.validate(q.replace("#options:load-rows=false#", "")))
        .left.foreach(e => throw new IllegalArgumentException(e))
    val indexed = Set("store", "pure", "bm25")(kind)
    val (store, meta) =
      if (indexed) h.span("textindex.open")(TextIndex.openPostings(spark, postPath))
      else (null, null)
    val df = h.span("search.construct") {
      val docs = spark.read.parquet(docsPath)
      kind match {
        case "scan" => Search.search(docs, q, cfg)
        case "store" => TextIndex.searchIndexed(docs, store, q, cfg, Seq("doc_id"),
          meta.fields.toSet, meta.nBuckets)
        case "pure" => TextIndex.searchIndexed(docs, store, q, cfg, Seq("doc_id"),
          meta.fields.toSet, meta.nBuckets, pureIndex = true)
        case "bm25" => TextIndex.bm25Indexed(store, spark.read.parquet(normsPath), "text",
            terms, nBuckets = meta.nBuckets)
          .orderBy(desc("_bm25"), col("doc_id")).limit(50)
        case "load" => Search.loadRows(Search.search(docs, "#options:load-rows=false#" + q, cfg),
          docs, Seq("doc_id"))
        case "total" => Search.searchWithTotal(docs, q, cfg)
        case "aggs" => Aggs.runSingle(docs, q)
      }
    }
    h.span("search.plan")(df.queryExecution.executedPlan)
    h.span(if (kind == "aggs") "aggs.exec" else "search.exec")(df.collect())
  }

  /** Postings over `text` and `lang` plus `text` norms: the index a
    * search store group serves from. */
  protected def writeIndex(docs: DataFrame, postPath: String, normsPath: String): Unit = {
    h.span("textindex.postings_build")(TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", Seq("text", "lang"), 16), postPath))
    h.span("textindex.norms_build")(TextIndex.buildNorms(docs, "doc_id", Seq("text"))
      .write.mode("overwrite").parquet(normsPath))
  }
}

/** One search request shape: how it is sent, and the generator's model of
  * its answer. `leaves` are the query's positive leaves: a hit matches
  * `hit`, and its score is the number of leaves it matches (the library
  * scores a term leaf 1 when it matches), which fixes the order the
  * max-results cap keeps. */
final case class Shape(kind: String, q: String, leaves: Seq[Doc => Boolean],
                       hit: Doc => Boolean, terms: Seq[String] = Nil)

object Shape {
  def term(t: String): Doc => Boolean = _.tokenSet(t)
  def lang(l: String): Doc => Boolean = _.lang == l
  def prefix(p: String): Doc => Boolean = _.tokens.exists(_.startsWith(p))
  def phrase(a: String, b: String): Doc => Boolean = { d =>
    val ts = d.tokens
    (1 until ts.length).exists(i => ts(i - 1) == a && ts(i) == b)
  }
  def fuzzy(t: String, dist: Int): Doc => Boolean = {
    val within = mutable.HashMap.empty[String, Boolean]
    _.tokens.exists(w => within.getOrElseUpdate(w, Gen.osa(w, t) <= dist))
  }

  def anyOf(kind: String, q: String, ls: (Doc => Boolean)*): Shape =
    Shape(kind, q, ls, d => ls.exists(_(d)))
  def allOf(kind: String, q: String, ls: (Doc => Boolean)*): Shape =
    Shape(kind, q, ls, d => ls.forall(_(d)))
}

/** Bulk-index one corpus, then serve it read-only: every round is one
  * request of each shape, in a seeded order. */
final class SearchMix(h: Harness) extends Base(h) {
  import spark.implicits._
  import Shape._
  /** The sf0.1 `documents` table's size, replicated three times. */
  private val base = scaled(5000, 250)
  private val replicas = 3
  private val n = base * replicas
  private val sizes = IndexedSeq(1, 2, 4, 8, 16, 32, 64, 128, 256, 3, 6, 12, 24, 48, 96,
    5, 10, 20, 40, 80).map(s => math.min(s, n / 8))
  private var corpus: IndexedSeq[Doc] = IndexedSeq.empty
  private var planted: Map[String, Set[Long]] = Map.empty
  private var expected: IndexedSeq[(Long, Long)] = IndexedSeq.empty
  private val order = new Gen(seed, 11)
  private val now = new java.sql.Timestamp(Gen.epoch2024 + 200L * 86400000L)
  private def docsPath = s"$dir/store/docs"
  private def postPath = s"$dir/store/postings"
  private def normsPath = s"$dir/store/norms"

  /** Every request is one of these. Selectivity runs from a word of every
    * replica (in 78 % of the docs, so the 10k cap applies) and words of one
    * replica (26 %) down to planted tokens in 1 to 256 docs. */
  private val stopAll = (0 until replicas).map(Gen.renamed("the", _))
  private val specs: IndexedSeq[Shape] = IndexedSeq(
    anyOf("scan", stopAll.map("text:" + _).mkString(" OR "), stopAll.map(term): _*),
    allOf("scan", "text:merg* AND lang:de", prefix("merg"), lang("de")),
    allOf("scan", "text:\"hash join\"", phrase("hash", "join")),
    allOf("scan", "text:spork~1 AND lang:fr", fuzzy("spork", 1), lang("fr")),
    Shape("scan", """{"query":{"bool":{"must":[{"match":{"text":"qp5"}}],"must_not":[{"term":{"lang":"de"}}]}},"size":10000}""",
      Seq(term("qp5")), d => term("qp5")(d) && !lang("de")(d)),
    allOf("store", "text:dup AND lang:de", term("dup"), lang("de")),
    anyOf("pure", "#options:load-rows=false#text:qp19 OR text:qp2", term("qp19"), term("qp2")),
    anyOf("bm25", "", term("qp2"), term("qp3")).copy(terms = Seq("qp2", "qp3")),
    anyOf("load", "text:qp10 OR text:stream", term("qp10"), term("stream")),
    allOf("total", "text:window AND lang:de", term("window"), lang("de")),
    allOf("aggs", """{"query":{"match":{"text":"qp12"}},"aggs":{"by_lang":{"terms":{"field":"lang","size":5}}}}""",
      term("qp12")))

  /** Generate the corpus, then bulk-index it the way a source table is
    * indexed: doc-model projection with a month segment and a TTL,
    * segmented write, postings and norms. */
  def setup(d: String): Unit = {
    dir = d
    val (docs, pl) = Gen.corpus(new Gen(seed, 1), base, replicas, sizes)
    corpus = docs; planted = pl
    docs.map { d =>
      val created = java.sql.Timestamp.valueOf(s"${d.segment}-01 00:00:00").getTime + (d.id % 28) * 86400000L
      (d.id, d.text, d.lang, d.source, new java.sql.Timestamp(created),
        new java.sql.Timestamp(created + 365L * 86400000L))
    }.toDF("doc_id", "text", "lang", "source", "created", "expires")
      .write.parquet(inputPath("documents"))
    val built = h.span("indexer.build_docs")(Indexer.buildDocs(
      spark.read.parquet(inputPath("documents")), Seq("doc_id"), Nil,
      IndexConfig(segment = SegmentGranularity.Month), now,
      ttlCol = Some("expires"), segmentSource = Some("created")))
    h.span("indexer.write")(Indexer.writeSegmented(built, docsPath))
    writeIndex(spark.read.parquet(docsPath), postPath, normsPath)
  }

  /** Untimed: the build checks, the expected answers, then one warm-up
    * round, so every measured round runs warm code and a run's round
    * count does not move its figures. */
  override def prepare(): Unit = {
    h.op("check") {
      val small = planted.filter(_._2.size < 50)
      val got = spark.read.parquet(postPath)
        .where(col("field") === "text" && col("token").isin(small.keys.toSeq: _*))
        .select("token", "doc_id").collect()
        .groupBy(_.getString(0)).map { case (t, rs) => t -> ids(rs).toSet }
      (spark.read.parquet(docsPath).count(), small, got)
    } { case (docs, small, got) =>
      h.expect(docs == n, s"search_mix doc store holds $docs docs, expected $n")
      small.foreach { case (tok, want) =>
        h.expect(got.getOrElse(tok, Set.empty) == want, s"search_mix postings of $tok differ from the planted docs")
      }
    }
    expected = specs.indices.map(reference)
    specs.indices.foreach(request)
  }

  /** The shape the first measured request uses: the one `--corrupt`
    * breaks, so the run is sure to meet it. */
  private val firstSpec = new Gen(seed, 11).sample(specs.indices, specs.size).head

  /** Expected (id digest, count) per request shape, from the generator's
    * model alone: the hits ordered by (score desc, id asc) and cut at the
    * cap, where ids compare as the text the doc model stores them as; for
    * the terms aggregation, the per-language counts. */
  private def reference(i: Int): (Long, Long) = {
    val s = specs(i)
    val hits = corpus.filter(s.hit)
    val exp = if (s.kind == "aggs") {
      val by = hits.groupBy(_.lang).map { case (k, v) => (k, v.size) }.toSeq.sorted
      (by.hashCode.toLong, by.size.toLong)
    } else {
      val cap = if (s.kind == "bm25") 50 else cfg.maxResults
      val top = hits.sortBy(d => (-s.leaves.count(_(d)), d.id.toString)).take(cap).map(_.id)
      (digest(top), top.size.toLong)
    }
    if (h.opts.corrupt && i == firstSpec) (exp._1 + 1, exp._2) else exp
  }

  private def request(i: Int): Unit = {
    val s = specs(i)
    h.op("search", tag = s"$i:${s.kind}")(serve(docsPath, postPath, normsPath, s.kind, s.q, s.terms)) { rows =>
      if (expected.nonEmpty) {
        val got = if (s.kind == "aggs") {
          val by = rows.map(r => (r.getString(0), r.getLong(1).toInt)).toSeq.sorted
          (by.hashCode.toLong, by.size.toLong)
        } else { val xs = ids(rows); (digest(xs), xs.size.toLong) }
        h.expect(got == expected(i), s"search_mix request $i (${s.kind} ${s.q}) returned $got, expected ${expected(i)}")
        if (s.kind == "total" && rows.nonEmpty)
          h.expect(rows.head.getAs[Long]("hit_count") == rows.length,
            s"searchWithTotal hit_count ${rows.head.getAs[Long]("hit_count")} != ${rows.length}")
      }
      h.lastHits = rows.length
    }
  }

  def round(): Unit = order.sample(specs.indices, specs.size).foreach(request)

  /** Two rounds give every shape two samples and the median 22. */
  val minRounds = 2

  def finish(): Summary = {
    val layer = if (!h.opts.trace) Map.empty[String, Double] else Map(
      "indexer.files_written" -> h.dataFiles(docsPath).toDouble,
      "textindex.store_files" -> h.dataFiles(postPath).toDouble,
      "textindex.postings_rows_per_doc" -> spark.read.parquet(postPath).count().toDouble / n,
      "textindex.candidates_per_hit" -> candidatesPerHit())
    Summary(h.bytesUnder(s"$dir/store"), n, layer)
  }

  /** Index candidates per verified hit over the index-served shapes. */
  private def candidatesPerHit(): Double = {
    val (store, meta) = TextIndex.openPostings(spark, postPath)
    val docs = spark.read.parquet(docsPath)
    val served = specs.indices.filter(i => specs(i).kind == "store" || specs(i).kind == "pure")
    val cands = served.map(i => TextIndex.prefilter(docs, store, specs(i).q, "doc_id",
      meta.fields.toSet, meta.nBuckets).count()).sum
    val hits = served.map(expected(_)._2).sum
    if (hits > 0) cands.toDouble / hits else 0.0
  }
}

/** Writes on two store groups. The search group (doc store, postings,
  * norms) takes upsert and delete batches, each checked by a verified
  * index-served search, plus compaction. The curation group (MinHash
  * sketches, doc-keyed n-gram counts, BPE tokenizer) takes new-doc
  * batches with planted near-duplicates. Deletes hit both groups. */
final class WriteMix(h: Harness) extends Base(h) {
  import spark.implicits._
  private val n = scaled(1000, 300)
  private val upsertSize = scaled(100, 20)
  private val deleteSize = scaled(30, 6)
  private val ingestSize = scaled(100, 20)
  private val live = mutable.LinkedHashMap.empty[Long, Doc]
  private val curated = mutable.LinkedHashMap.empty[Long, Doc]
  private val unusedSources = mutable.LinkedHashSet.empty[Long]
  private var gen = 0
  private var nextId = 0L
  private var ver = 0L
  private var batches = 0
  private var digestAcc = 0L
  private var truePairs = 0L
  private var reportedPairs = 0L
  private def docsPath = s"$dir/store/docs/g$gen"
  private def postPath = s"$dir/store/postings"
  private def normsPath = s"$dir/store/norms"
  private def sketchPath = s"$dir/store/sketch"
  private def ngramPath = s"$dir/store/ngrams"
  private def tokPath = s"$dir/store/tokenizer"

  override def batchDigest: Long = digestAcc

  /** Untimed: warm the search path, so a cold first search does not
    * stand in for the median of the few measured ones. */
  override def prepare(): Unit = modelSearch(Seq("spark", "qp1"), None)

  def setup(d: String): Unit = {
    dir = d
    gen = 0; batches = 0; digestAcc = 0L; ver = 0L; truePairs = 0L; reportedPairs = 0L
    val (docs, _) = Gen.corpus(new Gen(seed, 3), n, 1, IndexedSeq(10, 30, 100))
    live.clear(); docs.foreach(d => live(d.id) = d)
    curated.clear(); docs.foreach(d => curated(d.id) = d)
    unusedSources.clear(); unusedSources ++= docs.map(_.id)
    nextId = 10L * n
    docsFrame(docs).write.parquet(inputPath("documents"))
    val src = spark.read.parquet(inputPath("documents"))
    h.span("indexer.write")(Indexer.writeSegmented(src.withColumn("ver", lit(0L)), docsPath))
    writeIndex(spark.read.parquet(docsPath), postPath, normsPath)
    h.span("dedup.sketch_build")(Dedup.writeSketchStore(src, sketchPath, "text", "doc_id"))
    h.span("text.ngram_build")(TextStats.writeNgramCountsKeyed(src, "text", "doc_id", 3, ngramPath))
    h.span("bpe.train")(Bpe.writeTokenizer(src, "text", 8, tokPath))
  }

  private def record(xs: Seq[(Long, String)]): Unit =
    if (batches <= 6) digestAcc = digestAcc * 31 + xs.map(_.hashCode.toLong).sum

  /** Verified index-served search, checked against the live-doc model. */
  private def search(q: String, want: Set[Long]): Unit =
    h.op("search")(serve(docsPath, postPath, normsPath, "store", q, Nil)) { rows =>
      val got = ids(rows).toSet
      h.expect(got == want, s"write_mix '$q' returned ${got.size} ids, expected ${want.size}")
      h.lastHits = rows.length
    }

  private def countCheck(what: String): Unit = {
    val c = spark.read.parquet(docsPath).count()
    h.expect(c == live.size, s"write_mix after $what: doc store holds $c docs, model ${live.size}")
  }

  /** Mostly edits of live docs (a few hot keys edited twice in one batch),
    * some inserts. The winning version of each key carries `ub<k>`, a
    * losing one `uo<k>`, so last-write-wins shows in one search. Returns
    * that search and its expected hits. */
  private def upsert(): (String, Set[Long]) = {
    batches += 1
    val k = batches
    val g = new Gen(seed, 1000 + k)
    val edits = g.sample(live.keys.toIndexedSeq, upsertSize * 4 / 5)
    val inserts = (0 until upsertSize / 5).map(_ => { nextId += 1; nextId })
    val hot = edits.take(upsertSize / 20)
    def fresh(id: Long, tok: String) = {
      val d = g.doc(id)
      val old = live.get(id)
      Doc(id, g.plant(d.text, tok), old.map(_.lang).getOrElse(d.lang), d.source,
        old.map(_.segment).getOrElse(d.segment))
    }
    val losers = hot.map(fresh(_, s"uo$k"))
    val winners = (edits ++ inserts).map(fresh(_, s"ub$k"))
    val rows = (losers ++ winners).map { d => ver += 1; (d, ver) }
    record(rows.map { case (d, _) => (d.id, d.text) })
    h.op("upsert", winners.size.toLong) {
      val batch = rows.map { case (d, v) => (d.id, d.text, d.lang, d.source, d.segment, v) }
        .toDF("doc_id", "text", "lang", "source", "segment", "ver")
      val cur = docsPath
      h.span("indexer.upsert") {
        val merged = Indexer.upsert(spark.read.parquet(cur), batch, "doc_id", Seq("ver"))
        gen += 1
        Indexer.writeSegmented(merged, docsPath)
      }
      Main.deleteTree(new java.io.File(cur))
      val latest = Indexer.latestPerKey(batch, "doc_id", Seq("ver"))
      h.span("textindex.append")(TextIndex.appendPostings(latest, "doc_id", Seq("text", "lang"), postPath, 16))
      h.span("textindex.upsert_norms")(TextIndex.upsertNorms(latest, "doc_id", Seq("text"), normsPath))
    } { _ =>
      winners.foreach(d => live(d.id) = d)
      countCheck(s"upsert $k")
    }
    val want = winners.map(_.id).toSet ++ (if (h.opts.corrupt && k == 1) Set(-1L) else Set.empty)
    (s"text:ub$k OR text:uo$k", want)
  }

  /** New docs for the curation stores: one in ten a one-word edit of a
    * stored doc of at least 20 words, one in twenty an exact copy, the rest
    * fresh text. Each stored doc is copied at most once, so the planted
    * pairs are the only pairs. */
  private def ingest(): Unit = {
    batches += 1
    val k = batches
    val g = new Gen(seed, 5000 + k)
    val nNear = ingestSize / 10; val nExact = ingestSize / 20
    val sources = g.sample(unusedSources.toIndexedSeq.filter(curated(_).tokens.length >= 20), nNear + nExact)
    unusedSources --= sources
    val docs = (0 until ingestSize).map { i =>
      nextId += 1
      if (i < nNear) curated(sources(i)).copy(id = nextId, text = g.nearCopy(curated(sources(i)).text))
      else if (i < nNear + nExact) curated(sources(i)).copy(id = nextId)
      else g.doc(nextId)
    }
    val pairs = sources.zip(docs.map(_.id)).toSet
    val exact = docs.slice(nNear, nNear + nExact).map(_.id).toSet
    record(docs.map(d => (d.id, d.text)))
    h.op("ingest", ingestSize.toLong) {
      val df = docsFrame(docs)
      val found = h.span("dedup.incremental")(Dedup.minhashPairsIncremental(spark, sketchPath, df,
        "text", "doc_id", appendToStore = true).collect())
      h.span("text.ngram_append")(TextStats.appendNgramCountsKeyed(df, "text", "doc_id", 3, ngramPath))
      val scores = h.span("text.ngram_score")(TextStats.dupNgramFractionFromKeyedStore(df, "text",
        "doc_id", 3, ngramPath).collect())
      val enc = h.span("bpe.encode")(Bpe.encodeToIdsFromStore(df, "doc_id", "text", tokPath).collect())
      (found, scores, enc)
    } { case (found, scores, enc) =>
      val got = found.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      truePairs += pairs.size; reportedPairs += got.size
      h.expect(got == pairs, s"write_mix ingest $k: ${got.size} pairs, expected ${pairs.size}")
      val dup = scores.count(r => exact(r.getAs[Long]("doc_id")) && r.getAs[Double]("dup_ngram_frac") == 1.0)
      h.expect(dup == exact.size, s"write_mix ingest $k: $dup of ${exact.size} exact copies scored 1.0")
      val bad = enc.count(r => r.getAs[Int]("n_tokens") == 0 ||
        r.getAs[scala.collection.Seq[Int]]("input_ids").contains(-1))
      h.expect(enc.length == docs.size && bad == 0,
        s"write_mix ingest $k: ${enc.length} docs encoded, $bad empty or with unknown ids")
      docs.foreach(d => curated(d.id) = d)
    }
  }

  /** Deletes base docs from both store groups, a third of them holders of
    * one planted token. Returns the search that shows whether deleted
    * docs still surface, and its expected hits. */
  private def delete(): (String, Set[Long]) = {
    batches += 1
    val g = new Gen(seed, 1000 + batches)
    val tok = s"qp${batches % 3}"
    val base = live.keys.filter(id => id < n && curated.contains(id)).toIndexedSeq
    val tagged = g.sample(base.filter(id => live(id).tokenSet(tok)), deleteSize / 3)
    val gone = (tagged ++ g.sample(base.filterNot(tagged.contains), deleteSize - tagged.size)).toSet
    record(gone.toSeq.sorted.map(id => (id, "")))
    h.op("delete", gone.size.toLong) {
      val keys = gone.toSeq.toDF("doc_id")
      val cur = docsPath
      h.span("indexer.delete") {
        val kept = Indexer.delete(spark.read.parquet(cur), keys, Seq("doc_id"))
        gen += 1
        Indexer.writeSegmented(kept, docsPath)
      }
      Main.deleteTree(new java.io.File(cur))
      h.span("textindex.delete")(TextIndex.deleteDocs(spark, normsPath, keys))
      h.span("dedup.delete")(Dedup.deleteFromSketchStore(spark, sketchPath, keys.select(col("doc_id").as("id"))))
      h.span("text.ngram_subtract")(TextStats.subtractNgramCounts(spark, ngramPath, keys))
    } { _ =>
      gone.foreach { id => live.remove(id); curated.remove(id); unusedSources.remove(id) }
      countCheck(s"delete $batches")
      val c = spark.read.parquet(sketchPath).count()
      h.expect(c == curated.size, s"write_mix after delete: sketch store holds $c, model ${curated.size}")
    }
    (s"text:$tok", holders(live.values, tok))
  }

  private def compact(): Unit =
    h.op("compact") {
      h.span("maintain.compact") {
        Maintain.compactSegments(spark, docsPath, "segment")
        TextIndex.compactPostings(spark, postPath)
      }
    } { case (before, after) =>
      h.expect(after <= before, s"compactPostings grew the postings store: $before -> $after files")
      countCheck("compact")
    }

  /** A search whose answer the live-doc model predicts: every live doc
    * holding all of `toks` (and in `lang`, when given). */
  private def modelSearch(toks: Seq[String], lang: Option[String]): Unit =
    search((toks.map("text:" + _) ++ lang.map("lang:" + _)).mkString(" AND "),
      live.values.filter(d => toks.forall(d.tokenSet) && lang.forall(_ == d.lang))
        .map(_.id).toSet)

  /** A round takes about 15 s at local[4]; one keeps a run near a minute. */
  val minRounds = 1

  /** One round: upsert and its check search; ingest and a planted-token
    * search; delete and its check search; compaction, then a common-term
    * search that reads the compacted stores. */
  def round(): Unit = {
    val (uq, uwant) = upsert()
    search(uq, uwant)
    ingest()
    modelSearch(Seq("window", "qp2"), None)
    val (dq, dwant) = delete()
    search(dq, dwant)
    compact()
    modelSearch(Seq("spark"), Some("de"))
  }

  def finish(): Summary = {
    val layer = if (!h.opts.trace) Map.empty[String, Double] else {
      val (store, meta) = TextIndex.openPostings(spark, postPath)
      val docs = spark.read.parquet(docsPath)
      val toks = Seq("qp0", "qp1", "qp2")
      val cands = toks.map(t => TextIndex.prefilter(docs, store, s"text:$t", "doc_id",
        meta.fields.toSet, meta.nBuckets).count()).sum
      val hits = toks.map(t => holders(live.values, t).size).sum
      Map("textindex.store_files" -> h.dataFiles(postPath).toDouble,
        "textindex.candidates_per_hit" -> (if (hits > 0) cands.toDouble / hits else 0.0),
        "dedup.candidates_per_true_pair" ->
          (if (truePairs > 0) reportedPairs.toDouble / truePairs else 0.0))
    }
    Summary(h.bytesUnder(s"$dir/store"), live.size.toLong, layer)
  }
}
