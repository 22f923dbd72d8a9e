package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests from the SURVEY §5 plan: doc-id round-trip inverse,
  * TTL-filter idempotence, ISO format stability. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  test("property: a planted shared span is always recovered in full") {
    // random background docs of distinct tokens + one boilerplate run
    // planted into two of them at random offsets: duplicateSpans must
    // report a span that covers exactly the planted run in each host
    val wordGen = Gen.listOfN(7, Gen.alphaLowerChar).map(_.mkString)
    def words(n: Int, seedTag: Int): Seq[String] =
      Iterator.continually(wordGen.sample).flatten
        .map(w => s"${w}$seedTag").distinct.take(n).toSeq
    val n = 4
    (0 until 5).foreach { trial =>
      val boiler = words(6, 100 + trial) // 6-token planted run
      val pre1 = words(3 + trial % 4, 200 + trial)
      val post1 = words(2, 300 + trial)
      val pre2 = words(5 - trial % 3, 400 + trial)
      val post2 = words(3, 500 + trial)
      val docs = Seq(
        (1L, (pre1 ++ boiler ++ post1).mkString(" ")),
        (2L, (pre2 ++ boiler ++ post2).mkString(" ")),
        (3L, words(12, 600 + trial).mkString(" "))).toDF("doc_id", "text")
      val spans = graft.pipeline.Dedup.duplicateSpans(docs, "text", "doc_id", n = n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val expected = Set(
        (1L, pre1.size + 1, pre1.size + boiler.size),
        (2L, pre2.size + 1, pre2.size + boiler.size))
      assert(spans == expected, s"trial $trial: got $spans, want $expected")
    }
  }

  test("property: docId ∘ split is the identity for separator-free keys") {
    val keyGen = for {
      pk <- Gen.choose(0L, Long.MaxValue)
      ck <- Gen.choose(0, Int.MaxValue)
    } yield (pk, ck)
    val samples = Iterator.continually(keyGen.sample).flatten.take(200).toSeq
    val df = samples.toDF("pk", "ck")
      .select(col("pk"), col("ck"), DocModel.docId(Seq("pk"), Seq("ck")).as("doc_id"))
      .select(col("pk"), col("ck"),
        split(col("doc_id"), "-").getItem(0).cast("long").as("rpk"),
        split(col("doc_id"), "-").getItem(1).cast("int").as("rck"))
    assert(df.where(col("pk") =!= col("rpk") || col("ck") =!= col("rck")).count() == 0)
  }

  test("property: TTL filter is idempotent") {
    val rows = Iterator.continually(Gen.choose(0L, 4000000000L).sample)
      .flatten.take(300).zipWithIndex.map { case (ttl, i) => (i.toLong, ttl) }.toSeq
    val docs = rows.toDF("doc_id", "_cassandraTtl")
    val cfg = IndexConfig(ttlShiftSec = 60)
    val once = Maintain.ttlFilter(docs, 2000000000L, cfg)
    val twice = Maintain.ttlFilter(once, 2000000000L, cfg)
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }

  test("property: bulk NDJSON round-trips arbitrary strings (both actions)") {
    // quotes, newlines, unicode, backslashes — the JSON escaping in
    // toBulkNdjson must keep the 2-line NDJSON frame parseable
    val strGen = Gen.listOfN(12, Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf('"', '\\', '\n', '\t', 'é', '中', ' '))))
      .map(_.mkString)
    val rows = Iterator.continually(strGen.sample).flatten.take(150)
      .zipWithIndex.map { case (s, i) => (i.toString, s) }.toSeq
    val docs = rows.toDF("doc_id", "Value")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Value",
        org.apache.spark.sql.types.StringType)))
    for (cfg <- Seq(IndexConfig(), IndexConfig(insertOnly = true))) {
      val back = Indexer.fromBulkNdjson(
        Indexer.toBulkNdjson(docs, "idx", cfg).select("bulk"), schema)
      val diff = docs.join(back, Seq("doc_id"))
        .where(docs("Value") =!= back("Value")).count()
      assert(diff == 0)
      assert(back.count() == rows.size)
    }
  }

  test("property: escaped arbitrary terms always match their own token") {
    // for ANY printable-ASCII token, escapeTerm(tok) compiled as a term
    // must match a document containing exactly that token — the
    // literal-match contract behind the ES match family. Tokens are
    // whitespace-free and word-char-edged (the declared \b-anchor domain).
    val tokGen = for {
      mid <- Gen.listOfN(6, Gen.frequency(
        (6, Gen.alphaNumChar), (3, Gen.oneOf('*', '?', '\\', '^', '~', ':',
          '(', ')', '"', '/', '-', '+', '.'))))
      first <- Gen.alphaNumChar
      last <- Gen.alphaNumChar
    } yield (first +: mid :+ last).mkString
    val toks = Iterator.continually(tokGen.sample).flatten.take(120).toSeq.distinct
    val df = toks.zipWithIndex.map { case (t, i) => (i.toString, s"pre $t post") }
      .toDF("doc_id", "text")
    toks.zipWithIndex.foreach { case (t, i) =>
      val pred = QueryCompiler.termMatch(col("text"), QueryCompiler.escapeTerm(t))
      val hits = df.where(pred).select("doc_id").collect().map(_.getString(0))
      assert(hits.contains(i.toString),
        s"escaped term '$t' failed to match its own document")
    }
  }

  test("property: fuzzy highlight marks exactly the predicate's accepted tokens") {
    // the "same matches as the filter" contract: for random corpora, terms
    // and (dist, prefix) budgets, a token is wrapped by
    // fuzzy_token_highlight iff replacing the text with that single token
    // satisfies fuzzy_token_match
    import graft.functions.TextSketchFunctions.{fuzzy_token_highlight, fuzzy_token_match}
    val wordGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val caseGen = for {
      term <- Gen.choose(3, 7).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
      words <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, wordGen))
      dist <- Gen.choose(0, 2)
      pfx <- Gen.choose(0, 3)
    } yield (term, words, dist, pfx)
    val cases = Iterator.continually(caseGen.sample).flatten.take(60).toSeq
    inBothModes { _ => cases.zipWithIndex.foreach { case ((term, words, dist, pfx), i) =>
      val text = words.mkString(" ")
      val hl = Seq((i.toString, text)).toDF("doc_id", "text")
        .select(fuzzy_token_highlight(col("text"), Seq((term, dist, pfx)), "<", ">")
          .as("h")).collect().head.getString(0)
      val marked = hl.split(" ").toSeq.map(w =>
        w.startsWith("<") && w.endsWith(">"))
      words.zip(marked).foreach { case (w, isMarked) =>
        val accepts = Seq((0L, w)).toDF("id", "t")
          .where(fuzzy_token_match(col("t"), term, dist, pfx))
          .count() == 1
        assert(isMarked == accepts,
          s"term='$term' dist=$dist pfx=$pfx word='$w': marked=$isMarked accepts=$accepts in '$hl'")
      }
    } }
  }

  test("fuzzy prefix longer than the term pins it and allows trailing inserts") {
    import graft.functions.TextSketchFunctions.fuzzy_token_match
    def m(text: String) = Seq((1L, text)).toDF("id", "t")
      .where(fuzzy_token_match(col("t"), "spark", 2, prefixLen = 10)).count() == 1
    inBothModes { _ =>
      assert(m("spark"))   // the whole term is the pinned prefix
      assert(m("sparked")) // ≤2 trailing insertions
      assert(!m("spork"))  // an edit inside the pinned region
      assert(!m("sparkles3")) // 4 insertions > budget
    }
  }

  test("fuzzy and word-match scans stay inside one whole-stage codegen stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wscg").toString
    Seq((1L, "spork runs", "fr"), (2L, "spark", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(dir)
    val hits = Search.search(spark.read.parquet(dir), "text:spork~1 AND lang:fr", IndexConfig())
    val plan = hits.queryExecution.executedPlan
    val filters = plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(filters.nonEmpty, plan.toString)
    val staged = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }
    }.flatten
    assert(staged.size == filters.size, s"a filter fell out of whole-stage codegen:\n$plan")
    assert(filters.exists(_.condition.exists(_.isInstanceOf[graft.functions.FuzzyTokenMatch])))
    assert(filters.exists(_.condition.exists(_.isInstanceOf[graft.functions.WordMatch])))
    assert(hits.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  /** Text values that exercise both paths of the native text kernels
    * (`word_match`, `word_runs`): ASCII words in any case, word-char edges
    * (_ digits), punctuation, Latin-1, CJK, combining marks, Turkish
    * dotted/dotless i, the Kelvin sign and long s (both fold to ASCII
    * under a case-insensitive regex), empty values and nulls. */
  private val textValueGen: Gen[String] = {
    val pieces = Seq("spark", "Spark", "SPARK", "sparks", "x", "X1", "1x", "_",
      "a_b", "42", "-", "--", ".", ",", "'", "*", "?", "\\", "café", "CAFÉ",
      "Über", "ß", "数据", "中文spark", "e\u0301", "spark\u0301", "\u0301x",
      "İ", "ı", "I", "i", "İstanbul", "ISTANBUL", "ıi", "\t", " ", "\u212Aelvin", "ſpark")
    Gen.frequency(
      (1, Gen.const(null: String)), (1, Gen.const("")),
      (12, Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, for {
        p <- Gen.oneOf(pieces)
        sep <- Gen.oneOf(" ", "", "-", "_", " ", "\n")
      } yield p + sep).map(_.mkString))))
  }

  test("property: word_match ≡ lower(x) RLIKE termPattern(t), interpreted " +
       "and generated") {
    val values = Iterator.continually(textValueGen.sample).flatten.take(400).toSeq
    val terms = Seq("spark", "SPARK", "x", "x1", "1x", "_", "a_b", "42", "i", "I",
      "-x", "x-", "-spark", "spark-", "-", "spark\\*", "\\*", "a\\-b",
      "spar*", "SPAR*", "x*", "_*", "-*", "caf*", "spark\\**", "\\\\*",
      "café", "CAFÉ", "é", "über", "ß", "数据", "数*", "İ", "ı", "i\u0307", "İstanbul",
      "istanbul", "ıi", "e\u0301", "\u0301")
    val native = terms.filter(t => org.apache.spark.sql.graft.Bridge.catalystExpression(
      QueryCompiler.termMatch(col("v"), t)).isInstanceOf[graft.functions.WordMatch])
    assert(native.size == terms.size, terms.diff(native))
    val dir = java.nio.file.Files.createTempDirectory("graft_word_match").toString
    values.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val cols = terms.zipWithIndex.flatMap { case (t, i) =>
      Seq(QueryCompiler.termMatch(col("v"), t).as(s"k$i"),
        lower(col("v")).rlike(QueryCompiler.termPattern(t)).as(s"r$i"))
    }
    inBothModes { mode =>
      val out = spark.read.parquet(dir).select(col("id") +: col("v") +: cols: _*).collect()
      assert(out.length == values.size)
      var hits = 0
      for (r <- out; (t, i) <- terms.zipWithIndex) {
        val (k, rx) = (r.getAs[Any](s"k$i"), r.getAs[Any](s"r$i"))
        assert(k == rx, s"$mode: term '$t' on '${r.getString(1)}': word_match=$k, regex=$rx")
        if (rx == true) hits += 1
      }
      assert(hits > 200, s"$mode: too few matches ($hits) to mean anything")
      // the same predicate as a pushed scan filter
      val where = spark.read.parquet(dir).where(QueryCompiler.termMatch(col("v"), "spark"))
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      val whereRx = spark.read.parquet(dir)
        .where(lower(col("v")).rlike(QueryCompiler.termPattern("spark")))
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(where == whereRx && where.nonEmpty, mode)
    }
  }

  test("property: word_runs ≡ filter(split(lower(x), '[^a-z0-9_]+'), len > 0), " +
       "interpreted and generated") {
    import graft.functions.WordRuns
    val values = Iterator.continually(textValueGen.sample).flatten.take(400).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_word_runs").toString
    values.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    // the reference is the split form the kernel replaces, on a binary and
    // on a UTF8_LCASE string (split's case-insensitive regex flags)
    def reference(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "[^a-z0-9_]+"), t => length(t) > 0)
    val lcase = collate(col("v"), "UTF8_LCASE")
    inBothModes { mode =>
      val out = spark.read.parquet(dir).select(col("v"),
        WordRuns.column(col("v")).as("k"), reference(col("v")).as("r"),
        WordRuns.column(lcase).as("kl"), reference(lcase).as("rl")).collect()
      assert(out.length == values.size)
      for (r <- out; (k, rx) <- Seq("k" -> "r", "kl" -> "rl")) {
        val (got, want) = (r.getAs[collection.Seq[String]](k), r.getAs[collection.Seq[String]](rx))
        assert(got == want, s"$mode $k on '${r.getString(0)}': word_runs=$got, split=$want")
      }
      // the driver entry is the binary-string analyzer
      for (r <- out if !r.isNullAt(0))
        assert(WordRuns.tokens(r.getString(0)) == r.getAs[collection.Seq[String]]("r"),
          s"driver tokens of '${r.getString(0)}'")
      val tokens = out.map(r => Option(r.getAs[collection.Seq[String]]("r")).map(_.size).getOrElse(0)).sum
      assert(tokens > 400, s"$mode: too few tokens ($tokens) to mean anything")
      assert(out.exists(r => r.getString(0) != null && !r.getString(0).forall(_ < 128)))
    }
  }

  /** Run `body` with interpreted expressions (no generated code at all),
    * then with generated code only, inside whole-stage codegen. */
  private def inBothModes(body: String => Unit): Unit =
    Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true").foreach { case (mode, wholeStage) =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("property: wildcard-free grouped query ≡ explicit OR of field terms") {
    val wordGen = Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
    val pairs = Iterator.continually(wordGen.sample).flatten.take(60)
      .toSeq.distinct.grouped(2).filter(_.size == 2).take(25).toSeq
    val docs = pairs.zipWithIndex.flatMap { case (Seq(a, b), i) =>
      Seq((s"a$i", s"$a x"), (s"b$i", s"y $b"), (s"n$i", "neither one"))
    }.toDF("doc_id", "text")
    pairs.foreach { case Seq(a, b) =>
      def ids(q: String) = Search.search(docs, q, IndexConfig())
        .select("doc_id").collect().map(_.getString(0)).toSet
      assert(ids(s"text:($a OR $b)") == ids(s"text:$a OR text:$b"))
    }
  }

  test("property: ISO-8601 format round-trips through parsing") {
    val tsGen = Gen.choose(0L, 4102444800000L) // 1970..2100 in millis
    val samples = Iterator.continually(tsGen.sample).flatten.take(200)
      .map(ms => new java.sql.Timestamp(ms)).toSeq
    val df = samples.toDF("ts")
      .select(col("ts"), date_format(col("ts"), DocModel.IsoFormat).as("iso"))
      .select(col("ts"),
        to_timestamp(col("iso"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("back"))
    assert(df.where(col("ts") =!= col("back")).count() == 0)
  }

  test("property: proximity matches grow monotonically with slop; slop-0 ⊆ phrase-adjacent") {
    // random token sequences over a small vocab so gaps of all sizes occur
    val vocab = Vector("red", "blue", "green", "spark", "batch", "row", "col")
    val docGen = Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" "))
    val docs = Iterator.continually(docGen.sample).flatten.take(120)
      .zipWithIndex.map { case (t, i) => (i.toString, t) }.toSeq
      .toDF("doc_id", "text")
    def ids(slop: Int): Set[String] =
      Search.search(docs, s"""text:"spark batch"~$slop""",
        IndexConfig(maxResults = 1000), Seq("doc_id"))
        .select("doc_id").as[String].collect().toSet
    val m = (0 to 4).map(ids)
    // monotone: allowing more interlopers never loses a match
    m.sliding(2).foreach { case Seq(a, b) => assert(a.subsetOf(b), (a, b).toString) }
    // slop 4 still requires order: a doc with only "batch ... spark" never matches
    val reversedOnly = docs.where(
      !lower(col("text")).rlike("\\bspark(?:\\s+\\S+){0,4}\\s+batch\\b") &&
      lower(col("text")).rlike("\\bbatch\\b") && lower(col("text")).rlike("\\bspark\\b"))
      .select("doc_id").as[String].collect().toSet
    assert(m(4).intersect(reversedOnly).isEmpty)
  }

  test("property: PII redaction is idempotent and leaves no detectable PII") {
    val local = Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString)
    val rowGen = for {
      l <- local; d <- local
      ph1 <- Gen.choose(10, 99); ph2 <- Gen.choose(0, 999)
      ph3 <- Gen.choose(0, 999); ph4 <- Gen.choose(0, 9999)
      ip <- Gen.listOfN(4, Gen.choose(0, 255))
      noise <- Gen.listOfN(3, Gen.oneOf("lorem", "ipsum", "dolor"))
    } yield s"${noise.head} $l@$d.com ${noise(1)} $ph1-${"%03d".format(ph2)}-${"%03d".format(ph3)}-${"%04d".format(ph4)} ${noise(2)} ${ip.mkString(".")}"
    val rows = Iterator.continually(rowGen.sample).flatten.take(150)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("id", "text")
    val once = graft.pipeline.Curate.piiReport(rows, "text")
      .select(col("id"), col("redacted").as("text"))
    // every generated row had all three classes → all redacted
    val re = graft.pipeline.Curate.piiReport(once, "text")
    assert(re.where(col("n_emails") > 0 || col("n_phones") > 0 || col("n_ips") > 0)
      .count() == 0)
    // idempotent: redacting the redacted text changes nothing
    assert(re.where(col("redacted") =!= col("text")).count() == 0)
  }

  test("property: index-served search ≡ scan search on random corpora and queries") {
    // random docs over a small vocabulary (high collision rate stresses the
    // cover), with punctuation, nulls, and case; random queries from the
    // full grammar incl. uncoverable leaves (exercising the fallback)
    val vocab = Vector("spark", "batch", "fast", "a-b", "Dup", "x9_y", "slow.end", "mixer")
    val textGen = Gen.frequency(
      (9, Gen.listOfN(6, Gen.oneOf(vocab)).map(_.mkString(" "))),
      (1, Gen.const(null: String)))
    val langGen = Gen.oneOf("en", "de", "fr")
    val queryGen: Gen[String] = {
      val leaf = Gen.oneOf(
        Gen.oneOf(vocab.map(v => s"text:${v.toLowerCase.replace("-", "\\-").replace(".", "\\.")}")),
        Gen.const("text:sp*"), Gen.const("text:du?"), Gen.const("text:\"spark batch\""),
        Gen.const("lang:de"), Gen.const("text:mix~1"), Gen.const("text:/sl.w/"),
        Gen.const("text:\"fast spark\"~2"))
      def tree(depth: Int): Gen[String] =
        if (depth == 0) leaf
        else Gen.frequency(
          (3, leaf),
          (2, for { l <- tree(depth - 1); r <- tree(depth - 1) } yield s"($l AND $r)"),
          (2, for { l <- tree(depth - 1); r <- tree(depth - 1) } yield s"($l OR $r)"),
          (1, tree(depth - 1).map(q => s"NOT $q")))
      tree(2)
    }
    val docs = Iterator.continually(Gen.zip(textGen, langGen).sample).flatten
      .take(60).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }.toSeq
      .toDF("doc_id", "text", "lang")
    // positional store: schema superset of the plain one, additionally
    // exercising the in-order phrase-candidate tightening on phrase leaves
    val postings = TextIndex.buildPostingsPositional(docs, "doc_id", Seq("text", "lang"), 8)
    val queries = Iterator.continually(queryGen.sample).flatten.take(40).toSeq
    for (q <- queries; pure <- Seq(false, true)) {
      val scan = Search.search(docs, q, IndexConfig(), Seq("doc_id"))
        .collect().map(_.toSeq).toSet
      val idx = TextIndex.searchIndexed(docs, postings, q, IndexConfig(),
          Seq("doc_id"), Set("text", "lang"), 8, pureIndex = pure)
        .collect().map(_.toSeq).toSet
      assert(idx == scan, s"index/scan divergence (pure=$pure) for: $q")
    }
  }

  test("property: packing shard ids are non-decreasing in id order within a group") {
    val tokGen = Gen.choose(1, 30)
    val rows = Iterator.continually(tokGen.sample).flatten.take(400)
      .zipWithIndex.map { case (n, i) => (i.toLong, s"g${i % 5}", ("w " * n).trim) }.toSeq
      .toDF("id", "grp", "text")
    val packed = graft.pipeline.Curate.packSequences(rows, "id", "grp", "text", 50L)
      .orderBy("grp", "id")
      .select("grp", "id", "shard").as[(String, Long, Long)].collect()
    packed.groupBy(_._1).foreach { case (_, docs) =>
      docs.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a <= b)
        case _ =>
      }
    }
  }

  test("property: scriptedUpsert equals a driver-side sequential replay " +
       "of the bulk, for random duplicate-key batches") {
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val keys = Seq("a", "b", "c", "d")
      val store = keys.take(2 + trial % 3).zipWithIndex
        .map { case (k, i) => (k, 10L * (i + 1)) }
      val batch = (0 until 8 + trial).map { i =>
        (keys(rnd.nextInt(keys.length)), i.toLong, rnd.nextInt(20).toLong - 5L)
      }
      // reference semantics: apply ops per key in seq order, seed = stored
      // value or the upsert default 0, script: ctx.cnt * 1 + params.inc →
      // use a NON-commutative script so order actually matters
      def script(ctx: Long, inc: Long): Long = ctx * 2 - inc
      val expected = {
        val m = scala.collection.mutable.Map(store.map { case (k, v) => k -> v }: _*)
        val touched = scala.collection.mutable.Map[String, Long]()
        batch.sortBy(op => (op._1, op._2)).foreach { case (k, _, inc) =>
          val cur = touched.getOrElse(k, m.getOrElse(k, 0L))
          touched(k) = script(cur, inc)
        }
        (m ++ touched).toMap
      }
      val out = Indexer.scriptedUpsert(
          store.toDF("doc_id", "cnt"),
          batch.toDF("doc_id", "seq", "inc"),
          "doc_id",
          scripts = Map("cnt" -> "ctx.cnt * 2 - params.inc"),
          upsertDefaults = Map("cnt" -> 0L),
          orderCols = Seq("seq"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == expected, s"trial $trial: got $out, want $expected")
    }
  }
}
