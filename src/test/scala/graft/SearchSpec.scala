package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Read-path behavior: compile→filter→score→top-k→row-load→metadata. */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private def docs = Seq(
    ("1", "spark batch engine", "en"),
    ("2", "streaming window state", "en"),
    ("3", "spark streaming joins", "de"),
    ("4", "batch sort merge", "de")).toDF("doc_id", "text", "lang")

  test("highlight wraps exactly the matched spans, original case kept") {
    val caseDocs = Seq(("1", "Spark makes spark-streaming fast", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Search.highlight(caseDocs, "text:spark OR text:stream*", IndexConfig(),
      hlFields = Seq("text", "lang")).collect().head
    val hl = out.getAs[String]("_highlight_text")
    // both case variants of 'spark' marked; 'stream*' marks the prefix run;
    // lang has no positive leaf -> null column
    assert(hl == "<em>Spark</em> makes <em>spark</em>-<em>streaming</em> fast", hl)
    assert(out.getAs[String]("_highlight_lang") == null)
  }

  test("highlight folds case like the predicate: Unicode uppercase hits marked") {
    // the filter matches against lower(field) (full Unicode folding); an
    // ASCII-only (?i) marker pass returned this hit with no highlight
    val uDocs = Seq(("1", "SPÄRK engine", "de")).toDF("doc_id", "text", "lang")
    val out = Search.highlight(uDocs, "text:spärk", IndexConfig(),
      hlFields = Seq("text")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("_highlight_text") == "<em>SPÄRK</em> engine")
  }

  test("match analyzes multi-word text: OR of terms by default, operator=and narrows") {
    // ES match semantics — NOT a contiguous phrase (that's match_phrase):
    // docs with either word match, each term its own scoring clause
    val or = Search.search(docs, """{"query":{"match":{"text":"spark batch"}}}""",
      IndexConfig()).select("doc_id", "_score")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(or == Seq(("1", 2), ("3", 1), ("4", 1)))
    val and = Search.search(docs,
      """{"query":{"match":{"text":{"query":"spark batch","operator":"and"}}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(and == Seq("1"))
    // junk operator is loud; match_phrase keeps contiguous semantics
    assert(QueryCompiler.validate(
      """{"query":{"match":{"text":{"query":"a b","operator":"xor"}}}}""").isLeft)
    val phrase = Search.search(docs,
      """{"query":{"match_phrase":{"text":"spark batch"}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(phrase == Seq("1"))
  }

  test("highlight works for ES-DSL bodies: match/phrase/bool/fuzzy/query_string") {
    val hl = Search.highlight(docs,
      """{"query":{"bool":{"must":[{"match":{"text":"spark"}}],
           "should":[{"match_phrase":{"text":"batch engine"}}],
           "must_not":[{"term":{"lang":"fr"}}]}}}""",
      IndexConfig(), hlFields = Seq("text", "lang"))
      .orderBy("doc_id").collect()
    assert(hl.head.getAs[String]("_highlight_text") ==
      "<em>spark</em> <em>batch engine</em>")
    assert(hl.head.getAs[String]("_highlight_lang") == null) // must_not leaf
    // DSL fuzzy-only field marks via the edit-distance matcher
    val fz = Search.highlight(Seq(("1", "the sprak engine", "en"))
        .toDF("doc_id", "text", "lang"),
      """{"query":{"fuzzy":{"text":{"value":"spark","fuzziness":1}}}}""",
      IndexConfig(), hlFields = Seq("text")).collect()
      .head.getAs[String]("_highlight_text")
    assert(fz == "the <em>sprak</em> engine", fz)
    // query_string inside DSL delegates to the Lucene walkers
    val qs = Search.highlight(docs,
      """{"query":{"query_string":{"query":"text:stream* OR text:sort"}}}""",
      IndexConfig(), hlFields = Seq("text")).orderBy("doc_id").collect()
      .map(_.getAs[String]("_highlight_text")).toSeq
    assert(qs == Seq("<em>streaming</em> window state",
      "spark <em>streaming</em> joins", "batch <em>sort</em> merge"))
  }

  test("minimum_should_match percentage and negative forms") {
    // 3 should clauses over docs: spark(1,3) batch(1,4) state(2)
    def hits(msm: String) = Search.search(docs,
      s"""{"query":{"bool":{"should":[{"match":{"text":"spark"}},
           {"match":{"text":"batch"}},{"match":{"text":"state"}}],
           "minimum_should_match":$msm}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(hits("2") == Seq("1"))                      // only doc 1 matches ≥2
    assert(hits("\"67%\"") == Seq("1"))                // floor(67%·3) = 2
    assert(hits("\"66%\"") == Seq("1", "2", "3", "4")) // floor(66%·3) = 1
    assert(hits("-2") == hits("1"))                    // 3-2 = 1 required
    assert(hits("\"-34%\"") == hits("2"))              // 3 - floor(34%·3) = 2
    assert(QueryCompiler.validate(
      """{"query":{"bool":{"should":[{"match":{"text":"x"}}],
          "minimum_should_match":"3<90%"}}}""").isLeft)
  }

  test("collapse keeps one top hit per field value") {
    // per lang: the top (score desc, doc_id asc) hit — doc 1 scores 2 for
    // en (spark+batch), doc 3 and 4 score 1 for de -> doc 3 by id tiebreak
    val out = Search.search(docs,
      """{"query":{"query_string":{"query":"text:spark text:batch",
           "default_operator":"OR"}},"collapse":{"field":"lang"}}""",
      IndexConfig()).select("doc_id", "lang")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("1", "en"), ("3", "de")))
    // custom body sort takes the window path; same one-per-key contract
    val sorted = Search.search(docs,
      """{"query":{"match_all":{}},"collapse":{"field":"lang"},
          "sort":[{"doc_id":"desc"}]}""",
      IndexConfig()).select("doc_id", "lang")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sorted == Seq(("4", "de"), ("2", "en")))
    // malformed collapse is loud
    assert(QueryCompiler.validate(
      """{"query":{"match_all":{}},"collapse":{}}""").isLeft)
    assert(QueryCompiler.validate(
      """{"query":{"match_all":{}},"collapse":{"field":"lang"},
          "search_after":[1,"0"]}""").isLeft)
  }

  test("multi_match analyzes multi-word text per field; operator=and per field") {
    // doc 1 "spark batch engine": text has both; doc 3 text has spark only
    val or = Search.search(docs,
      """{"query":{"multi_match":{"query":"spark batch","fields":["text"]}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(or == Seq("1", "3", "4"))
    val and = Search.search(docs,
      """{"query":{"multi_match":{"query":"spark batch","fields":["text"],
           "operator":"and"}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(and == Seq("1"))
  }

  test("highlight marks fuzzy-matched tokens via the predicate's matcher") {
    val fz = Seq(("1", "the sprak engine sparks", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Search.highlight(fz, "text:spark~1", IndexConfig(),
      hlFields = Seq("text")).collect().head.getAs[String]("_highlight_text")
    // 'sprak' (transposition) and 'sparks' (one insertion) both match;
    // 'engine'/'the' don't — exactly the predicate's accepted token set
    assert(out == "the <em>sprak</em> engine <em>sparks</em>", out)
    // mixed fuzzy + term leaves on one field: the regex pass still marks
    // the term; the fuzzy token stays unmarked (declared)
    val mixed = Search.highlight(fz, "text:engine OR text:sprak~1",
      IndexConfig(), hlFields = Seq("text"))
      .collect().head.getAs[String]("_highlight_text")
    assert(mixed == "the sprak <em>engine</em> sparks", mixed)
  }

  test("fuzzy prefix_length pins the leading chars; AUTO bands by term length") {
    val fz = Seq(
      ("1", "spark engine", "en"),   // exact
      ("2", "spork engine", "en"),   // 1 sub beyond 'sp' prefix
      ("3", "psark engine", "en"),   // transposition INSIDE the prefix -> out
      ("4", "sprak engine", "en"),   // transposition beyond the prefix -> in
      ("5", "zpark engine", "en")    // prefix char edited -> out
    ).toDF("doc_id", "text", "lang")
    val hits = Search.search(fz,
      """{"query":{"fuzzy":{"text":{"value":"spark","fuzziness":"AUTO",
           "prefix_length":2}}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(hits == Seq("1", "2", "4"))
    // same query without the prefix pin admits the prefix-edited tokens
    val loose = Search.search(fz,
      """{"query":{"fuzzy":{"text":{"value":"spark","fuzziness":"AUTO"}}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(loose == Seq("1", "2", "3", "4", "5"))
  }

  test("default_operator=OR widens bare adjacency end to end") {
    // AND default (ours): both words required -> only doc 1
    val qAnd = """{"query":{"query_string":{"query":"text:spark text:batch"}}}"""
    assert(Search.search(docs, qAnd, IndexConfig()).select("doc_id")
      .collect().map(_.getString(0)).toSeq == Seq("1"))
    // same query, OR via the DSL field: docs with either word, both-words
    // doc first (2 leaves matched)
    val qOr = """{"query":{"query_string":{"query":"text:spark text:batch",
                  "default_operator":"OR"}}}"""
    assert(Search.search(docs, qOr, IndexConfig()).select("doc_id")
      .collect().map(_.getString(0)).toSeq == Seq("1", "3", "4"))
    // store-level config flips the Lucene-lite default; per-query option wins
    val cfgOr = IndexConfig(defaultOperator = "OR")
    assert(Search.search(docs, "text:spark text:batch", cfgOr).select("doc_id")
      .collect().map(_.getString(0)).toSeq == Seq("1", "3", "4"))
    assert(Search.search(docs, "#options:default-operator=and#text:spark text:batch",
      cfgOr).select("doc_id").collect().map(_.getString(0)).toSeq == Seq("1"))
    // occur flags under OR: exclusion stays conjunctive
    assert(Search.search(docs, "text:spark -text:joins", cfgOr).select("doc_id")
      .collect().map(_.getString(0)).toSeq == Seq("1"))
  }

  test("from window guard is overflow-proof") {
    // from close to Int.MaxValue: an Int sum wrapped negative and slipped
    // past the max_result_window require, returning an empty page
    val e = intercept[IllegalArgumentException](Search.search(docs,
      """{"query":{"match_all":{}},"from":2147483600,"size":5}""",
      IndexConfig()).collect())
    assert(e.getMessage.contains("max-results"))
  }

  test("highlight: phrases mark the whole span, NOT leaves mark nothing") {
    val out = Search.highlight(docs, "text:\"spark batch\" AND NOT text:engine",
      IndexConfig(), hlFields = Seq("text"))
      .select("doc_id", "_highlight_text").collect()
    assert(out.isEmpty) // doc 1 has 'engine': NOT filters it
    val out2 = Search.highlight(docs, "text:\"spark batch\"", IndexConfig(),
      hlFields = Seq("text")).collect().head.getAs[String]("_highlight_text")
    assert(out2 == "<em>spark batch</em> engine", out2)
  }

  test("from offset paging: pages tile the ranked list; window guard is loud") {
    def page(from: Int) = Search.search(docs,
      s"""{"query":{"match_all":{}},"from":$from,"size":2,
           "sort":[{"doc_id":"asc"}]}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(page(0) == Seq("1", "2") && page(2) == Seq("3", "4") && page(4) == Nil)
    val e = intercept[IllegalArgumentException](Search.search(docs,
      """{"query":{"match_all":{}},"from":9999,"size":5}""",
      IndexConfig()).collect())
    assert(e.getMessage.contains("max-results"))
    val e2 = intercept[IllegalArgumentException](Search.search(docs,
      """{"query":{"match_all":{}},"from":2,"search_after":[1,"0"]}""",
      IndexConfig()))
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("_source filter shapes columns; false keeps pk + score only") {
    val cols = Search.search(docs,
      """{"query":{"match":{"text":"spark"}},"_source":["lang"]}""",
      IndexConfig()).columns.toSeq
    assert(cols == Seq("doc_id", "lang", "_score"))
    val pkOnly = Search.search(docs,
      """{"query":{"match":{"text":"spark"}},"_source":false}""",
      IndexConfig()).columns.toSeq
    assert(pkOnly == Seq("doc_id", "_score"))
  }

  test("DSL sort: field order replaces relevance, _score sortable, id tiebreak") {
    val out = Search.search(docs,
      """{"query":{"match_all":{}},"sort":[{"lang":"desc"},{"doc_id":{"order":"asc"}}]}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0))
    assert(out.toSeq == Seq("1", "2", "3", "4")) // 'en' > 'de' desc, then id asc
    val byScore = Search.search(docs,
      """{"query":{"bool":{"should":[{"match":{"text":"spark"}},
           {"match":{"text":"batch"}}]}},"sort":[{"_score":"asc"}]}""",
      IndexConfig()).select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(byScore.toSeq == Seq(("3", 1), ("4", 1), ("1", 2))) // asc, id tiebreak
    val e = intercept[IllegalArgumentException](Search.search(docs,
      """{"query":{"match_all":{}},"sort":[{"lang":"asc"}],
          "search_after":[1,"0"]}""", IndexConfig()))
    assert(e.getMessage.contains("relevance order"))
  }

  test("search_after pages partition the ordered result set, no overlap") {
    def page(after: Option[(Int, String)]) = {
      val afterClause = after.map { case (s, id) =>
        s""","search_after":[$s,"$id"]""" }.getOrElse("")
      Search.search(docs,
        s"""{"query":{"bool":{"should":[{"match":{"text":"spark"}},
             {"match":{"text":"batch"}},{"match":{"text":"streaming"}}]}},
             "size":2$afterClause}""", IndexConfig())
        .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    }
    val p1 = page(None)
    val p2 = page(Some((p1.last._2, p1.last._1)))
    val p3 = page(Some((p2.last._2, p2.last._1)))
    assert((p1 ++ p2).toSeq == Seq(("1", 2), ("3", 2), ("2", 1), ("4", 1)))
    assert(p3.isEmpty) // past the end: empty page, not an error
    // a mid-tie resume must not skip the tied sibling
    val afterFirst = page(Some((2, "1")))
    assert(afterFirst.head == ("3", 2))
  }

  test("term scoring counts matched positive leaves, ordered desc") {
    val out = Search.search(docs, "text:spark OR text:batch", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.head._2 >= out.last._2)
    assert(out.toMap == Map("1" -> 2, "3" -> 1, "4" -> 1))
  }

  test("NOT clauses filter but never score") {
    val out = Search.search(docs, "text:spark AND NOT lang:de", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq == Seq(("1", 1)))
  }

  test("wildcard matches token prefixes only") {
    val out = Search.search(docs, "text:stream*", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("2", "3"))
  }

  test("phrase query matches contiguous tokens only") {
    val out = Search.search(docs, "text:\"spark batch\"", IndexConfig())
      .select("doc_id").collect().map(_.getString(0))
    assert(out.toSeq == Seq("1")) // doc 4 has batch, doc 1 has the phrase
  }

  test("proximity: ordered, per-gap slop; slop 0 ≈ phrase; DSL slop agrees") {
    val d = Seq(
      ("1", "spark batch"),                    // adjacent
      ("2", "spark fast batch"),               // 1 interloper
      ("3", "spark very fast wide batch"),     // 3 interlopers
      ("4", "batch spark"),                    // wrong order — never matches
      ("5", "spark alone here")).toDF("doc_id", "text")
    def ids(q: String) =
      Search.search(d, q, IndexConfig()).select("doc_id").as[String].collect().sorted.toSeq
    assert(ids("""text:"spark batch"~0""") == Seq("1"))
    assert(ids("""text:"spark batch"~1""") == Seq("1", "2"))
    assert(ids("""text:"spark batch"~3""") == Seq("1", "2", "3"))
    assert(ids("""{"query":{"match_phrase":{"text":{"query":"spark batch","slop":1}}}}""")
      == Seq("1", "2"))
    // three-token phrase: slop bounds each gap independently
    val d3 = Seq(("a", "one x two y three"), ("b", "one two x y z three"))
      .toDF("doc_id", "text")
    val got = Search.search(d3, """text:"one two three"~1""", IndexConfig())
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(got == Seq("a")) // b's second gap has 3 interlopers > slop 1
  }

  test("dis_max scores the best sub-query, not the sum; guards hold") {
    val d = Seq(
      ("1", "spark batch engine"),  // both: max(1, 3) = 3, not 4
      ("2", "spark only here"),     // spark: 1
      ("3", "batch only here"),     // batch: 3
      ("4", "neither word")).toDF("doc_id", "text")
    val q = """{"query":{"dis_max":{"queries":[
         {"match":{"text":"spark"}},
         {"match":{"text":{"query":"batch","boost":3}}}]}}}"""
    val out = Search.search(d, q, IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(out == Map("1" -> 3, "2" -> 1, "3" -> 3))
    // explicit tie_breaker 0 accepted; fractional rejected; empty rejected
    assert(QueryCompiler.validate(
      """{"query":{"dis_max":{"queries":[{"match":{"text":"x"}}],"tie_breaker":0}}}""").isRight)
    assert(QueryCompiler.validate(
      """{"query":{"dis_max":{"queries":[{"match":{"text":"x"}}],"tie_breaker":0.3}}}""").isLeft)
    assert(QueryCompiler.validate("""{"query":{"dis_max":{"queries":[]}}}""").isLeft)
    assert(QueryCompiler.validate("""{"query":{"dis_max":{}}}""").isLeft)
  }

  test("boosting demotes negative matches to 0 without filtering them out") {
    val d = Seq(
      ("1", "spark batch engine", "en"),  // positive 1, negative no → 1
      ("2", "spark legacy stack", "de"),  // positive 1, negative yes → 0, still a hit
      ("3", "nothing here", "en")).toDF("doc_id", "text", "lang")
    val q = """{"query":{"boosting":{
         "positive":{"match":{"text":"spark"}},
         "negative":{"term":{"lang":"de"}},
         "negative_boost":0}}}"""
    val out = Search.search(d, q, IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(out == Map("1" -> 1, "2" -> 0))
    // fractional negative_boost rejected (integer-scoring subset); missing
    // clauses rejected
    assert(QueryCompiler.validate(
      """{"query":{"boosting":{"positive":{"match":{"text":"x"}},
           "negative":{"match":{"text":"y"}},"negative_boost":0.5}}}""").isLeft)
    assert(QueryCompiler.validate(
      """{"query":{"boosting":{"positive":{"match":{"text":"x"}}}}}""").isLeft)
  }

  test("searchWithTotal carries took and the _shards segment analog (R10)") {
    val out = Search.searchWithTotal(docs,
      "#options:load-rows=false#text:spark", IndexConfig(),
      Seq("doc_id"), segmentCol = Some("lang"))
    assert(out.columns.toSeq == Seq("doc_id", "_score", "hit_count", "max_score",
      "took", "shards_total", "shards_successful"))
    val r = out.head
    assert(r.getAs[Long]("took") == 0L)             // deterministic placeholder
    assert(r.getAs[Long]("shards_total") == 2L)     // en + de segments
    assert(r.getAs[Long]("shards_successful") == 2L)
    // unsegmented store: single logical shard
    val one = Search.searchWithTotal(docs, "text:spark", IndexConfig()).head
    assert(one.getAs[Long]("shards_total") == 1L)
  }

  test("quoted colons and escaped specials match literally") {
    val d = Seq(
      ("1", "see a:b here"),
      ("2", "plain ab here"),
      ("3", "dash a-b token"),
      ("4", "cat star"),
      ("5", "val c*x end"),
      ("6", "tag src1x go"),
      ("7", "tag src1- go")).toDF("doc_id", "text")
    def hits(q: String): Seq[String] =
      Search.search(d, q, IndexConfig())
        .select("doc_id").collect().map(_.getString(0)).toSeq.sorted
    // a phrase with ':' inside a group binds to the group field as a value
    assert(hits("""text:("a:b" OR zz)""") == Seq("1"))
    // `a\-b` is the literal term a-b, not a prohibited operator or wildcard
    assert(hits("""text:(a\-b)""") == Seq("3"))
    // `c\*` is a literal asterisk: never wildcard-matches "cat"; the
    // word-boundary anchor still lets it match inside `c*x`
    assert(hits("""text:(c\*)""") == Seq("5"))
    // declared `?` edge semantics: matches a word char at the token edge
    // (`src1x`), not a non-word char (`src1-`) — the analyzer view
    assert(hits("text:src1?") == Seq("6"))
    // ES match-family text is LITERAL: a '*' inside a match/prefix query
    // never wildcards (only the `wildcard` operator interprets specials)
    assert(hits("""{"query":{"match":{"text":"c*x"}}}""") == Seq("5"))
    assert(hits("""{"query":{"match":{"text":"ca*"}}}""") == Seq())
    assert(hits("""{"query":{"wildcard":{"text":"ca*"}}}""") == Seq("4"))
    assert(hits("""{"query":{"prefix":{"text":"a-"}}}""") == Seq("3"))
  }

  test("load-rows=false returns PK-only projection") {
    val out = Search.search(docs, "#options:load-rows=false#text:spark", IndexConfig())
    assert(out.columns.toSeq == Seq("doc_id", "_score"))
  }

  test("load-source=true attaches the full document as _source JSON") {
    val out = Search.search(docs,
      "#options:load-source=true,load-rows=false#text:spark AND lang:en", IndexConfig())
    assert(out.columns.toSeq == Seq("doc_id", "_score", "_source"))
    val src = out.orderBy("doc_id").head.getString(2)
    assert(src == """{"doc_id":"1","text":"spark batch engine","lang":"en"}""")
    // without the option, no _source column materializes
    assert(!Search.search(docs, "text:spark", IndexConfig()).columns.contains("_source"))
  }

  test("max-results caps hits") {
    val out = Search.search(docs, "text:spark OR text:batch OR text:window",
      IndexConfig(maxResults = 2))
    assert(out.count() == 2)
  }

  test("DSL size caps below max-results") {
    val out = Search.search(docs, """{"query":{"match_all":{}},"size":3}""",
      IndexConfig(maxResults = 10))
    assert(out.count() == 3)
  }

  test("row-load join drops vanished rows and keeps score") {
    val base = Seq(("1", 10), ("3", 30)).toDF("doc_id", "payload") // doc 4 vanished
    val hits = Search.search(docs, "text:spark OR text:batch", IndexConfig())
    val loaded = Search.loadRows(hits.select("doc_id", "_score"), base, Seq("doc_id"))
    assert(loaded.select("doc_id").collect().map(_.getString(0)).sorted.toSeq == Seq("1", "3"))
    assert(loaded.columns.contains("_score") && loaded.columns.contains("payload"))
  }

  test("row-load carries all hit metadata; base wins colliding columns") {
    val base = Seq(("1", 10, "base-text")).toDF("doc_id", "payload", "text")
    val hits = Search.withMeta(Search.search(docs, "text:spark", IndexConfig()))
    val loaded = Search.loadRows(hits, base, Seq("doc_id"))
    // meta columns survive the join; the hit-side `text` (collides with
    // base) is dropped so the loaded row is the base's truth
    assert(loaded.columns.count(_ == "text") == 1)
    assert(Seq("hit_count", "max_score", "_score").forall(loaded.columns.contains))
    assert(loaded.head.getAs[String]("text") == "base-text")
  }

  test("typed alias search labels hits with their document type") {
    import spark.implicits._
    val a = Seq(("a1", "spark rocks")).toDF("doc_id", "text")
    val b = Seq(("b1", "spark too")).toDF("doc_id", "body")
    val out = Search.searchAliasTyped(Seq("ta" -> a, "tb" -> b),
        "text:spark OR body:spark", IndexConfig())
      .select("doc_id", "_type").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a1", "ta"), ("b1", "tb")))
  }

  test("negation matches rows where the field is absent (ES semantics)") {
    import spark.implicits._
    val d = Seq(("1", "alpha", "F"), ("2", "beta", null), ("3", "gamma", "O"))
      .toDF("doc_id", "text", "status")
    val lucene = Search.search(d, "NOT status:f", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(lucene.toSeq == Seq("2", "3")) // null-status row matches NOT
    val dsl = Search.search(d,
      """{"query":{"bool":{"must":[{"exists":{"field":"text"}}],
         "must_not":[{"term":{"status":"F"}}]}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(dsl.toSeq == Seq("2", "3"))
  }

  test("bool with only should + must_not still requires one should match") {
    // ES applies minimum_should_match=1 whenever should clauses exist and
    // no must/filter — must_not does not count as a positive clause
    val out = Search.search(docs,
      """{"query":{"bool":{"should":[{"term":{"lang":"en"}}],
         "must_not":[{"term":{"doc_id":"2"}}]}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("1")) // en docs minus doc 2; de docs must NOT match
    // with a must clause present, should becomes optional (scoring only)
    val opt = Search.search(docs,
      """{"query":{"bool":{"must":[{"term":{"lang":"de"}}],
         "should":[{"term":{"doc_id":"3"}}]}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(opt.toSeq == Seq("3", "4"))
  }

  test("fuzzy matches within edit distance; both grammars") {
    import spark.implicits._
    val d = Seq(("1", "apache spark engine"), ("2", "a sparkling drink"),
      ("3", "nothing here")).toDF("doc_id", "text")
    // sprk~1 → spark (1 edit); sparkling is too far
    val lucene = Search.search(d, "text:sprk~1", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(lucene.toSeq == Seq("1"))
    val dsl = Search.search(d,
      """{"query":{"fuzzy":{"text":{"value":"sprk","fuzziness":1}}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(dsl.toSeq == Seq("1"))
    // bare ~ and the DSL short string form use Lucene's default distance 2:
    // spk→spark is 2 edits, beyond ~1 but within ~
    val bare = Search.search(d, "text:spk~", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(bare.toSeq == Seq("1"))
    assert(Search.search(d, "text:spk~1", IndexConfig()).count() == 0)
    val dslShort = Search.search(d, """{"query":{"fuzzy":{"text":"spk"}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).sorted
    assert(dslShort.toSeq == Seq("1"))
    // transposition counts as ONE edit (Lucene Damerau default): sprak~1
    val transposed = Search.search(d, "text:sprak~1", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).sorted
    assert(transposed.toSeq == Seq("1"))
    // fuzzy + boost compose: matched fuzzy leaf scores its boost (both forms)
    val boosted = Search.search(d, "text:sprk~1^4", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(boosted.toSeq == Seq(("1", 4)))
    val dslBoost = Search.search(d,
      """{"query":{"fuzzy":{"text":{"value":"sprk","fuzziness":1,"boost":3}}}}""",
      IndexConfig()).select("doc_id", "_score")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(dslBoost.toSeq == Seq(("1", 3)))
    // escaped tilde is a literal term character
    val lit = Search.search(
      Seq(("9", "version a~2 here")).toDF("doc_id", "text"),
      "text:a\\~2", IndexConfig()).select("doc_id").collect().map(_.getString(0))
    assert(lit.toSeq == Seq("9"))
    // a quoted phrase with ~N is proximity (not a whole-string fuzzy);
    // fuzzy ranges are rejected, not misinterpreted; unknown DSL fuzzy
    // options are rejected; distance is capped at 2
    assert(QueryCompiler.validate("text:\"apache spark\"~2").isRight)
    assert(QueryCompiler.validate("x:[1 TO 5]~2").isLeft)
    // prefix_length is supported (r6); still-unknown keys stay loud
    assert(QueryCompiler.validate(
      """{"query":{"fuzzy":{"text":{"value":"x","prefix_length":1}}}}""").isRight)
    assert(QueryCompiler.validate(
      """{"query":{"fuzzy":{"text":{"value":"x","rewrite":"top_terms"}}}}""").isLeft)
    assert(QueryCompiler.validate("text:spark~5").isLeft)
  }

  test("DSL ids targets the caller's pk column, not a hardcoded doc_id") {
    import spark.implicits._
    val evs = Seq(("e1", "a"), ("e2", "b")).toDF("event_id", "v")
    val out = Search.search(evs, """{"query":{"ids":{"values":["e2"]}}}""",
      IndexConfig(), Seq("event_id"))
    assert(out.select("event_id").collect().map(_.getString(0)).toSeq == Seq("e2"))
  }

  test("boost weights the score, not the match") {
    val out = Search.search(docs, "text:spark^3 OR text:batch", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    // doc 1 has both (3+1), doc 3 spark only (3), doc 4 batch only (1)
    assert(out.toMap == Map("1" -> 4, "3" -> 3, "4" -> 1))
  }

  test("escaped caret is a literal term character, not a boost") {
    import spark.implicits._
    val d = Seq(("1", "energy is m c^2 they say"), ("2", "plain c 2 text"))
      .toDF("doc_id", "text")
    val out = Search.search(d, "text:c\\^2", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq == Seq(("1", 1))) // matches literal c^2 with boost 1
    // escaped caret composes with a real boost suffix: literal c^2, boost 5
    val boosted = Search.search(d, "text:c\\^2^5", IndexConfig())
      .select("doc_id", "_score").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(boosted.toSeq == Seq(("1", 5)))
  }

  test("searchWithTotal honors load-source like search does") {
    val out = Search.searchWithTotal(docs,
      "#options:load-source=true#text:spark", IndexConfig())
    assert(out.columns.contains("_source"))
    val pkOnly = Search.searchWithTotal(docs,
      "#options:load-source=true,load-rows=false#text:spark", IndexConfig())
    assert(pkOnly.columns.toSeq ==
      Seq("doc_id", "_score", "hit_count", "max_score",
        "took", "shards_total", "shards_successful", "_source"))
  }

  test("searchWithTotal hits equal search's for every body field; the " +
       "total counts scored matches before paging") {
    val d = docs.withColumn("n", col("doc_id").cast("long"))
    val any = """{"match":{"text":"spark batch streaming"}}"""
    val bodies = Seq(
      s"""{"query":$any,"from":1,"size":2}""",
      s"""{"query":$any,"sort":[{"lang":"desc"}]}""",
      s"""{"query":$any,"min_score":2}""",
      s"""{"query":$any,"size":2,"search_after":[2,"1"]}""",
      s"""{"query":$any,"collapse":{"field":"lang"}}""",
      s"""{"query":$any,"collapse":{"field":"lang","inner_hits":{"size":2}}}""",
      s"""{"query":$any,"_source":["lang"]}""",
      s"""{"query":$any,"script_fields":{"n2":{"script":"doc.n * 2"}}}""",
      s"""{"query":$any,"from":1,"size":10,"min_score":1,"_source":["text"],
          "script_fields":{"n2":{"script":"doc.n * 2"}}}""",
      s"""#options:load-rows=false,load-source=true#{"query":$any,"from":1,"size":10,
          "script_fields":{"n2":{"script":"doc.n * 2"}}}""")
    val envelope = Set("hit_count", "max_score", "took", "shards_total",
      "shards_successful")
    for (q <- bodies) {
      val hits = Search.search(d, q, IndexConfig())
      val total = Search.searchWithTotal(d, q, IndexConfig())
      assert(total.columns.filterNot(envelope).toSeq == hits.columns.toSeq, q)
      val rows = total.collect()
      assert(rows.nonEmpty, q)
      assert(rows.map(r => hits.columns.toSeq.map(c => r.get(r.fieldIndex(c)))).toSeq ==
        hits.collect().map(_.toSeq).toSeq, q)
      // hits.total / max_score: every match at or above min_score, before
      // from, search_after, collapse and the cap
      val cq = QueryCompiler.compile(QueryMeta.parse(q).query, schema = d.schema)
      val scored = d.where(cq.predicate).select(cq.score.cast("double").as("s"))
        .where(col("s") >= cq.minScore.getOrElse(Double.MinValue))
        .collect().map(_.getDouble(0))
      assert(rows.map(_.getAs[Long]("hit_count")).distinct.toSeq ==
        Seq(scored.length.toLong), q)
      assert(rows.map(r => r.get(r.fieldIndex("max_score")).toString.toDouble)
        .distinct.toSeq == Seq(scored.max), q)
    }
  }

  test("metadata enrichment attaches global hit stats to every row") {
    val hits = Search.search(docs, "text:spark OR text:batch", IndexConfig())
    val meta = Search.withMeta(hits).select("hit_count", "max_score").distinct().head
    assert(meta.getLong(0) == 3L)
    assert(meta.getInt(1) == 2)
  }

  test("searchWithTotal reports the pre-cap total (ES hits.total)") {
    val out = Search.searchWithTotal(docs, "text:spark OR text:batch",
      IndexConfig(maxResults = 2))
    assert(out.count() == 2) // capped rows
    assert(out.select("hit_count").distinct().head.getLong(0) == 3L) // true total
  }

  test("simple_query_string: left-assoc fold, negation, phrase slop, fields") {
    // `spark | batch -joins`: adjacency under default OR folds left —
    // ((spark OR batch) OR NOT joins)? No: `-` negates the NEXT CLAUSE and
    // combines with the pending adjacency op: (spark OR batch) OR' here
    // means... doc 3 has spark AND joins: (T|F) OR !T — matches via spark.
    // Use explicit AND to test exclusion:
    val q = """{"query":{"simple_query_string":{
      "query":"spark + -joins","fields":["text"]}}}"""
    val ids = Search.search(docs, q, IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1")) // doc 1: spark, no joins; doc 3 excluded
    // phrase with slop: "spark joins"~1 spans the interloper in doc 3
    val slop = Search.search(docs, """{"query":{"simple_query_string":{
      "query":"\"spark joins\"~1","fields":["text"]}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(slop == Seq("3"))
    // prefix + field boost: stream* over text and lang^3 — doc 2,3 match
    // text; nobody's lang starts with stream; scores stay per-field
    val pfx = Search.search(docs, """{"query":{"simple_query_string":{
      "query":"stream*","fields":["text","lang^3"]}}}""", IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(pfx == Seq(("2", 1), ("3", 1)))
    // explicit default_operator=and narrows adjacency
    val and = Search.search(docs, """{"query":{"simple_query_string":{
      "query":"spark batch","fields":["text"],"default_operator":"and"}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(and == Seq("1"))
    // left-associative equal precedence: `a + b | c` = (a AND b) OR c
    val assoc = Search.search(docs, """{"query":{"simple_query_string":{
      "query":"spark + window | sort","fields":["text"]}}}""",
      IndexConfig()).select("doc_id").collect().map(_.getString(0)).toSeq
    assert(assoc == Seq("4")) // no doc has spark AND window; doc 4 has sort
  }

  test("match_bool_prefix: terms OR, last term is a prefix, operator narrows") {
    // docs: 1 "spark batch engine", 2 "streaming window state",
    //       3 "spark streaming joins", 4 "batch sort merge"
    val or = Search.search(docs,
      """{"query":{"match_bool_prefix":{"text":"batch str"}}}""", IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    // str* matches streaming (2, 3); batch matches 1, 4 — OR of all
    assert(or == Seq(("1", 1), ("2", 1), ("3", 1), ("4", 1)))
    val and = Search.search(docs,
      """{"query":{"match_bool_prefix":{"text":{"query":"spark str",
         "operator":"and"}}}}""", IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(and == Seq(("3", 2))) // only doc 3 has spark AND str*
    // a single term is just a prefix; unlike match_phrase_prefix it is
    // NOT positional: "engine spark" matches doc 1 (order-free)
    val free = Search.search(docs,
      """{"query":{"match_bool_prefix":{"text":{"query":"engine spark",
         "operator":"and"}}}}""", IndexConfig())
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(free == Seq("1"))
    // junk sub-keys are loud
    assert(QueryCompiler.validate(
      """{"query":{"match_bool_prefix":{"text":{"query":"x",
         "slop":1}}}}""").isLeft)
  }

  test("function_score: filtered weight, field_value_factor, modes, min_score") {
    val d = Seq(
      ("1", "spark batch engine", "en", 10L),
      ("2", "streaming window state", "en", 20L),
      ("3", "spark streaming joins", "de", 30L),
      ("4", "batch sort merge", "de", 40L)).toDF("doc_id", "text", "lang", "n")
    // weight 3 where lang=en, plus 2*n — summed, then multiplied into the
    // query score (spark matches docs 1 and 3)
    val q = """{"query":{"function_score":{
      "query":{"match":{"text":"spark"}},
      "functions":[{"filter":{"term":{"lang":"en"}},"weight":3},
                   {"field_value_factor":{"field":"n","factor":2}}],
      "score_mode":"sum","boost_mode":"multiply"}},"size":10}"""
    val out = Search.search(d, q, IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // doc 1: 1 * (3 + 20) = 23; doc 3: 1 * (0 + 60) = 60
    assert(out == Seq(("3", 60L), ("1", 23L)))
    // max_boost caps the function value; min_score filters; replace mode
    val q2 = """{"query":{"function_score":{
      "query":{"match":{"text":"spark"}},
      "functions":[{"field_value_factor":{"field":"n","factor":2}}],
      "boost_mode":"replace","max_boost":50,"min_score":50}},"size":10}"""
    val out2 = Search.search(d, q2, IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out2 == Seq(("3", 50L))) // doc 1: 20 < 50 dropped; doc 3: 60 capped to 50
    // no function matches -> query score passes through unchanged
    val q3 = """{"query":{"function_score":{
      "query":{"match":{"text":"spark"}},
      "functions":[{"filter":{"term":{"lang":"fr"}},"weight":9}]}},"size":10}"""
    val out3 = Search.search(d, q3, IndexConfig())
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out3 == Set(("1", 1L), ("3", 1L)))
    // fractional knobs are loud, not silently mis-scored
    assert(QueryCompiler.validate("""{"query":{"function_score":{
      "query":{"match_all":{}},"functions":[{"weight":2}],
      "score_mode":"avg"}}}""").isLeft)
    assert(QueryCompiler.validate("""{"query":{"function_score":{
      "query":{"match_all":{}},"functions":[
        {"field_value_factor":{"field":"n","modifier":"log1p"}}]}}}""").isLeft)
    assert(QueryCompiler.validate("""{"query":{"function_score":{
      "query":{"match_all":{}},"functions":[{"filter":{"term":{"a":"b"}}}]}}}""").isLeft)
    // short single-function form normalizes to a one-entry list
    assert(QueryCompiler.validate("""{"query":{"function_score":{
      "query":{"match_all":{}},"weight":2}}}""").isRight)
  }

  test("highlight covers simple_query_string and match_bool_prefix leaves") {
    val d = Seq(("1", "spark streaming engine", "en")).toDF("doc_id", "text", "lang")
    val h1 = Search.highlight(d, """{"query":{"simple_query_string":{
      "query":"spark str* -engine","fields":["text"],
      "default_operator":"or"}}}""", IndexConfig(), hlFields = Seq("text"))
      .collect().head.getAs[String]("_highlight_text")
    // positive atoms marked; the negated term is NOT (it can't have
    // matched a returned row's span contract)
    assert(h1 == "<em>spark</em> <em>streaming</em> engine", h1)
    val h2 = Search.highlight(d, """{"query":{"match_bool_prefix":{
      "text":"spark stre"}}}""", IndexConfig(), hlFields = Seq("text"))
      .collect().head.getAs[String]("_highlight_text")
    assert(h2 == "<em>spark</em> <em>streaming</em> engine", h2)
  }

  test("more_like_this: distinctive-term selection, msm filter, source excluded") {
    // corpus: 'spark' is common (low idf), 'tungsten' is the distinctive
    // repeated term of the like doc
    val d = Seq(
      ("1", "tungsten codegen tungsten pipeline spark spark"),
      ("2", "tungsten runtime with codegen tungsten"),
      ("3", "spark spark spark batch"),
      ("4", "unrelated text entirely"),
      ("5", "tungsten tungsten appears here codegen")).toDF("doc_id", "text")
    val out = Search.moreLikeThis(d, "text", likeIds = Seq("1"),
      minTermFreq = 2, minDocFreq = 2, maxQueryTerms = 2,
      minimumShouldMatchPct = 50)
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    // like doc 1: tf>=2 terms = {tungsten: 2, spark: 2}; df(tungsten)=3,
    // df(spark)=2 → scores 2/4=0.5, 2/3=0.667 → both picked (max 2).
    // doc 2,5 match tungsten only (score 1 >= msm 1); doc 3 matches spark;
    // doc 1 excluded; doc 4 no match
    assert(out == Seq(("2", 1), ("3", 1), ("5", 1)))
    // free-text mode excludes nothing and needs no ids
    val ft = Search.moreLikeThis(d, "text",
      likeText = Some("tungsten tungsten codegen codegen"),
      minTermFreq = 2, minDocFreq = 2, maxQueryTerms = 5,
      minimumShouldMatchPct = 100)
      .select("doc_id").collect().map(_.getString(0)).toSeq
    // both terms required (msm 100%): docs 1, 2, 5 have tungsten+codegen
    assert(ft == Seq("1", "2", "5"))
    // no candidate survives the thresholds -> empty result, schema intact
    val none = Search.moreLikeThis(d, "text", likeIds = Seq("4"),
      minTermFreq = 2, minDocFreq = 2)
    assert(none.columns.contains("_score") && none.count() == 0)
    // both/neither like sources are loud
    intercept[IllegalArgumentException](Search.moreLikeThis(d, "text"))
    intercept[IllegalArgumentException](Search.moreLikeThis(d, "text",
      likeIds = Seq("1"), likeText = Some("x")))
  }

  test("r12: more_like_this from the postings store — selected terms and " +
       "hit page equal the scan form; df probe is candidate-bounded") {
    val d = Seq(
      ("1", "tungsten codegen tungsten pipeline spark spark"),
      ("2", "tungsten runtime with codegen tungsten"),
      ("3", "spark spark spark batch"),
      ("4", "unrelated text entirely"),
      ("5", "tungsten tungsten appears here codegen")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mlt_store").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(d, "doc_id", Seq("text"), 8), s"$dir/postings")
    val postings = spark.read.option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings")
    def page(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "_score").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
    // tie-heavy parameters exercise the desc-score/asc-term ordering both
    // selection phases must agree on
    for ((mtf, mdf, mqt, msm) <- Seq((2, 2, 2, 50), (1, 1, 5, 30),
                                     (2, 3, 1, 100))) {
      val scan = page(Search.moreLikeThis(d, "text", likeIds = Seq("1"),
        minTermFreq = mtf, minDocFreq = mdf, maxQueryTerms = mqt,
        minimumShouldMatchPct = msm))
      val served = page(Search.moreLikeThisFromStore(d, postings, "text",
        likeIds = Seq("1"), minTermFreq = mtf, minDocFreq = mdf,
        maxQueryTerms = mqt, minimumShouldMatchPct = msm, nBuckets = 8))
      assert(served == scan, s"params=($mtf,$mdf,$mqt,$msm) " +
        s"served=$served scan=$scan")
    }
    // free-text likes serve identically too
    val ftScan = page(Search.moreLikeThis(d, "text",
      likeText = Some("tungsten tungsten codegen codegen"),
      minTermFreq = 2, minDocFreq = 2, minimumShouldMatchPct = 100))
    val ftServed = page(Search.moreLikeThisFromStore(d, postings, "text",
      likeText = Some("tungsten tungsten codegen codegen"),
      minTermFreq = 2, minDocFreq = 2, minimumShouldMatchPct = 100,
      nBuckets = 8))
    assert(ftServed == ftScan)
    // no surviving candidate: empty result, schema intact, store untouched
    val none = Search.moreLikeThisFromStore(d, postings, "text",
      likeIds = Seq("4"), minTermFreq = 2, minDocFreq = 2, nBuckets = 8)
    assert(none.columns.contains("_score") && none.count() == 0)
  }

  test("knn: exact cosine top-k, ES score mapping, filter during search") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0), "a"), (2L, Array(0.9, 0.1), "a"),
      (3L, Array(0.0, 1.0), "a"), (4L, Array(1.0, 0.01), "b"))
      .toDF("vec_id", "embedding", "grp")
    val out = Search.knnSearch(vecs,
      """{"knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 2,
          "filter": {"term": {"grp": "a"}}}}""")
      .select("vec_id", "_score").collect()
    // filter keeps {1,2,3}; nearest two are 1 (cos=1 → score 1.0) then 2
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getDouble(1) == 1.0)
    assert(out(1).getDouble(1) > 0.99 && out(1).getDouble(1) < 1.0)
    // size caps below k; num_candidates < k fails loud; hybrid body fails loud
    assert(Search.knnSearch(vecs,
      """{"size": 1, "knn": {"field": "embedding", "query_vector": [1.0, 0.0],
          "k": 3}}""").count() == 1)
    assert(intercept[IllegalArgumentException](Search.knnSearch(vecs,
      """{"knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 5,
          "num_candidates": 2}}""")).getMessage.contains("num_candidates"))
  }

  test("hybrid knn+query: scores add, knn contributes only inside its top-k") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0), "a"), (2L, Array(0.9, 0.1), "b"),
      (3L, Array(0.0, 1.0), "a"), (4L, Array(-1.0, 0.0), "b"))
      .toDF("vec_id", "embedding", "grp")
    val out = Search.knnSearch(vecs,
      """{"query": {"term": {"grp": "a"}},
          "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 2},
          "size": 4}""", idCol = "vec_id")
      .select("vec_id", "_score").collect()
    // knn top-2 = {1 (score 1.0), 2 (~0.997)}; query matches {1, 3} at 1.
    // combined: 1 → 2.0, 2 → ~0.997, 3 → 1.0 (knn beyond top-k adds 0),
    // 4 → excluded (matches neither)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L))
    assert(out(0).getDouble(1) == 2.0)
    assert(out(1).getDouble(1) == 1.0)
    assert(out(2).getDouble(1) > 0.99 && out(2).getDouble(1) < 1.0)
    // knn boost scales only the vector contribution
    val boosted = Search.knnSearch(vecs,
      """{"query": {"term": {"grp": "a"}},
          "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 1,
                  "boost": 3.0}, "size": 1}""", idCol = "vec_id")
      .select("_score").collect().head.getDouble(0)
    assert(boosted == 4.0) // 1 (query) + 3·1 (knn)
  }

  test("rescore: window re-rank with score modes; size>window fails loud") {
    def run(mode: String) = Search.rescore(docs,
      s"""{"query": {"match": {"text": "spark"}}, "size": 2,
           "rescore": {"window_size": 3, "query": {
             "rescore_query": {"match": {"text": "streaming"}},
             "query_weight": 1.0, "rescore_query_weight": 2.0,
             "score_mode": "$mode"}}}""")
      .select("doc_id", "_score").collect()
    // spark hits {1, 3}; doc 3 also matches streaming
    val total = run("total")
    assert(total.map(_.getString(0)).toSeq == Seq("3", "1"))
    assert(total(0).getDouble(1) == 3.0 && total(1).getDouble(1) == 1.0)
    val mult = run("multiply")
    assert(mult(0).getString(0) == "3" && mult(0).getDouble(1) == 2.0)
    assert(mult(1).getDouble(1) == 1.0) // non-match keeps weighted original
    val mx = run("max")
    assert(mx(0).getDouble(1) == 2.0)
    assert(intercept[IllegalArgumentException](Search.rescore(docs,
      """{"query": {"match_all": {}}, "size": 9,
          "rescore": {"window_size": 3,
            "query": {"rescore_query": {"match_all": {}}}}}"""))
      .getMessage.contains("window_size"))
    // paging and shaping ride the rescored window: spark|batch|streaming
    // scores {1: 2, 2: 1, 3: 2, 4: 1}; + 2·streaming → 3 (4), 2 (3), 1 (2),
    // 4 (1)
    val numbered = docs.withColumn("n", col("doc_id").cast("long"))
    def paged(extra: String) = Search.rescore(numbered,
      s"""{"query": {"match": {"text": "spark batch streaming"}}, $extra
           "rescore": {"window_size": 4, "query": {
             "rescore_query": {"match": {"text": "streaming"}},
             "rescore_query_weight": 2.0}}}""")
    def ids(extra: String) = paged(extra).select("doc_id").as[String].collect().toSeq
    assert(ids(""""size": 2,""") == Seq("3", "2"))
    assert(ids(""""from": 2, "size": 2,""") == Seq("1", "4"))
    val shaped = paged(""""from": 2, "size": 2, "_source": ["lang"],
        "script_fields": {"n10": {"script": "doc.n * 10"}},""")
    assert(shaped.columns.toSeq == Seq("doc_id", "lang", "_score", "n10"))
    assert(shaped.collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).toSeq ==
      Seq(("1", "en", 2.0, 10L), ("4", "de", 1.0, 40L)))
    // the window must hold the whole page; a body sort is rejected, not
    // silently replaced by the rescored order
    assert(intercept[IllegalArgumentException](paged(""""from": 3, "size": 2,"""))
      .getMessage.contains("window_size"))
    assert(intercept[IllegalArgumentException](
      paged(""""size": 2, "sort": [{"doc_id": "asc"}],"""))
      .getMessage.contains("sort"))
    // so are collapse (ES rejects it with rescore) and search_after (the
    // window pages by from/size)
    assert(intercept[IllegalArgumentException](
      paged(""""size": 2, "collapse": {"field": "lang"},"""))
      .getMessage.contains("collapse"))
    assert(intercept[IllegalArgumentException](
      paged(""""size": 2, "search_after": [2.0, "1"],"""))
      .getMessage.contains("search_after"))
  }

  test("terms lookup: array and scalar paths splice literal lists; missing doc matches nothing") {
    val roster = Seq(("g1", Seq("en", "de"), "en"), ("g2", Seq("fr"), "fr"))
      .toDF("doc_id", "langs", "one_lang")
    def resolved(id: String, path: String) = Search.resolveTermsLookup(
      s"""{"query": {"terms": {"lang": {"index": "r", "id": "$id", "path": "$path"}}}}""",
      Map("r" -> roster))
    val hits = Search.search(docs, resolved("g1", "langs"), IndexConfig(), Seq("doc_id"))
    assert(hits.count() == 4) // en + de docs
    val scalarHits = Search.search(docs, resolved("g2", "one_lang"), IndexConfig(), Seq("doc_id"))
    assert(scalarHits.count() == 0) // no fr docs in fixture
    assert(resolved("g2", "one_lang").contains("\"fr\"")) // scalar became a list
    val missing = Search.search(docs, resolved("nope", "langs"), IndexConfig(), Seq("doc_id"))
    assert(missing.count() == 0) // absent lookup doc → empty list
    assert(intercept[IllegalArgumentException](Search.resolveTermsLookup(
      """{"query": {"terms": {"lang": {"index": "nope", "id": "x", "path": "p"}}}}""",
      Map("r" -> roster))).getMessage.contains("unknown lookup index"))
  }

  test("term suggester: distance-then-frequency ranking from the corpus dictionary") {
    val corpus = Seq(
      ("1", "spark spark streaming"), ("2", "spark engine"), ("3", "sparse matrix"))
      .toDF("doc_id", "text")
    val out = Search.termSuggest(corpus, "text", "sparc", size = 3).collect()
    // distance 1 from 'sparc': spark (df 2), sparse (d2 — no: levenshtein
    // sparc→sparse = 2)... spark d=1 first; then d=2 candidates by freq
    assert(out.head.getString(1) == "spark")
    assert(out.head.getInt(2) == 1 && out.head.getLong(3) == 2L)
    assert(out.map(_.getInt(4)).toSeq == (1 to out.length).toSeq)
    // input token present in the corpus is never its own suggestion
    assert(Search.termSuggest(corpus, "text", "spark", size = 5)
      .collect().forall(_.getString(1) != "spark"))
  }

  test("completion suggester: prefix terms by doc frequency") {
    val corpus = Seq(
      ("1", "stream stream state"), ("2", "stream strong"), ("3", "strong state"))
      .toDF("doc_id", "text")
    val out = Search.completionSuggest(corpus, "text", "str", size = 2).collect()
    // doc freqs: stream 2, strong 2, state 2 — but 'sta' filtered; tie
    // breaks alphabetically: stream before strong
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("stream", 2L), ("strong", 2L)))
  }

  test("_geo_distance sort: nearest-first with id tiebreak") {
    val pts = Seq(
      ("a", 0.0, 10.0), ("b", 0.0, 1.0), ("c", 0.0, 5.0), ("d", 0.0, 1.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val out = Search.search(pts,
      """{"query": {"match_all": {}},
          "sort": [{"_geo_distance": {"loc": {"lat": 0, "lon": 0}}}],
          "size": 3}""", IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSeq
    // b and d tie at 1 degree -> id order; c next; a cut by size
    assert(out == Seq("b", "d", "c"))
    val far = Search.search(pts,
      """{"query": {"match_all": {}},
          "sort": [{"_geo_distance": {"loc": {"lat": 0, "lon": 0},
            "order": "desc", "unit": "km"}}], "size": 1}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(far == Seq("a"))
    assert(intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"match_all": {}},
          "sort": [{"_geo_distance": {"order": "asc"}}]}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("exactly one field"))
  }

  test("index patterns: wildcards, exclusions, _index tagging, fail-loud") {
    val a = Seq(("1", "x")).toDF("id", "v")
    val b = Seq(("2", "y")).toDF("id", "v")
    val c = Seq(("3", 7L)).toDF("id", "n") // different schema
    val cat = Map("logs_a" -> a, "logs_b" -> b, "metrics_c" -> c)
    val out = Search.indexPattern(cat, "logs_*")
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(out == Seq(("1", "logs_a"), ("2", "logs_b")))
    // exclusion wins; sparse columns null-fill across schemas
    assert(Search.indexPattern(cat, "*,-logs_b").count() == 2)
    val sparse = Search.indexPattern(cat, "logs_a,metrics_c").orderBy("id").collect()
    assert(sparse(0).isNullAt(3) && sparse(1).isNullAt(1)) // n null / v null
    assert(intercept[IllegalArgumentException](
      Search.indexPattern(cat, "nope_*")).getMessage.contains("matches nothing"))
  }

  test("retriever tree: standard + knn leaves under an rrf node") {
    val docs = Seq(
      ("1", "spark spark", Array(1.0, 0.0)),
      ("2", "spark", Array(0.9, 0.1)),
      ("3", "flink", Array(0.0, 1.0)))
      .toDF("doc_id", "text", "vec")
    val out = Search.retriever(docs,
      """{"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match": {"text": "spark"}}}},
            {"knn": {"field": "vec", "query_vector": [1, 0], "k": 2,
              "num_candidates": 3}}],
          "rank_window_size": 10, "rank_constant": 60}}, "size": 3}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id", "_rrf_matched").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    // docs 1, 2 appear in both rankings; doc 3 in neither list's top
    assert(out.map(_._1).toSet == Set("1", "2"))
    assert(out.forall(_._2 == 2))
    // a single leaf works without fusion
    val leaf = Search.retriever(docs,
      """{"retriever": {"standard": {"query": {"match": {"text": "flink"}}}},
          "size": 5}""", IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(leaf == Seq("3"))
    assert(intercept[IllegalArgumentException](Search.retriever(docs,
      """{"retriever": {"linear": {}}}""", IndexConfig(), Seq("doc_id")))
      .getMessage.contains("unsupported retriever type"))
    // the fused list ranks under the caller's max-results cap, like its
    // legs: 3 docs fuse, a cap of 2 keeps 2 whatever the body's size
    val capped = IndexConfig(maxResults = 2)
    val fused = Search.retriever(docs,
      """{"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match": {"text": "spark"}}}},
            {"standard": {"query": {"match": {"text": "flink"}}}}],
          "rank_window_size": 2}}, "size": 3}""", capped, Seq("doc_id"))
    assert(fused.count() == 2)
    val legs = Seq("spark", "flink").map(t => Search.search(docs,
      s"""{"query": {"match": {"text": "$t"}}}""", IndexConfig(), Seq("doc_id")))
    assert(Search.rrf(legs, size = 3).count() == 3)
    assert(Search.rrf(legs, size = 3, cfg = capped).count() == 2)
  }

  test("sparse_vector: literal query vector dot doc weight maps") {
    val docs = Seq(
      ("1", Map("spark" -> 3.0, "sql" -> 1.0)),
      ("2", Map("flink" -> 2.0)),
      ("3", Map("spark" -> 1.0, "streaming" -> 4.0)))
      .toDF("doc_id", "weights")
    val out = Search.search(docs,
      """{"query": {"sparse_vector": {"field": "weights",
          "query_vector": {"spark": 2, "streaming": 1}}}}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id", "_score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // doc1: 2*3 = 6; doc3: 2*1 + 1*4 = 6 → id tiebreak; doc2 no overlap
    assert(out == Seq(("1", 6.0), ("3", 6.0)))
    assert(intercept[IllegalArgumentException](Search.search(docs,
      """{"query": {"sparse_vector": {"field": "weights",
          "query_vector": {}}}}""", IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("empty"))
  }

  test("min_score: score floor applies before paging") {
    val docs = Seq(
      ("1", "spark batch"), ("2", "spark only"), ("3", "batch only"),
      ("4", "neither")).toDF("doc_id", "text")
    val out = Search.search(docs,
      """{"query": {"match": {"text": "spark batch"}}, "min_score": 2}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(out == Seq("1")) // both terms required by the floor
    assert(intercept[IllegalArgumentException](Search.search(docs,
      """{"query": {"match_all": {}}, "min_score": "high"}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("must be a number"))
  }

  test("geo_polygon: even-odd ray-cast containment") {
    // unit square (0,0)-(10,10): in, out, and a concave L-shape check
    val pts = Seq(
      ("in", 5.0, 5.0), ("out", 15.0, 5.0), ("neg", -1.0, 5.0),
      ("notch", 8.0, 8.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val sq = Search.search(pts,
      """{"query": {"geo_polygon": {"loc": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 0, "lon": 10},
            {"lat": 10, "lon": 10}, {"lat": 10, "lon": 0}]}}},
          "size": 10}""", IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(sq == Set("in", "notch"))
    // concave L: square minus the (6..10, 6..10) corner — ray cast must
    // exclude the notch point a convex test would keep
    val ell = Search.search(pts,
      """{"query": {"geo_polygon": {"loc": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 0, "lon": 10},
            {"lat": 6, "lon": 10}, {"lat": 6, "lon": 6},
            {"lat": 10, "lon": 6}, {"lat": 10, "lon": 0}]}}},
          "size": 10}""", IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(ell == Set("in"))
    assert(intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"geo_polygon": {"loc": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 1, "lon": 1}]}}}}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("at least 3"))
  }

  test("geo_polygon: a rectangle's horizontal edges add no self-equal " +
       "predicate, and a ring of horizontal edges contains nothing") {
    val pts = Seq(
      ("in", 5.0, 5.0), ("out", 15.0, 5.0), ("neg", -1.0, 5.0),
      ("notch", 8.0, 8.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    def polygon(points: String) = Search.search(pts,
      s"""{"query": {"geo_polygon": {"loc": {"points": [$points]}}},
          "size": 10}""", IndexConfig(), Seq("doc_id"))
    def selfEqual(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.EqualTo
            if e.left.semanticEquals(e.right) => e
      }))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getString(0)).toSet
    // lat 0..6 × lon 0..10: two of its four edges are horizontal
    val rect = polygon("""{"lat": 0, "lon": 0}, {"lat": 0, "lon": 10},
      {"lat": 6, "lon": 10}, {"lat": 6, "lon": 0}""")
    assert(hits(rect) == Set("in"))
    assert(selfEqual(rect).isEmpty, selfEqual(rect).mkString("\n"))
    val flat = polygon("""{"lat": 5, "lon": 0}, {"lat": 5, "lon": 5},
      {"lat": 5, "lon": 10}""")
    assert(hits(flat).isEmpty)
    assert(selfEqual(flat).isEmpty, selfEqual(flat).mkString("\n"))
  }

  test("geo_shape: envelope, polygon with a hole, disjoint, gates") {
    val pts = Seq(
      ("in", 5.0, 5.0), ("hole", 5.0, 4.0), ("out", 15.0, 5.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    // envelope [[minLon, maxLat], [maxLon, minLat]] — inclusive box
    val env = Search.search(pts,
      """{"query": {"geo_shape": {"loc": {"shape": {"type": "envelope",
            "coordinates": [[0, 10], [10, 0]]}}}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(env == Set("in", "hole"))
    // polygon ring (closed, [lon, lat]) with a hole around (4..4.5, 4..6):
    // even-odd drops the point inside the hole
    val holed = Search.search(pts,
      """{"query": {"geo_shape": {"loc": {"shape": {"type": "polygon",
            "coordinates": [
              [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
              [[3.5, 3.5], [4.5, 3.5], [4.5, 6.5], [3.5, 6.5], [3.5, 3.5]]]},
            "relation": "intersects"}}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(holed == Set("in")) // (5,4) falls in the hole ring
    val disjoint = Search.search(pts,
      """{"query": {"geo_shape": {"loc": {"shape": {"type": "envelope",
            "coordinates": [[0, 10], [10, 0]]},
            "relation": "disjoint"}}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(disjoint == Set("out"))
    assert(intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"geo_shape": {"loc": {"shape": {"type": "polygon",
            "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10]]]}}}}}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("closed"))
    assert(intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"geo_shape": {"loc": {"shape": {"type": "circle",
            "coordinates": [0, 0]}}}}}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("unsupported"))
  }

  test("span_field_masking: re-homes a same-source clause into span_near") {
    val docs = Seq(
      ("1", "sort merge join fast", "sort merge join fast"),
      ("2", "merge of the join", "merge of the join"),
      ("3", "join then merge", "join then merge"))
      .toDF("doc_id", "text", "shadow")
    val out = Search.search(docs,
      """{"query": {"span_near": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_field_masking": {
              "query": {"span_term": {"shadow": "join"}},
              "field": "text"}}],
          "slop": 2, "in_order": true}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(out == Set("1", "2")) // doc 3 has the pair out of order
    // unmasked cross-field clauses still fail loud
    assert(intercept[IllegalArgumentException](Search.search(docs,
      """{"query": {"span_near": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_term": {"shadow": "join"}}],
          "slop": 2}}}""", IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("share one field"))
  }

  test("parent_id picks one parent's children; match_none matches nothing") {
    val fam = Seq(
      ("c1", "customer", null.asInstanceOf[String]),
      ("o1", "order", "c1"), ("o2", "order", "c1"), ("o3", "order", "c2"))
      .toDF("doc_id", "join_name", "join_parent")
    val kids = Search.search(fam,
      """{"query": {"parent_id": {"type": "order", "id": "c1"}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(kids == Set("o1", "o2"))
    assert(Search.search(fam, """{"query": {"match_none": {}}}""",
      IndexConfig(), Seq("doc_id")).count() == 0)
  }

  test("hasChildInnerHits: capped sorted child ids and totals per parent") {
    val fam = Seq(
      ("c1", "customer", null.asInstanceOf[String], 0.0),
      ("c2", "customer", null.asInstanceOf[String], 0.0),
      ("o1", "order", "c1", 10.0),
      ("o2", "order", "c1", 20.0),
      ("o3", "order", "c1", 30.0),
      ("o4", "order", "c2", 5.0))
      .toDF("doc_id", "join_name", "join_parent", "price")
    val out = Search.hasChildInnerHits(fam, "order",
        """{"query": {"range": {"price": {"gte": 10}}}}""", k = 2)
      .select("doc_id", "inner_hits", "inner_total")
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList,
        r.getLong(2))).toSet
    // c1: three matches, first two ids ride along; c2's only order is
    // under the floor so the parent drops entirely
    assert(out == Set(("c1", List("o1", "o2"), 3L)))
  }

  test("rule query: criteria-gated pinning and exclusion") {
    val docs = Seq(("1", "spark a"), ("2", "spark b"), ("3", "other"),
      ("4", "spark c")).toDF("doc_id", "text")
    val out = Search.search(docs,
      """{"query": {"rule": {
            "match_criteria": {"seg": "pro"},
            "ruleset": [
              {"criteria": {"seg": "pro"},
               "pinned_ids": ["3"], "excluded_ids": ["2"]},
              {"criteria": {"seg": "free"}, "pinned_ids": ["2"]}],
            "organic": {"match": {"text": "spark"}}}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select("doc_id", "_score")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pinned 3 tops; organic 1 and 4 follow; 2 excluded even though the
    // dormant free rule would pin it
    assert(out.map(_._1) == Seq("3", "1", "4"))
    assert(out.head._2 == 1000000L)
  }

  test("searchNamed: matched_queries membership, duplicate-name gate") {
    val docs = Seq(
      ("1", "spark rocks", 100L), ("2", "plain words", 500L),
      ("3", "spark again", 600L), ("4", "nothing here", 50L))
      .toDF("doc_id", "text", "n")
    val out = Search.searchNamed(docs,
      """{"query": {"bool": {"should": [
            {"match": {"text": {"query": "spark", "_name": "s"}}},
            {"range": {"n": {"gte": 400, "_name": "big"}}}],
          "minimum_should_match": 1}}, "size": 10}""",
      IndexConfig(), Seq("doc_id"))
      .select(col("doc_id"), col("matched_queries"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toMap
    assert(out == Map("1" -> List("s"), "2" -> List("big"),
      "3" -> List("s", "big")))
    assert(intercept[IllegalArgumentException](
      QueryCompiler.namedClauses(
        """{"query": {"bool": {"should": [
             {"term": {"a": {"value": "x", "_name": "n1"}}},
             {"term": {"b": {"value": "y", "_name": "n1"}}}]}}}"""))
      .getMessage.contains("duplicate _name"))
  }

  test("collapse inner_hits: top-k per group riding the collapsed page") {
    val docs = Seq(
      ("1", "a", "spark spark"), ("2", "a", "spark"), ("3", "a", "spark x"),
      ("4", "a", "spark y"), ("5", "b", "spark"), ("6", "b", "spark z"),
      ("7", "c", "nothing"))
      .toDF("doc_id", "lang", "text")
    val out = Search.search(docs,
      """{"query": {"match": {"text": "spark"}},
          "collapse": {"field": "lang", "inner_hits": {"size": 2}},
          "size": 2}""", IndexConfig(), Seq("doc_id"))
      .select("doc_id", "lang", "_inner_rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    // groups a and b make the page (c has no hit); 2 inner hits each,
    // ranked by (score desc, id): within a doc 1 ties doc 2 on score=1
    // leaf... all score 1 here so id order
    assert(out.toSet == Set(
      ("1", "a", 1), ("2", "a", 2), ("5", "b", 1), ("6", "b", 2)))
    // outer page = the _inner_rank=1 subset
    assert(out.count(_._3 == 1) == 2)
    // custom sort with inner_hits is the declared unsupported shape
    assert(intercept[IllegalArgumentException](Search.search(docs,
      """{"query": {"match_all": {}}, "sort": [{"doc_id": "asc"}],
          "collapse": {"field": "lang", "inner_hits": {"size": 2}}}""",
      IndexConfig(), Seq("doc_id")).collect())
      .getMessage.contains("custom 'sort'"))
  }

  test("has_child / has_parent: join-field semi-joins") {
    val fam = Seq(
      ("c1", "customer", null, 50.0),
      ("c2", "customer", null, -10.0),
      ("o1", "order", "c1", 100.0),
      ("o2", "order", "c1", 900.0),
      ("o3", "order", "c2", 100.0))
      .toDF("doc_id", "join_name", "join_parent", "price")
    // parents with at least one big-order child
    assert(Search.hasChild(fam, "order",
        """{"query": {"range": {"price": {"gte": 500}}}}""")
      .select("doc_id").collect().map(_.getString(0)).toSet == Set("c1"))
    // children whose parent has a negative balance (price doubles as the
    // parent's balance here)
    assert(Search.hasParent(fam, "customer",
        """{"query": {"range": {"price": {"lt": 0}}}}""")
      .select("doc_id").collect().map(_.getString(0)).toSet == Set("o3"))
    // no match -> empty, not an error
    assert(Search.hasChild(fam, "order",
      """{"query": {"range": {"price": {"gt": 99999}}}}""").count() == 0)
  }

  test("phrase suggester: stupid-backoff bigram ranking of corrected phrases") {
    val corpus = Seq(
      ("1", "spark stream spark stream"), ("2", "spark batch"), ("3", "stream batch"))
      .toDF("doc_id", "text")
    // unigrams: spark 3, stream 3, batch 2 (N=8); bigrams: "spark stream" 2,
    // "stream spark" 1, "spark batch" 1, "stream batch" 1
    val out = Search.phraseSuggest(corpus, "text", "spork streem", size = 3).collect()
    // "spark stream" = 2/3; "spork stream" backs off to 0.4*3/8 = 0.15;
    // zero-score phrases keep the input tokens and rank last alphabetically
    assert(out.map(r => (r.getString(0), r.getInt(2))).toSeq ==
      Seq(("spark stream", 1), ("spork stream", 2), ("spark streem", 3)))
    assert(math.abs(out.head.getDouble(1) - 2.0 / 3) < 1e-12)
    // three tokens: the chain multiplies adjacent conditionals
    val out3 = Search.phraseSuggest(corpus, "text", "spork streem batch", size = 1)
      .collect()
    assert(out3.head.getString(0) == "spark stream batch")
    assert(math.abs(out3.head.getDouble(1) - (2.0 / 3) * (1.0 / 3)) < 1e-12)
    // loud: single-token input belongs to the term suggester
    assert(intercept[IllegalArgumentException](
      Search.phraseSuggest(corpus, "text", "spark")).getMessage.contains("2..6"))
  }

  test("phrase suggester store: write once, serve identically — corpus " +
       "never read at query time") {
    val corpus = Seq(
      ("1", "spark stream spark stream"), ("2", "spark batch"), ("3", "stream batch"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_sugg_store").toString
    Search.writeSuggestStore(corpus, "text", path)
    val direct = Search.phraseSuggest(corpus, "text", "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq
    val stored = Search.phraseSuggestFromStore(spark, path, "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(stored == direct, s"stored=$stored direct=$direct")
  }

  test("completion store: context-filtered fuzzy completion served from " +
       "the materialized dictionary equals the direct form") {
    val corpus = Seq(
      ("1", "en", "scala spark scaling"), ("2", "en", "scala streams"),
      ("3", "de", "skala spark"), ("4", "fr", "scala partout"))
      .toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_compl_store").toString
    Search.writeCompletionStore(corpus, "text", path, contextCols = Seq("lang"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val ctx = Map("lang" -> Seq("en", "de"))
    val direct = norm(Search.completionSuggestFuzzy(corpus, "text", "sca",
      size = 10, contexts = ctx, fuzziness = 1, fuzzyPrefixLength = 1))
    val stored = norm(Search.completionSuggestFromStore(spark, path, "sca",
      size = 10, contexts = ctx, fuzziness = 1, fuzzyPrefixLength = 1))
    assert(stored == direct, s"stored=$stored direct=$direct")
    assert(direct.nonEmpty && direct.map(_._1).contains("scala"))
    // exact (fuzziness 0), no contexts: whole-store sum path
    val d0 = norm(Search.completionSuggestFuzzy(corpus, "text", "scala", 5))
    val s0 = norm(Search.completionSuggestFromStore(spark, path, "scala", 5))
    assert(s0 == d0, s"s0=$s0 d0=$d0")
    // unmatched prefix / context: empty result, never an error
    assert(Search.completionSuggestFromStore(spark, path, "zzz", 5).count() == 0)
    assert(Search.completionSuggestFromStore(spark, path, "sca", 5,
      contexts = Map("lang" -> Seq("xx"))).count() == 0)
  }

  test("completion store files are context-partitioned and term-sorted, " +
       "after a build and after an append") {
    val words = (0 until 60).map(i => s"t${(i * 17) % 60}")
    def corpus(from: Int, n: Int) = (from until from + n).map { i =>
      (s"$i", Seq("en", "de", "")(i % 3),
        Seq(words(i % 60), words((i * 7) % 60), words((i * 11) % 60)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_compl_order").toString
    def assertSorted(): Unit = {
      val files = SparkSpecBase.dataFiles(path)
      assert(files.size >= 3, files.mkString(", "))
      files.foreach { f =>
        assert(SparkSpecBase.ascending(SparkSpecBase.fileRows(f, "suggestion")),
          s"${f.getPath} is not term-sorted")
      }
    }
    Search.writeCompletionStore(corpus(0, 300), "text", path, contextCols = Seq("lang"))
    assertSorted()
    Search.appendCompletionStore(corpus(300, 90), "text", path)
    assertSorted()
  }

  test("r11: termSuggestFromStore equals the direct term suggester — the " +
       "completion dictionary summed over contexts IS the term dictionary") {
    val corpus = Seq(
      ("1", "en", "spark stream spark"), ("2", "en", "spark batch"),
      ("3", "de", "stream batch spark"), ("4", "fr", "sparc"))
      .toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_term_store").toString
    Search.writeCompletionStore(corpus, "text", path, contextCols = Seq("lang"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getInt(4))).toSeq
    val direct = norm(Search.termSuggest(corpus, "text", "spork streem", 5))
    val stored = norm(Search.termSuggestFromStore(spark, path, "spork streem", 5))
    assert(stored == direct, s"stored=$stored direct=$direct")
    assert(direct.nonEmpty)
  }

  test("r11: append(A)+append(B) equals rebuild(A∪B) for the suggest LM " +
       "and completion stores (insert-only contract)") {
    val a = Seq(("1", "en", "spark stream spark stream"), ("2", "en", "spark batch"))
      .toDF("doc_id", "lang", "text")
    val b = Seq(("3", "de", "stream batch"), ("4", "en", "spark stream scala"))
      .toDF("doc_id", "lang", "text")
    val all = a.unionByName(b)
    // suggest LM store: built from A, appended with B, appended again with
    // an empty batch (idempotent on empties) — serves the A∪B answer
    val p1 = java.nio.file.Files.createTempDirectory("graft_sugg_app").toString
    Search.writeSuggestStore(a, "text", p1)
    Search.appendSuggestStore(b, "text", p1)
    Search.appendSuggestStore(all.limit(0), "text", p1)
    val p1full = java.nio.file.Files.createTempDirectory("graft_sugg_full").toString
    Search.writeSuggestStore(all, "text", p1full)
    def sugg(p: String) = Search.phraseSuggestFromStore(spark, p, "spork streem", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(sugg(p1) == sugg(p1full), s"appended=${sugg(p1)} full=${sugg(p1full)}")
    // and the LM tables' SERVING view (base + r14 delta segments) is
    // row-identical to the rebuild; after compaction the base alone is too
    def tbl(p: String, sub: String, key: String) =
      graft.pipeline.TextStats.readCountStore(spark, s"$p/$sub", key, "freq")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(tbl(p1, "unigrams", "w") == tbl(p1full, "unigrams", "w"))
    assert(tbl(p1, "bigrams", "b") == tbl(p1full, "bigrams", "b"))
    Maintain.compactCountStore(spark, s"$p1/unigrams")
    Maintain.compactCountStore(spark, s"$p1/bigrams")
    assert(sugg(p1) == sugg(p1full), "post-compaction serve must be unchanged")
    assert(tbl(p1, "unigrams", "w") == tbl(p1full, "unigrams", "w"))
    // completion store: context columns come from the store's own layout;
    // batch B introduces a NEW context value (de) — append must add the
    // partition, not drop it
    val p2 = java.nio.file.Files.createTempDirectory("graft_compl_app").toString
    Search.writeCompletionStore(a, "text", p2, contextCols = Seq("lang"))
    Search.appendCompletionStore(b, "text", p2)
    val p2full = java.nio.file.Files.createTempDirectory("graft_compl_full").toString
    Search.writeCompletionStore(all, "text", p2full, contextCols = Seq("lang"))
    def compl(p: String) = Search.completionSuggestFromStore(spark, p, "s",
        size = 20, contexts = Map("lang" -> Seq("en", "de")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(compl(p2) == compl(p2full),
      s"appended=${compl(p2)} full=${compl(p2full)}")
  }

  test("suggest stores survive an empty corpus: write succeeds, serving " +
       "returns empty results, never an error") {
    val empty = Seq.empty[(String, String)].toDF("doc_id", "text")
    val p1 = java.nio.file.Files.createTempDirectory("graft_sugg_e").toString
    Search.writeSuggestStore(empty, "text", p1)
    assert(Search.phraseSuggestFromStore(spark, p1, "ab cd", 3)
      .collect().forall(_.getDouble(1) == 0.0)) // all-backoff zero scores
    val p2 = java.nio.file.Files.createTempDirectory("graft_compl_e").toString
    Search.writeCompletionStore(empty, "text", p2)
    assert(Search.completionSuggestFromStore(spark, p2, "ab", 3).count() == 0)
  }

  test("percolate: stored queries match docs in one scan; null predicates safe") {
    val out = Search.percolate(docs, Seq(
      "sparky" -> "text:spark",
      "german" -> """{"query": {"term": {"lang": "de"}}}"""))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("sparky", "1"), ("sparky", "3"), ("german", "3"), ("german", "4")))
    // a doc with a null field must not poison the match array (coalesce)
    val withNull = Seq(("9", null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    assert(Search.percolate(withNull, Seq("s" -> "text:spark")).count() == 0)
    // duplicate stored ids fail loud; one scan, no join/union in the plan
    assert(intercept[IllegalArgumentException](
      Search.percolate(docs, Seq("a" -> "text:x", "a" -> "text:y")))
      .getMessage.contains("unique"))
    val plan = Search.percolate(docs, Seq("a" -> "text:spark", "b" -> "lang:de"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
  }

  test("runtime fields: script columns usable in query and sort; loud on bad type") {
    val ev = Seq((1L, 10.0), (2L, 100.0), (3L, 250.0)).toDF("event_id", "value")
    val (df, stripped) = Search.withRuntimeFields(ev,
      """{"runtime_mappings": {
           "big": {"type": "boolean", "script": {"source": "value >= 100"}},
           "half": {"type": "double", "script": "value / 2"}},
          "query": {"term": {"big": true}}, "sort": [{"half": "desc"}]}""")
    assert(!stripped.contains("runtime_mappings"))
    val hits = Search.search(df, stripped, IndexConfig(), Seq("event_id"))
      .select("event_id", "half").collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(3L, 2L))
    assert(hits.head.getDouble(1) == 125.0)
    // body without runtime_mappings passes through untouched
    val (same, body2) = Search.withRuntimeFields(ev, """{"query": {"match_all": {}}}""")
    assert(same.columns.sameElements(ev.columns) && body2.contains("match_all"))
    assert(intercept[IllegalArgumentException](Search.withRuntimeFields(ev,
      """{"runtime_mappings": {"x": {"type": "keyword", "script": "value"}}}"""))
      .getMessage.contains("unsupported type"))
  }

  test("get_mapping returns schema rows with ES mapping types") {
    val m = Maintain.getMapping(docs).map(t => t._1 -> (t._2, t._3)).toMap
    assert(m == Map(
      "doc_id" -> ("string", "text"),
      "text" -> ("string", "text"),
      "lang" -> ("string", "text")))
  }

  test("msearch stacks independent bodies with the response ordinal") {
    val out = Search.msearch(docs, Seq(
      """{"query": {"term": {"lang": "de"}}}""",
      """{"query": {"match": {"text": "spark"}}, "size": 1}"""))
      .select("_msearch_index", "doc_id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((0, "3"), (0, "4"), (1, "1")))
    assert(intercept[IllegalArgumentException](Search.msearch(docs, Nil))
      .getMessage.contains("at least one"))
  }

  test("field_caps and analyze expose the engine's own rules") {
    val caps = Maintain.fieldCaps(Seq((1L, "t", 2.5)).toDF("id", "txt", "v"))
      .map(c => c._1 -> c).toMap
    assert(caps("id") == ("id", "long", true, true))
    assert(caps("txt") == ("txt", "text", true, false)) // text: no fielddata
    assert(caps("v") == ("v", "double", true, true))
    assert(Maintain.analyze("Spark-Streaming runs FAST, twice!") ==
      Seq("spark", "streaming", "runs", "fast", "twice"))
    assert(Maintain.analyze("") == Nil)
  }

  test("mvt hits: tile membership + pixel coords inside the extent; " +
       "grid cells partition the hits") {
    // z=1 → 2×2 tiles; tile (1,0) covers lon [0,180), "north" mercator half
    val pts = Seq((1L, 45.0, 90.0), (2L, 10.0, 10.0), (3L, 45.0, -90.0),
        (4L, -45.0, 90.0), (5L, 45.01, 90.01))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val hits = Search.mvtHits(pts, "loc", 1, 1, 0)
      .select("doc_id", "px", "py").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 3 (west half) and 4 (south half) fall outside the tile
    assert(hits.map(_._1).toSet == Set(1L, 2L, 5L))
    assert(hits.forall(h => h._2 >= 0 && h._2 < 4096 &&
      h._3 >= 0 && h._3 < 4096), hits.mkString(","))
    // grid layer: cells partition the hits (counts sum to the hit count)
    val grid = Search.mvtGrid(pts, "loc", 1, 1, 0)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(grid.map(_._2).sum == 3L)
    // the two near-identical points land in one 16px cell, the third apart
    assert(grid.length == 2 && grid.head._2 == 2L, grid.mkString(","))
    assert(intercept[IllegalArgumentException](
      Search.mvtHits(pts, "loc", 1, 2, 0)).getMessage.contains("out of range"))
  }

  test("script_fields: derived per-hit columns, both script forms, " +
       "kept in pk-only and _source-filtered shapes, unbound is loud") {
    val docs = Seq(("1", 10L, 3L), ("2", 20L, 7L)).toDF("doc_id", "a", "b")
    val out = Search.search(docs,
        """{"query": {"match_all": {}}, "script_fields": {
            "sum2": {"script": "doc.a + params.b"},
            "sq": {"script": {"source": "a * a"}}}}""",
        IndexConfig(), Seq("doc_id"))
      .select("doc_id", "sum2", "sq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("1", 13L, 100L), ("2", 27L, 400L)))
    // pk-only option still carries the script field
    val pkOnly = Search.search(docs,
      """#options:load-rows=false#{"query": {"match_all": {}},
         "script_fields": {"s": {"script": "b % 2"}}}""",
      IndexConfig(), Seq("doc_id"))
    assert(pkOnly.columns.toSeq == Seq("doc_id", "_score", "s"))
    // _source filter keeps requested fields + script fields
    val shaped = Search.search(docs,
      """{"query": {"match_all": {}}, "_source": ["a"],
         "script_fields": {"s": {"script": "b + 1"}}}""",
      IndexConfig(), Seq("doc_id"))
    assert(shaped.columns.toSeq == Seq("doc_id", "a", "_score", "s"))
    intercept[IllegalArgumentException](Search.search(docs,
      """{"query": {"match_all": {}},
         "script_fields": {"s": {"script": "doc.nope + 1"}}}""",
      IndexConfig(), Seq("doc_id")).collect())
  }

  test("script_fields: names colliding with columns, pk, _score, or each " +
       "other are loud, never silently clobbered") {
    val docs = Seq(("1", 10L)).toDF("doc_id", "a")
    def q(fields: String) =
      s"""{"query": {"match_all": {}}, "script_fields": {$fields}}"""
    // stored column
    assert(intercept[IllegalArgumentException](Search.search(docs,
      q(""""a": {"script": "a + 1"}"""), IndexConfig(), Seq("doc_id")))
      .getMessage.contains("collide"))
    // engine column
    assert(intercept[IllegalArgumentException](Search.search(docs,
      q(""""_score": {"script": "a"}"""), IndexConfig(), Seq("doc_id")))
      .getMessage.contains("collide"))
    // pk
    assert(intercept[IllegalArgumentException](Search.search(docs,
      q(""""doc_id": {"script": "a"}"""), IndexConfig(), Seq("doc_id")))
      .getMessage.contains("collide"))
  }

  test("multi-knn: per-clause top-k contributions sum; outside a " +
       "clause's k it contributes nothing; query sibling is rejected") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Search.knnSearch(vecs,
        """{"knn": [
            {"field": "embedding", "query_vector": [1.0, 0.0], "k": 2},
            {"field": "embedding", "query_vector": [0.0, 1.0], "k": 1, "boost": 3}],
          "size": 10}""")
      .select("vec_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // clause 1 top-2: ids 1 (cos 1 → score 1.0) and 2; clause 2 top-1:
    // id 3 (score 1.0 × 3). id 4 is in neither top-k → absent
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == 1.0)
    assert(out(3L) == 3.0)  // boost multiplies the one clause it rides
    assert(out(2L) > 0.9 && out(2L) < 1.0)
    assert(intercept[IllegalArgumentException](Search.knnSearch(vecs,
      """{"knn": [{"field": "embedding", "query_vector": [1.0, 0.0], "k": 1},
          {"field": "embedding", "query_vector": [0.0, 1.0], "k": 1}],
        "query": {"match_all": {}}}"""))
      .getMessage.contains("declared subset"))
  }

  test("indices_boost: first matching pattern wins, unmatched keeps 1, " +
       "non-positive factors and missing _index are loud") {
    val cat = Map(
      "logs_a" -> Seq(("1", "x")).toDF("doc_id", "t"),
      "logs_b" -> Seq(("2", "x")).toDF("doc_id", "t"),
      "other" -> Seq(("3", "x")).toDF("doc_id", "t"))
    val hits = Search.search(Search.indexPattern(cat, "*"),
      """{"query": {"term": {"t": "x"}}}""", IndexConfig(), Seq("doc_id"))
    val out = Search.indicesBoost(hits,
        Seq("logs_a" -> 5, "logs_*" -> 2))
      .select("doc_id", "_score").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("1" -> 5L, "2" -> 2L, "3" -> 1L))
    intercept[IllegalArgumentException](
      Search.indicesBoost(hits, Seq("logs_a" -> 0)))
    intercept[IllegalArgumentException](
      Search.indicesBoost(hits.drop("_index"), Seq("logs_a" -> 2)))
  }
}
