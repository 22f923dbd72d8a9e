package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ES-DSL aggregations: bucket/metric semantics, the query filter, and the
  * hash-aggregate plan shape. */
class AggsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark rocks", "en", 10.0),
    (2L, "spark and cassandra", "en", 20.0),
    (3L, "spark streaming", "de", 30.0),
    (4L, "flink only", "de", 40.0),
    (5L, "spark again", "fr", 50.0),
    (6L, "no language", null.asInstanceOf[String], 60.0))
    .toDF("doc_id", "text", "lang", "score")

  test("terms: count-desc key-asc order, size cap, null keys dropped") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang","size":2}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("de", 2L), ("en", 2L))) // fr cut by size, null dropped
  }

  test("terms with metric sub-aggs: avg and stats flatten per bucket") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang"},
           "aggs":{"avg_score":{"avg":{"field":"score"}},
                   "s":{"stats":{"field":"score"}}}}}}""")
      .where(col("key") === "de").collect().head
    assert(out.getLong(1) == 2L) // doc_count
    assert(out.getDouble(2) == 35.0) // avg_score
    assert(out.getLong(3) == 2L && out.getDouble(4) == 30.0 &&
      out.getDouble(5) == 40.0 && out.getDouble(6) == 35.0 && out.getDouble(7) == 70.0)
  }

  test("query filter applies before bucketing") {
    val out = Aggs.runSingle(docs,
      """{"query":{"match":{"text":"spark"}},
          "aggs":{"by_lang":{"terms":{"field":"lang"}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("en" -> 2L, "de" -> 1L, "fr" -> 1L))
  }

  test("histogram: fixed-interval buckets in key order, empty buckets absent") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"h":{"histogram":{"field":"score","interval":25}}}}""")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(out.toSeq == Seq((0.0, 2L), (25.0, 2L), (50.0, 2L)))
  }

  test("range: from inclusive, to exclusive, ES labels and custom keys, open ends") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"r":{"range":{"field":"score","ranges":[
           {"to":20},{"from":20,"to":50},{"key":"big","from":50}]}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("*-20.0" -> 1L, "20.0-50.0" -> 3L, "big" -> 2L))
  }

  test("date_histogram: calendar day buckets with a sum sub-agg") {
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 23:59:59"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-03-02 00:00:01"), 4.0))
      .toDF("event_id", "ts", "value")
    val out = Aggs.runSingle(events,
      """{"aggs":{"per_day":{"date_histogram":{"field":"ts","calendar_interval":"day"},
           "aggs":{"total":{"sum":{"field":"value"}}}}}}""")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("2024-03-01 00:00:00.0", 2L, 3.0), ("2024-03-02 00:00:00.0", 1L, 4.0)))
  }

  test("global metrics: stats row and exact cardinality") {
    val stats = Aggs.runSingle(docs, """{"aggs":{"s":{"stats":{"field":"score"}}}}""")
      .collect().head
    assert(stats.getLong(0) == 6L && stats.getDouble(1) == 10.0 &&
      stats.getDouble(2) == 60.0 && stats.getDouble(3) == 35.0 && stats.getDouble(4) == 210.0)
    val card = Aggs.runSingle(docs,
      """{"aggs":{"c":{"cardinality":{"field":"lang"}}}}""").collect().head.getLong(0)
    assert(card == 3L)
  }

  test("multiple top-level aggs return one frame each") {
    val m = Aggs.run(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang"}},
                  "avg_all":{"avg":{"field":"score"}}}}""")
    assert(m.keySet == Set("by_lang", "avg_all"))
    assert(m("avg_all").collect().head.getDouble(0) == 35.0)
  }

  test("composite: keyset bucket pages in source order, after resumes strictly past") {
    val page1 = Aggs.runSingle(docs,
      """{"aggs":{"c":{"composite":{"size":2,"sources":[
           {"l":{"terms":{"field":"lang"}}}]}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(page1.toSeq == Seq(("de", 2L), ("en", 2L)))
    val page2 = Aggs.runSingle(docs,
      """{"aggs":{"c":{"composite":{"size":2,"sources":[
           {"l":{"terms":{"field":"lang"}}}],"after":{"l":"en"}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(page2.toSeq == Seq(("fr", 1L))) // nulls skipped, past the end next
  }

  test("composite: multi-source tuple order and metric sub-aggs") {
    val rows = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 4.0), ("a", 2L, 8.0))
      .toDF("g", "n", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"c":{"composite":{"size":10,"sources":[
           {"g":{"terms":{"field":"g"}}},{"n":{"terms":{"field":"n"}}}],
           "after":{"g":"a","n":1}},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 2L, 2L, 10.0), ("b", 1L, 1L, 4.0)))
  }

  test("percentiles: exact interpolated, custom percents, flattened columns") {
    val rows = Seq(1.0, 2.0, 4.0).toDF("v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"p":{"percentiles":{"field":"v","percents":[50,90]}}}}""")
    assert(out.columns.toSeq == Seq("p_p50", "p_p90"))
    val r = out.collect().head
    assert(r.getDouble(0) == 2.0 && math.abs(r.getDouble(1) - 3.6) < 1e-12)
  }

  test("top_hits: per-bucket top docs by explicit sort, id tiebreak, query filter") {
    val out = Aggs.topHits(docs,
      """{"query":{"match":{"text":"spark"}},
          "aggs":{"by_lang":{"terms":{"field":"lang"},
            "aggs":{"best":{"top_hits":{"size":1,"sort":[{"score":"desc"}]}}}}}}""")
      .select("key", "doc_id", "hit_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // en: docs 1 (10.0) vs 2 (20.0) -> 2; de: only 3 matches 'spark'; fr: 5
    assert(out == Set(("en", 2L, 1), ("de", 3L, 1), ("fr", 5L, 1)))
  }

  test("top_hits: size > 1 ranks within bucket; missing sort is loud") {
    val out = Aggs.topHits(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang"},
            "aggs":{"best":{"top_hits":{"size":2,"sort":[{"score":{"order":"asc"}}]}}}}}}""")
      .where(col("key") === "en")
      .select("doc_id", "hit_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSet == Set((1L, 1), (2L, 2)))
    val e = intercept[IllegalArgumentException](Aggs.topHits(docs,
      """{"aggs":{"x":{"terms":{"field":"lang"},
           "aggs":{"y":{"top_hits":{"size":1}}}}}}"""))
    assert(e.getMessage.contains("sort"))
  }

  test("significant_terms: over-represented keys scored vs the background") {
    // null-lang docs leave both totals: fg total 4 (en,en,de,fr), bg 5.
    // de: fg 1/4 vs bg 2/5 -> under-represented, excluded;
    // en: fg 0.5 vs bg 0.4 -> JLH (0.1)(0.5/0.4) = 0.125;
    // fr: fg 0.25 vs bg 0.2 -> JLH (0.05)(1.25) = 0.0625 -> en ranks first
    val out = Aggs.runSingle(docs,
      """{"query":{"match":{"text":"spark"}},
          "aggs":{"sig":{"significant_terms":{"field":"lang"}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val keys = out.map(_._1).toSeq
    assert(keys == Seq("en", "fr"), s"got $keys")
    val en = out.find(_._1 == "en").get
    assert(en._2 == 2L && en._3 == 2L && math.abs(en._4 - 0.125) < 1e-12)
  }

  test("pipeline aggs: cumulative_sum, derivative, moving_avg over histogram buckets") {
    val rows = Seq((5.0, 1.0), (15.0, 2.0), (25.0, 4.0), (35.0, 8.0))
      .toDF("x", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "cum":{"cumulative_sum":{"buckets_path":"total"}},
                   "diff":{"derivative":{"buckets_path":"total"}},
                   "ma":{"moving_avg":{"buckets_path":"_count","window":2}}}}}}""")
      .collect().map(r => (r.getDouble(0), r.getDouble(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (0.0, 1.0, 1.0, None, 1.0),
      (10.0, 2.0, 3.0, Some(1.0), 1.0),
      (20.0, 4.0, 7.0, Some(2.0), 1.0),
      (30.0, 8.0, 15.0, Some(4.0), 1.0)))
  }

  test("percentile_ranks: exact empirical CDF, flattened columns") {
    val rows = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"pr":{"percentile_ranks":{"field":"v","values":[2, 3.5]}}}}""")
    assert(out.columns.toSeq == Seq("pr_2", "pr_3_5"))
    val r = out.collect().head
    // 2 of 4 values <= 2 -> 50%; 3 of 4 <= 3.5 -> 75%
    assert(r.getDouble(0) == 50.0 && r.getDouble(1) == 75.0)
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"pr":{"percentile_ranks":{"field":"v"}}}}"""))
      .getMessage.contains("values"))
  }

  test("moving_fn: scripted window excludes current bucket at shift 0") {
    val rows = Seq((5.0, 1.0), (15.0, 2.0), (25.0, 4.0), (35.0, 8.0))
      .toDF("x", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"total":{"sum":{"field":"v"}},
             "mx":{"moving_fn":{"buckets_path":"total","window":2,
               "script":"MovingFunctions.max(values)"}},
             "sm":{"moving_fn":{"buckets_path":"total","window":2,"shift":1,
               "script":"MovingFunctions.sum(values)"}}}}}}""")
      .collect().map(r => (r.getDouble(0),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
    // mx: max of the PREVIOUS two buckets (null at the first);
    // sm: shift 1 = trailing window including current
    assert(out.toSeq == Seq(
      (0.0, None, 1.0), (10.0, Some(1.0), 3.0),
      (20.0, Some(2.0), 6.0), (30.0, Some(4.0), 12.0)))
    // unsupported script shapes are loud, not silently wrong
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"m":{"moving_fn":{"buckets_path":"_count","window":2,
             "script":"params.x * 2"}}}}}}"""))
      .getMessage.contains("unsupported script"))
  }

  test("normalize: percent_of_sum under terms, z-score under histogram") {
    val rows = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0), ("c", 1.0))
      .toDF("g", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g"},
           "aggs":{"share":{"normalize":{"buckets_path":"_count",
             "method":"percent_of_sum"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", 0.5), ("b", 0.25), ("c", 0.25)))
    val hist2 = Seq((5.0, 0.0), (15.0, 0.0), (15.0, 0.0), (25.0, 0.0),
      (25.0, 0.0), (25.0, 0.0)).toDF("x", "v")
    val z2 = Aggs.runSingle(hist2,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"zz":{"normalize":{"buckets_path":"_count",
             "method":"rescale_0_100"}}}}}}""")
      .collect().map(_.getDouble(2))
    assert(z2.toSeq == Seq(0.0, 50.0, 100.0))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g"},
           "aggs":{"n":{"normalize":{"buckets_path":"_count",
             "method":"bogus"}}}}}}"""))
      .getMessage.contains("unknown method"))
  }

  test("terms order (_key / metric sub-agg) and min_doc_count") {
    val rows = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0),
      ("c", 5.0), ("c", 7.0), ("c", 9.0)).toDF("g", "v")
    // order by a metric sub-agg, descending
    val byMetric = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","order":{"avg_v":"desc"}},
           "aggs":{"avg_v":{"avg":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(byMetric.toSeq == Seq(("b", 1L, 10.0), ("c", 3L, 7.0), ("a", 2L, 2.0)))
    // order by key, descending
    val byKey = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","order":{"_key":"desc"}}}}}""")
      .collect().map(_.getString(0))
    assert(byKey.toSeq == Seq("c", "b", "a"))
    // min_doc_count thins buckets below the floor
    val md = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","min_doc_count":2}}}}""")
      .collect().map(_.getString(0))
    assert(md.toSeq == Seq("c", "a"))
    // min_doc_count 0 zero-fills from the unfiltered store: 'a' matches
    // nothing under the query but still gets its (0-count, null-metric) row
    val zf = Aggs.runSingle(rows,
      """{"query":{"range":{"v":{"gte":7}}},
          "aggs":{"t":{"terms":{"field":"g","min_doc_count":0,
            "order":{"_key":"asc"}},
            "aggs":{"avg_v":{"avg":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    assert(zf.toSeq == Seq(("a", 0L, None), ("b", 1L, Some(10.0)), ("c", 2L, Some(8.0))))
    // unknown order targets and junk directions are loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","order":{"nope":"desc"}}}}}"""))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","order":{"_key":"sideways"}}}}}"""))
  }

  test("extended_stats and weighted_avg metrics") {
    val rows = Seq((2.0, 1.0), (4.0, 3.0), (6.0, 0.0), (8.0, 2.0)).toDF("v", "w")
    val es = Aggs.runSingle(rows,
      """{"aggs":{"s":{"extended_stats":{"field":"v"}}}}""").collect().head
    // count 4, min 2, max 8, avg 5, sum 20, sum_sq 120, var_pop 5, sd √5
    assert(es.getLong(0) == 4L && es.getDouble(1) == 2.0 && es.getDouble(2) == 8.0)
    assert(es.getDouble(3) == 5.0 && es.getDouble(4) == 20.0 && es.getDouble(5) == 120.0)
    assert(math.abs(es.getDouble(6) - 5.0) < 1e-12)
    assert(math.abs(es.getDouble(7) - math.sqrt(5.0)) < 1e-12)
    // weighted: (2·1 + 4·3 + 6·0 + 8·2) / (1+3+0+2) = 30/6 = 5
    val wa = Aggs.runSingle(rows,
      """{"aggs":{"wv":{"weighted_avg":{"value":{"field":"v"},
           "weight":{"field":"w"}}}}}""").collect().head.getDouble(0)
    assert(wa == 5.0)
    // weighted_avg works as a terms sub-agg and as an order target
    val rows2 = Seq(("a", 2.0, 1.0), ("a", 4.0, 3.0), ("b", 10.0, 1.0))
      .toDF("g", "v", "w")
    val byW = Aggs.runSingle(rows2,
      """{"aggs":{"t":{"terms":{"field":"g","order":{"wv":"desc"}},
           "aggs":{"wv":{"weighted_avg":{"value":{"field":"v"},
             "weight":{"field":"w"}}}}}}}""")
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(byW.toSeq == Seq(("b", 10.0), ("a", 3.5)))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"wv":{"weighted_avg":{"value":{"field":"v"}}}}}"""))
  }

  test("terms include/exclude shape the bucket key set; regex is full-match") {
    val rows = Seq(("alpha", 1), ("beta", 2), ("gamma", 3), ("beta", 4))
      .toDF("g", "v")
    def keys(body: String) =
      Aggs.runSingle(rows, body).collect().map(_.getString(0)).toSeq
    // regex include: FULL match (Lucene regexp anchors), so 'a.*' only
    // takes terms that are entirely a-then-anything
    assert(keys("""{"aggs":{"t":{"terms":{"field":"g","include":"a.*|g.*",
      "order":{"_key":"asc"}}}}}""") == Seq("alpha", "gamma"))
    // exact-value array + exclude regex compose
    assert(keys("""{"aggs":{"t":{"terms":{"field":"g",
      "include":["alpha","beta","gamma"],"exclude":"b.*",
      "order":{"_key":"asc"}}}}}""") == Seq("alpha", "gamma"))
    // zero-fill universe obeys the shape: a query matching nothing still
    // lists exactly the included terms
    val zf = Aggs.runSingle(rows,
      """{"query":{"range":{"v":{"gte":99}}},
          "aggs":{"t":{"terms":{"field":"g","include":"beta|gamma",
            "min_doc_count":0,"order":{"_key":"asc"}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(zf == Seq(("beta", 0L), ("gamma", 0L)))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","include":42}}}}"""))
  }

  test("date_histogram fixed_interval: uniform epoch-anchored frames") {
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val rows = Seq((ts(0, 10), 1.0), (ts(0, 40), 2.0), (ts(1, 5), 4.0),
      (ts(2, 59), 8.0)).toDF("t", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"30m"},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("2024-03-01 00:00:00.0", 1L, 1.0),
      ("2024-03-01 00:30:00.0", 1L, 2.0),
      ("2024-03-01 01:00:00.0", 1L, 4.0),
      ("2024-03-01 02:30:00.0", 1L, 8.0)))
    // bad units / mixing with calendar_interval are loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"2w"}}}}"""))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"30m",
           "calendar_interval":"day"}}}}"""))
  }

  test("unknown bucket-body keys are loud; shard knobs are accepted no-ops") {
    val rows = Seq(("a", 1.0)).toDF("g", "v")
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","orderr":{"_key":"asc"}}}}}"""))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"g","calendar_interval":"day",
           "offset":"+3h"}}}}"""))
    // exact computation makes shard approximation knobs meaningless
    assert(Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","shard_size":25}}}}""")
      .collect().length == 1)
  }

  test("aggs body query honors the store default operator") {
    val rows = Seq(("spark batch", 1.0), ("spark only", 2.0), ("batch only", 4.0))
      .toDF("text", "v")
    val body = """{"query":{"query_string":{"query":"text:spark text:batch"}},
                   "aggs":{"total":{"sum":{"field":"v"}}}}"""
    assert(Aggs.runSingle(rows, body).collect().head.getDouble(0) == 1.0)
    assert(Aggs.run(rows, body, defaultOperator = "OR")("total")
      .collect().head.getDouble(0) == 7.0)
  }

  test("date_range buckets: ISO and epoch_millis bounds, from-inclusive") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-03-0$d%d 12:00:00")
    val rows = Seq((ts(1), 1.0), (ts(2), 2.0), (ts(3), 4.0)).toDF("t", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"eras":{"date_range":{"field":"t","ranges":[
           {"to":"2024-03-02"},
           {"from":"2024-03-02","to":"2024-03-03"},
           {"from":1709424000000}]},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // epoch 1709424000000 = 2024-03-03T00:00:00Z
    assert(out.toSeq.sortBy(_._1) == Seq(
      ("*-2024-03-02", 1L, 1.0),
      ("1709424000000-*", 1L, 4.0),
      ("2024-03-02-2024-03-03", 1L, 2.0)))
    // date math stays out of the deterministic contract — loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"x":{"date_range":{"field":"t","ranges":[{"from":"now-1M"}]}}}}"""))
  }

  test("missing param: terms buckets null keys; metrics substitute nulls") {
    val rows = Seq((Some("a"), Some(1.0)), (None, Some(3.0)),
      (Some("b"), None), (None, None))
      .map { case (g, v) => (g.orNull, v.map(Double.box).orNull) }
      .toDF("g", "v")
    val t = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","missing":"N/A",
           "order":{"_key":"asc"}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t.toSeq == Seq(("N/A", 2L), ("a", 1L), ("b", 1L)))
    val m = Aggs.runSingle(rows,
      """{"aggs":{"mean_v":{"avg":{"field":"v","missing":0}}}}""")
      .collect().head.getDouble(0)
    assert(m == 1.0) // (1 + 3 + 0 + 0) / 4 — nulls count as 0
  }

  test("filter (single) bucket and global bucket") {
    val rows = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("g", "v")
    val f = Aggs.runSingle(rows,
      """{"aggs":{"only_a":{"filter":{"term":{"g":"a"}},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""").collect().head
    assert(f.getLong(0) == 2L && f.getDouble(1) == 4.0)
    // global ignores the body's query: all 3 rows despite the b-only filter
    val g = Aggs.run(rows,
      """{"query":{"term":{"g":"b"}},
          "aggs":{"all":{"global":{},"aggs":{"total":{"sum":{"field":"v"}}}},
                  "slice":{"filter":{"term":{"g":"a"}}}}}""")
    assert(g("all").collect().head.getLong(0) == 3L)
    assert(g("all").collect().head.getDouble(1) == 14.0)
    // filter nests under the query context: b-filtered docs ∩ g='a' = 0
    assert(g("slice").collect().head.getLong(0) == 0L)
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"x":{"global":{"field":"g"}}}}"""))
  }

  test("sibling bucket metrics aggregate another agg's bucket frame") {
    val rows = Seq((5.0, 1.0), (6.0, 3.0), (15.0, 2.0), (25.0, 8.0))
      .toDF("x", "v")
    val out = Aggs.run(rows,
      """{"aggs":{
           "h":{"histogram":{"field":"x","interval":10},
                "aggs":{"total":{"sum":{"field":"v"}}}},
           "peak":{"max_bucket":{"buckets_path":"h>total"}},
           "mean_n":{"avg_bucket":{"buckets_path":"h>_count"}}}}""")
    // buckets: (0,2,4.0) (10,1,2.0) (20,1,8.0)
    assert(out("peak").collect().head.getDouble(0) == 8.0)
    assert(math.abs(out("mean_n").collect().head.getDouble(0) - 4.0 / 3) < 1e-12)
    // unknown sibling / metric are loud
    intercept[IllegalArgumentException](Aggs.run(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10}},
           "p":{"max_bucket":{"buckets_path":"nope>total"}}}}"""))
    intercept[IllegalArgumentException](Aggs.run(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10}},
           "p":{"max_bucket":{"buckets_path":"h>missing"}}}}"""))
  }

  test("histogram offset shifts bucket boundaries and composes with zero-fill") {
    val rows = Seq(3.0, 7.0, 13.0, 33.0).map(Tuple1(_)).toDF("x")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10,"offset":3}}}}""")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    // boundaries at 3, 13, 23, 33: [3,13)->{3,7}, [13,23)->{13}, [33,43)->{33}
    assert(out.toSeq == Seq((3.0, 2L), (13.0, 1L), (33.0, 1L)))
    // zero-fill inserts the empty [23,33) frame with the same offset key
    val zf = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10,"offset":3,
           "min_doc_count":0}}}}""")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(zf.toSeq == Seq((3.0, 2L), (13.0, 1L), (23.0, 0L), (33.0, 1L)))
    // out-of-range offset is loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10,"offset":10}}}}"""))
  }

  test("filters other_bucket: catch-all from the same single pass") {
    val rows = Seq(("spark rocks", 1.0), ("flink only", 2.0), ("neither", 4.0),
      (null.asInstanceOf[String], 8.0)).toDF("text", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"f":{"filters":{
           "filters":{"s":{"match":{"text":"spark"}},
                      "fl":{"match":{"text":"flink"}}},
           "other_bucket_key":"rest"},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // named buckets sort by name; other lands last. The null-text row's
    // predicates are NULL, not false — null-safe catch-all keeps it
    assert(out.toSeq == Seq(("fl", 1L, 2.0), ("s", 1L, 1.0), ("rest", 2L, 12.0)))
    // key collision with a named filter is loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"f":{"filters":{"filters":{"s":{"match":{"text":"x"}}},
           "other_bucket_key":"s"}}}}"""))
  }

  test("top_metrics: metric value at the top sort row, per bucket") {
    val rows = Seq(("a", Some(1.0), 10.0), ("a", Some(5.0), 20.0),
      ("b", Some(2.0), 30.0), ("b", Some(2.0), 40.0),
      ("c", Option.empty[Double], 50.0)).toDF("g", "s", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","size":10,"order":{"_key":"asc"}},
           "aggs":{"top":{"top_metrics":{"metrics":{"field":"v"},
                   "sort":[{"s":"desc"}]}}}}}}""")
      .collect().map(r => (r.getString(0), Option(r.get(2))
        .map(_.asInstanceOf[Double])))
    // a: s=5 -> v=20; b: sort tie at s=2 -> extreme metric 40 (declared);
    // c: no non-null sort value -> null metric
    assert(out.toSeq == Seq(("a", Some(20.0)), ("b", Some(40.0)), ("c", None)))
    // asc picks the smallest sort row
    val asc1 = Aggs.runSingle(rows,
      """{"aggs":{"t":{"top_metrics":{"metrics":{"field":"v"},
           "sort":{"s":"asc"}}}}}""").collect().head.getDouble(0)
    assert(asc1 == 10.0)
    // size != 1 and multi metrics are loud (declared subset)
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"top_metrics":{"metrics":{"field":"v"},
           "sort":{"s":"asc"},"size":3}}}}"""))
  }

  test("cardinality precision_threshold: deterministic HLL++ within error bound") {
    val rows = (1 to 5000).map(i => Tuple1(s"user-${i % 1713}")).toDF("u")
    val body = """{"aggs":{"card":{"cardinality":{"field":"u",
                   "precision_threshold":3000}}}}"""
    val approx = Aggs.runSingle(rows, body).collect().head.getLong(0)
    // rsd for threshold 3000 ≈ 1.9%; allow 4σ
    assert(math.abs(approx - 1713L) <= (1713 * 0.019 * 4).toLong,
      s"approx $approx too far from 1713")
    // deterministic: same data, same sketch, same answer
    assert(Aggs.runSingle(rows, body).collect().head.getLong(0) == approx)
    // default stays exact
    assert(Aggs.runSingle(rows,
      """{"aggs":{"card":{"cardinality":{"field":"u"}}}}""")
      .collect().head.getLong(0) == 1713L)
    // junk threshold is loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"card":{"cardinality":{"field":"u",
           "precision_threshold":0}}}}"""))
  }

  test("rare_terms: the long tail, exact counts, count-asc key-asc") {
    val rows = Seq("a", "a", "a", "b", "c", "c", "d").map(Tuple1(_)).toDF("g")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"rare":{"rare_terms":{"field":"g","max_doc_count":2}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("b", 1L), ("d", 1L), ("c", 2L)))
    // default max_doc_count is 1; junk options are loud
    assert(Aggs.runSingle(rows,
      """{"aggs":{"rare":{"rare_terms":{"field":"g"}}}}""")
      .collect().map(_.getString(0)).toSeq == Seq("b", "d"))
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"rare":{"rare_terms":{"field":"g","size":5}}}}"""))
  }

  test("multi_terms: composite-key buckets, count-desc key-asc, metrics") {
    val rows = Seq(("a", "x", 1.0), ("a", "x", 3.0), ("a", "y", 5.0),
      ("b", "x", 7.0), ("b", null, 9.0)).toDF("g1", "g2", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"mt":{"multi_terms":{
           "terms":[{"field":"g1"},{"field":"g2"}],"size":10},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // null tuple member drops the row (ES default, no missing)
    assert(out.toSeq == Seq(("a", "x", 2L, 4.0), ("a", "y", 1L, 5.0),
      ("b", "x", 1L, 7.0)))
    // fewer than two sources is loud
    intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"mt":{"multi_terms":{"terms":[{"field":"g1"}]}}}}"""))
  }

  test("stats_bucket and percentiles_bucket over a sibling's frame") {
    val rows = Seq((5.0, 1.0), (6.0, 3.0), (15.0, 2.0), (25.0, 8.0))
      .toDF("x", "v")
    val out = Aggs.run(rows,
      """{"aggs":{
           "h":{"histogram":{"field":"x","interval":10},
                "aggs":{"total":{"sum":{"field":"v"}}}},
           "st":{"stats_bucket":{"buckets_path":"h>total"}},
           "pct":{"percentiles_bucket":{"buckets_path":"h>_count",
                  "percents":[50,100]}}}}""")
    // buckets: totals 4.0, 2.0, 8.0; counts 2, 1, 1
    val st = out("st").collect().head
    assert(st.getLong(0) == 3L)      // count
    assert(st.getDouble(1) == 2.0)   // min
    assert(st.getDouble(2) == 8.0)   // max
    assert(math.abs(st.getDouble(3) - 14.0 / 3) < 1e-12) // avg
    assert(st.getDouble(4) == 14.0)  // sum
    val pct = out("pct").collect().head
    assert(pct.getDouble(0) == 1.0)  // p50 of (1,1,2) interpolated
    assert(pct.getDouble(1) == 2.0)  // p100
    // junk options are loud
    intercept[IllegalArgumentException](Aggs.run(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10}},
           "p":{"stats_bucket":{"buckets_path":"h>_count","format":"0.0"}}}}"""))
  }

  test("histogram-family min_doc_count 0 zero-fills frames; extended_bounds widen") {
    val ts = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-03-0$d%d $h%02d:00:00")
    val rows = Seq((ts(1, 0), 1.0), (ts(1, 3), 2.0)).toDF("t", "v")
    // gap hours 01:00 and 02:00 appear with doc_count 0 and null metrics
    val zf = Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"1h",
           "min_doc_count":0},
           "aggs":{"total":{"sum":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), Option(r.get(2))))
    assert(zf.toSeq == Seq(
      ("2024-03-01 00:00:00.0", 1L, Some(1.0)),
      ("2024-03-01 01:00:00.0", 0L, None),
      ("2024-03-01 02:00:00.0", 0L, None),
      ("2024-03-01 03:00:00.0", 1L, Some(2.0))))
    // extended_bounds (epoch millis) force frames beyond the data
    val eb = Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"1h",
           "min_doc_count":0,
           "extended_bounds":{"min":1709251200000,"max":1709269200000}}}}}""")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    // 2024-03-01 00:00Z .. 05:00Z inclusive = 6 frames
    assert(eb.length == 6 && eb.head == ("2024-03-01 00:00:00.0", 1L)
      && eb.last == ("2024-03-01 05:00:00.0", 0L))
    // numeric histogram zero-fill joins on bit-identical frame keys
    val nums = Seq(0.05, 0.35).toDF("x")
    val nh = Aggs.runSingle(nums,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":0.1,
           "min_doc_count":0}}}}""")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(nh.map(_._2).toSeq == Seq(1L, 0L, 0L, 1L))
    // a pathological frame count fails loud, never explodes
    val e = intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"date_histogram":{"field":"t","fixed_interval":"1s",
           "min_doc_count":0,
           "extended_bounds":{"min":1709251200000,"max":1809251200000}}}}}""")
      .collect())
    assert(e.getMessage.contains("cap"))
  }

  test("pipeline sub-agg under a non-histogram parent fails loud") {
    // ES rejects pipeline aggs on non-sequence parents; silently dropping
    // the requested column broke the fail-loud contract
    val rows = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val e = intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g"},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "cum":{"cumulative_sum":{"buckets_path":"total"}}}}}}"""))
    assert(e.getMessage.contains("histogram-family"))
    val e2 = intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"r":{"range":{"field":"v","ranges":[{"to":1.5},{"from":1.5}]},
           "aggs":{"cum":{"cumulative_sum":{"buckets_path":"_count"}}}}}}"""))
    assert(e2.getMessage.contains("histogram-family"))
  }

  test("bucket_script / bucket_selector / serial_diff over histogram buckets") {
    val rows = Seq((5.0, 1.0), (15.0, 2.0), (25.0, 4.0), (35.0, 8.0))
      .toDF("x", "v")
    // script derives a ratio; selector keeps buckets where it holds —
    // declaration order makes the chain (script column visible to selector)
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "pct":{"bucket_script":{
                     "buckets_path":{"t":"total","c":"_count"},
                     "script":"params.t / params.c * 100"}},
                   "keep":{"bucket_selector":{
                     "buckets_path":{"p":"pct"},
                     "script":"params.p >= 200 && params.p < 800"}}}}}}""")
      .collect().map(r => (r.getDouble(0), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((10.0, 2.0, 200.0), (20.0, 4.0, 400.0)))
    // serial_diff with lag 2
    val sd = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "d2":{"serial_diff":{"buckets_path":"total","lag":2}}}}}}""")
      .collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
    assert(sd.toSeq == Seq(None, None, Some(3.0), Some(6.0)))
    // loud: unbound param, junk script, seq pipeline under terms stays loud
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"b":{"bucket_script":{"buckets_path":{"a":"_count"},
                        "script":"params.zzz + 1"}}}}}}"""))
      .getMessage.contains("unbound parameter"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"b":{"bucket_script":{"buckets_path":{"a":"_count"},
                        "script":"params.a ? 1 : 2"}}}}}}"""))
      .getMessage.contains("unexpected character"))
  }

  test("bucket_sort under terms: metric sort, from/size page; seq pipeline still loud") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 5.0), ("c", 1.0),
      ("d", 4.0)).toDF("g", "v")
    // terms default order is _count desc — bucket_sort re-orders the
    // SELECTED frame by the metric, then pages past the first
    val out = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","size":10},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "page":{"bucket_sort":{"sort":[{"total":"desc"}],
                           "from":1,"size":2}}}}}}""")
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    // totals: b=10, c=6, d=4, a=3 → page from 1 size 2 = c, d
    assert(out.toSeq == Seq(("c", 6.0), ("d", 4.0)))
    // bucket_script + selector work under terms too (ES allows them)
    val sel = Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g","size":10},
           "aggs":{"total":{"sum":{"field":"v"}},
                   "keep":{"bucket_selector":{"buckets_path":{"t":"total"},
                           "script":"params.t > 4"}}}}}}""")
      .collect().map(_.getString(0))
    assert(sel.toSet == Set("b", "c"))
    // sequence pipelines under terms stay rejected
    assert(intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"t":{"terms":{"field":"g"},
           "aggs":{"sd":{"serial_diff":{"buckets_path":"_count"}}}}}}"""))
      .getMessage.contains("histogram-family"))
  }

  test("nested terms in a histogram: per-bucket top-N with inner metrics") {
    val rows = Seq(
      (5.0, "a", 1.0), (6.0, "a", 3.0), (7.0, "b", 5.0),
      (15.0, "b", 2.0), (16.0, "b", 4.0), (17.0, "c", 6.0), (18.0, "c", 8.0))
      .toDF("x", "g", "v")
    val out = Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"types":{"terms":{"field":"g","size":1},
             "aggs":{"avg_v":{"avg":{"field":"v"}}}}}}}}""")
      .collect().map(r => (r.getDouble(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    // bucket 0: a x2 beats b x1; bucket 10: tie b/c x2 -> 'b' by key asc
    assert(out.toSeq == Seq((0.0, "a", 2L, 2.0, 1), (10.0, "b", 2L, 3.0, 1)))
    val e = intercept[IllegalArgumentException](Aggs.runSingle(rows,
      """{"aggs":{"h":{"histogram":{"field":"x","interval":10},
           "aggs":{"types":{"terms":{"field":"g"}},
                   "extra":{"avg":{"field":"v"}}}}}}"""))
    assert(e.getMessage.contains("no sibling"))
  }

  test("runIndexed equals run: candidates re-verified, background intact") {
    val docs2 = docs.withColumnRenamed("score", "n_chars")
    val postings = TextIndex.buildPostings(docs2, "doc_id", Seq("text"), nBuckets = 4)
    val body = """{"query":{"match":{"text":"spark"}},
                   "aggs":{"by_lang":{"terms":{"field":"lang"}},
                           "sig":{"significant_terms":{"field":"lang"}}}}"""
    def norm(m: Map[String, org.apache.spark.sql.DataFrame]) =
      m.map { case (k, df) => k -> df.collect().map(_.toString).toSet }
    val scan = norm(Aggs.run(docs2, body))
    val indexed = norm(Aggs.runIndexed(docs2, postings, body,
      indexedFields = Set("text"), nBuckets = 4))
    assert(indexed == scan)
  }

  test("filters agg: named buckets from one pass, guarded metrics, missing agg") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"f":{"filters":{"filters":{
           "sparky":{"match":{"text":"spark"}},
           "german":{"term":{"lang":"de"}}}},
           "aggs":{"avg_score":{"avg":{"field":"score"}}}}}}""")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("sparky") == (4L, (10.0 + 20.0 + 30.0 + 50.0) / 4))
    assert(out("german") == (2L, 35.0))
    // single scan: the plan has exactly one aggregate source, no union of scans
    val plan = Aggs.runSingle(docs,
      """{"aggs":{"f":{"filters":{"filters":{
           "a":{"term":{"lang":"en"}},"b":{"term":{"lang":"de"}}}}}}}""")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
    val missing = Aggs.runSingle(docs,
      """{"aggs":{"m":{"missing":{"field":"lang"}}}}""").collect().head.getLong(0)
    assert(missing == 1L)
  }

  test("validate: Left on bad types, bad params, missing columns; Right on good") {
    assert(Aggs.validate(docs,
      """{"aggs":{"t":{"terms":{"field":"lang"},
           "aggs":{"a":{"avg":{"field":"score"}}}}}}""").isRight)
    assert(Aggs.validate(docs,
      """{"aggs":{"x":{"geo_hexgrid":{"field":"score"}}}}""")
      .left.exists(_.contains("unsupported")))
    // geo_distance is supported but validates its body eagerly
    assert(Aggs.validate(docs,
      """{"aggs":{"x":{"geo_distance":{"field":"score"}}}}""")
      .left.exists(_.contains("origin")))
    assert(Aggs.validate(docs,
      """{"aggs":{"t":{"terms":{"field":"no_such_column"}}}}""").isLeft)
    assert(Aggs.validate(docs, """{"aggs":{}}""").isLeft)
  }

  test("errors are loud: unsupported type, nested bucket sub-agg, missing aggs") {
    def bad(body: String) = intercept[IllegalArgumentException](Aggs.run(docs, body))
    assert(bad("""{"aggs":{"x":{"geo_hexgrid":{"field":"score"}}}}""")
      .getMessage.contains("unsupported aggregation type"))
    assert(bad("""{"aggs":{"x":{"terms":{"field":"lang"},
        "aggs":{"y":{"terms":{"field":"lang"}}}}}}""")
      .getMessage.contains("single metric"))
    assert(bad("""{"query":{"match_all":{}}}""").getMessage.contains("aggs"))
  }

  test("string_stats: lengths + char entropy of a known distribution") {
    // "aab" + "b" → chars {a:2, b:2} → entropy exactly 1.0; repartition
    // forces partial-buffer merge through CharEntropy.serialize/merge
    val two = Seq((1L, "aab"), (2L, "b")).toDF("doc_id", "text").repartition(2)
    val r = Aggs.runSingle(two,
      """{"aggs":{"t":{"string_stats":{"field":"text"}}}}""").collect().head
    assert(r.getLong(0) == 2L) // count
    assert(r.getInt(1) == 1 && r.getInt(2) == 3) // min/max length
    assert(r.getDouble(3) == 2.0) // avg length
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12) // entropy of 50/50
    // null-only input → null entropy, zero count
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rn = Aggs.runSingle(nulls,
      """{"aggs":{"t":{"string_stats":{"field":"text"}}}}""").collect().head
    assert(rn.getLong(0) == 0L && rn.isNullAt(4))
  }

  test("boxplot: exact quartiles under a bucket agg") {
    val r = Aggs.runSingle(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang"},
           "aggs":{"v":{"boxplot":{"field":"score"}}}}}}""")
      .where(col("key") === "de").collect().head
    // de scores {30, 40}: q1=32.5, q2=35, q3=37.5 (linear interpolation)
    assert(r.getDouble(2) == 30.0 && r.getDouble(3) == 40.0)
    assert(r.getDouble(4) == 32.5 && r.getDouble(5) == 35.0 && r.getDouble(6) == 37.5)
  }

  test("t_test: welch/pooled/paired statistics and fail-loud contract") {
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0), (4L, 4.0, 8.0))
      .toDF("doc_id", "a", "b")
    // paired: d = a-b = {-1,-2,-3,-4}, mean -2.5, sd = 1.2909945, n = 4
    val paired = Aggs.runSingle(df,
      """{"aggs":{"t":{"t_test":{"a":{"field":"a"},"b":{"field":"b"},
           "type":"paired"}}}}""").collect().head.getDouble(0)
    assert(math.abs(paired - (-2.5 / (1.2909944487358056 / 2))) < 1e-9)
    // welch == pooled here (equal n): ma=2.5 mb=5, va=5/3 vb=20/3
    val welch = Aggs.runSingle(df,
      """{"aggs":{"t":{"t_test":{"a":{"field":"a"},"b":{"field":"b"}}}}}""")
      .collect().head.getDouble(0)
    val pooled = Aggs.runSingle(df,
      """{"aggs":{"t":{"t_test":{"a":{"field":"a"},"b":{"field":"b"},
           "type":"homoscedastic"}}}}""").collect().head.getDouble(0)
    val expected = (2.5 - 5.0) / math.sqrt(5.0 / 3 / 4 + 20.0 / 3 / 4)
    assert(math.abs(welch - expected) < 1e-9)
    assert(math.abs(pooled - expected) < 1e-9) // equal n ⇒ same denominator
    // paired + filter is rejected; unknown type is rejected
    assert(intercept[IllegalArgumentException](Aggs.runSingle(df,
      """{"aggs":{"t":{"t_test":{"a":{"field":"a","filter":{"match_all":{}}},
           "b":{"field":"b"},"type":"paired"}}}}""")).getMessage.contains("paired"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(df,
      """{"aggs":{"t":{"t_test":{"a":{"field":"a"},"b":{"field":"b"},
           "type":"zweistichproben"}}}}""")).getMessage.contains("unknown type"))
  }

  test("matrix_stats: pairwise-complete moments; mad top-level only") {
    val df = Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 3.0, 30.0))
      .toDF("doc_id", "x", "y")
    val r = Aggs.runSingle(df,
      """{"aggs":{"m":{"matrix_stats":{"fields":["x","y"]}}}}""").collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 20.0) // means
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 100.0) // sample variances
    assert(r.getDouble(5) == 10.0) // covariance
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12) // perfect correlation
    assert(intercept[IllegalArgumentException](Aggs.runSingle(df,
      """{"aggs":{"m":{"matrix_stats":{"fields":["x"]}}}}"""))
      .getMessage.contains("exactly 2 fields"))
    // MAD of {1,2,3}: median 2, deviations {1,0,1} → 1.0; bucket use fails loud
    val mad = Aggs.runSingle(df,
      """{"aggs":{"m":{"median_absolute_deviation":{"field":"x"}}}}""")
      .collect().head.getDouble(0)
    assert(mad == 1.0)
    assert(intercept[IllegalArgumentException](Aggs.runSingle(df,
      """{"aggs":{"g":{"terms":{"field":"doc_id"},
           "aggs":{"m":{"median_absolute_deviation":{"field":"x"}}}}}}"""))
      .getMessage.contains("top-level only"))
  }

  test("adjacency_matrix: singles + pair intersections, empty pairs omitted") {
    val out = Aggs.runSingle(docs,
      """{"aggs":{"adj":{"adjacency_matrix":{"filters":{
           "sparky":{"match":{"text":"spark"}},
           "german":{"term":{"lang":"de"}},
           "english":{"term":{"lang":"en"}}}}}}}""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("sparky") == 4L && out("german") == 2L && out("english") == 2L)
    assert(out("german&sparky") == 1L) // doc 3 only
    assert(out("english&sparky") == 2L)
    assert(!out.contains("english&german")) // empty intersection omitted
    // custom separator; name containing the separator fails loud
    val sep = Aggs.runSingle(docs,
      """{"aggs":{"adj":{"adjacency_matrix":{"separator":"|","filters":{
           "a":{"term":{"lang":"de"}},"b":{"term":{"lang":"de"}}}}}}}""")
      .collect().map(_.getString(0)).toSet
    assert(sep == Set("a", "b", "a|b"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(docs,
      """{"aggs":{"adj":{"adjacency_matrix":{"filters":{
           "a&b":{"term":{"lang":"de"}}}}}}}"""))
      .getMessage.contains("separator"))
  }

  test("auto_date_histogram: finest rung that fits the bucket target") {
    import java.sql.Timestamp
    // 10 events 5 minutes apart (45-minute span): target 10 → the 5m rung
    // fits exactly (10 frames); target 4 → 30m; target 60 → 1m
    val ev = (0 until 10).map(i =>
      (i.toLong, new Timestamp(1700000000000L + i * 5 * 60 * 1000L)))
      .toDF("doc_id", "ts")
    def run(target: Int) = Aggs.runSingle(ev,
      s"""{"aggs":{"a":{"auto_date_histogram":{"field":"ts","buckets":$target}}}}""")
      .collect()
    val coarse = run(10)
    assert(coarse.forall(_.getString(2) == "5m") && coarse.length == 10)
    assert(coarse.map(_.getLong(1)).sum == 10L)
    val coarser = run(4)
    assert(coarser.forall(_.getString(2) == "30m") && coarser.length <= 4)
    assert(coarser.map(_.getLong(1)).sum == 10L)
    val fine = run(60)
    assert(fine.forall(_.getString(2) == "1m") && fine.length == 10)
    // empty input → empty result, not a crash
    assert(run(10).length > 0 && Aggs.runSingle(ev.limit(0),
      """{"aggs":{"a":{"auto_date_histogram":{"field":"ts","buckets":5}}}}""")
      .collect().isEmpty)
  }

  test("rate: unit rescale of sum/count under fixed_interval; fail-loud otherwise") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, new Timestamp(0L), 12.0), (2L, new Timestamp(3600 * 1000L), 36.0),
      (3L, new Timestamp(90000 * 1000L), 48.0)) // day 2
      .toDF("doc_id", "ts", "value")
    val out = Aggs.runSingle(ev,
      """{"aggs":{"d":{"date_histogram":{"field":"ts","fixed_interval":"1d"},
           "aggs":{"vph":{"rate":{"unit":"hour","field":"value"}},
                   "eph":{"rate":{"unit":"hour"}}}}}}""")
      .collect()
    assert(out.length == 2)
    assert(out(0).getDouble(2) == 2.0) // (12+36)/24
    assert(out(0).getDouble(3) == 2.0 / 24) // 2 events per day → /24 per hour
    assert(out(1).getDouble(2) == 2.0) // 48/24
    // no fixed_interval parent → loud
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ev,
      """{"aggs":{"g":{"terms":{"field":"doc_id"},
           "aggs":{"r":{"rate":{"unit":"hour"}}}}}}"""))
      .getMessage.contains("fixed_interval"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ev,
      """{"aggs":{"d":{"date_histogram":{"field":"ts","fixed_interval":"1d"},
           "aggs":{"r":{"rate":{"unit":"month"}}}}}}"""))
      .getMessage.contains("unit"))
  }

  test("significant_text: distinctive tokens of the query slice, JLH-scored") {
    val out = Aggs.runSingle(docs,
      """{"query": {"term": {"lang": "en"}},
          "aggs": {"sig": {"significant_text": {"field": "text", "size": 5}}}}""")
      .collect().map(_.getString(0))
    // en docs: "spark rocks", "spark and cassandra" — every en token has
    // fg%=1/2 or 1; 'spark' appears in 4/6 bg docs so over-representation
    // is mild; 'rocks'/'cassandra'/'and' (1/6 bg) score highest
    assert(out.contains("rocks") && out.contains("cassandra"))
    assert(!out.contains("flink")) // not in the fg slice at all
  }

  test("r12: significant_text from the postings + norms stores equals the " +
       "scan form — bg statistics read index-side, only the hits tokenize") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_store").toString
    TextIndex.writePostings(
      TextIndex.buildPostings(docs, "doc_id", Seq("text"), 4), s"$dir/postings")
    TextIndex.buildNorms(docs, "doc_id", Seq("text"))
      .write.parquet(s"$dir/norms")
    val postings = spark.read.option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings")
    val norms = spark.read.parquet(s"$dir/norms")
    for (h <- Seq("jlh", "chi_square")) {
      val scan = Aggs.runSingle(docs,
        s"""{"query": {"term": {"lang": "en"}},
            "aggs": {"sig": {"significant_text":
              {"field": "text", "size": 5, "$h": {}}}}}""")
        .collect().map(_.toString).toSeq
      val served = Aggs.significantTextFromStore(
          docs.where($"lang" === "en"), postings, norms, "text",
          size = 5, heuristic = h)
        .collect().map(_.toString).toSeq
      assert(served == scan, s"heuristic=$h served=$served scan=$scan")
    }
  }

  test("sampler/diversified_sampler: deterministic id-order sample feeds one sub-agg") {
    val out = Aggs.runSingle(docs,
      """{"aggs": {"s": {"sampler": {"shard_size": 3},
          "aggs": {"by_lang": {"terms": {"field": "lang"}}}}}}""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("en" -> 2L, "de" -> 1L)) // docs 1,2,3 sampled
    val div = Aggs.runSingle(docs,
      """{"aggs": {"s": {"diversified_sampler":
            {"shard_size": 10, "field": "lang", "max_docs_per_value": 1},
          "aggs": {"c": {"value_count": {"field": "doc_id"}}}}}}""")
      .collect().head.getLong(0)
    assert(div == 4L) // one doc per lang: en, de, fr + the null-lang doc
    assert(intercept[IllegalArgumentException](Aggs.runSingle(docs,
      """{"aggs": {"s": {"sampler": {"shard_size": 3}}}}"""))
      .getMessage.contains("exactly one sub-agg"))
  }

  test("random_sampler: LCG Bernoulli keep on the numeric id feeds one sub-agg") {
    // ((id % 1000003 + 0) * 1103515245 + 12345) % 1e6 < 500000 keeps
    // exactly ids 2, 4, 6 of the fixture
    val n = Aggs.runSingle(docs,
      """{"aggs": {"s": {"random_sampler": {"probability": 0.5},
          "aggs": {"c": {"value_count": {"field": "doc_id"}}}}}}""")
      .collect().head.getLong(0)
    assert(n == 3L)
    // probability 1 is the no-op passthrough
    val all = Aggs.runSingle(docs,
      """{"aggs": {"s": {"random_sampler": {"probability": 1},
          "aggs": {"c": {"value_count": {"field": "doc_id"}}}}}}""")
      .collect().head.getLong(0)
    assert(all == 6L)
    assert(intercept[IllegalArgumentException](Aggs.runSingle(docs,
      """{"aggs": {"s": {"random_sampler": {"probability": 0.75},
          "aggs": {"c": {"value_count": {"field": "doc_id"}}}}}}"""))
      .getMessage.contains("(0, 0.5]"))
  }

  test("parent agg: child context climbs to distinct parents") {
    val parents = Seq(("c1", "A", 10.0), ("c2", "A", 20.0), ("c3", "B", 30.0))
      .toDF("cid", "seg", "bal")
    val children = Seq(("o1", "c1"), ("o2", "c1"), ("o3", "c3"))
      .toDF("oid", "fk")
    val out = Aggs.parentAgg(children, parents, "fk", "cid", "seg",
        parentMetrics = """{"avg_bal": {"avg": {"field": "bal"}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // c1 counts ONCE despite two orders; c2 (childless) never appears
    assert(out == Seq(("A", 1L, 10.0), ("B", 1L, 30.0)))
  }

  test("categorize_text: token-prefix signature buckets") {
    val logs = Seq(
      (1L, "Error 42 on node7"), (2L, "Error 99 on node3"),
      (3L, "disk full"), (4L, "123 456"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Aggs.runSingle(logs,
      """{"aggs": {"cats": {"categorize_text":
            {"field": "text", "max_matched_tokens": 3}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // digits collapse: both error lines share one category; all-digit and
    // null docs drop
    assert(out == Seq(("error on node", 2L), ("disk full", 1L)))
  }

  test("ip_range: numeric IPv4 buckets, CIDR masks, first-match-wins") {
    val ips = Seq((1L, "10.0.0.5"), (2L, "63.255.255.255"), (3L, "64.0.0.0"),
      (4L, "201.17.3.9"), (5L, "208.0.0.1"), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "addr")
    val out = Aggs.runSingle(ips,
      """{"aggs": {"b": {"ip_range": {"field": "addr", "ranges": [
          {"to": "64.0.0.0"},
          {"from": "64.0.0.0", "to": "128.0.0.0"},
          {"mask": "200.0.0.0/5"}]}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 10.* and 63.255… under the open range (to exclusive → 64.0.0.0 is
    // NOT in it); 64.0.0.0 starts the second (from inclusive); 201.* in
    // the /5 block [200.0.0.0, 208.0.0.0); 208.0.0.1 and null unmatched
    assert(out == Seq(("*-64.0.0.0", 2L), ("200.0.0.0/5", 1L),
      ("64.0.0.0-128.0.0.0", 1L)))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ips,
      """{"aggs": {"b": {"ip_range": {"field": "addr",
          "ranges": [{"mask": "10.0.0.0/40"}]}}}}"""))
      .getMessage.contains("bad mask"))
  }

  test("date_histogram offset and fixed-offset time_zone shift anchors") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 01:00:00")), (2L, ts("2024-01-01 23:00:00")))
      .toDF("doc_id", "ts")
    def keys(body: String): Seq[Long] =
      Aggs.runSingle(ev, body).orderBy("key")
        .collect().map(r => r.getTimestamp(0).getTime * 1000L).toSeq
    def us(s: String) = ts(s).getTime * 1000L
    // UTC+02: 01:00 lands in local Jan 1, 23:00 in local Jan 2 — two
    // buckets whose UTC keys start at 22:00 the previous day
    assert(keys("""{"aggs": {"d": {"date_histogram": {"field": "ts",
        "fixed_interval": "1d", "time_zone": "+02:00"}}}}""")
      == Seq(us("2023-12-31 22:00:00"), us("2024-01-01 22:00:00")))
    // +6h offset: the 01:00 event belongs to the frame anchored at the
    // PREVIOUS day's 06:00 (pmod keeps pre-anchor timestamps correct)
    assert(keys("""{"aggs": {"d": {"date_histogram": {"field": "ts",
        "fixed_interval": "1d", "offset": "+6h"}}}}""")
      == Seq(us("2023-12-31 06:00:00"), us("2024-01-01 06:00:00")))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ev,
      """{"aggs": {"d": {"date_histogram": {"field": "ts",
          "calendar_interval": "day", "time_zone": "+02:00"}}}}"""))
      .getMessage.contains("fixed_interval only"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ev,
      """{"aggs": {"d": {"date_histogram": {"field": "ts",
          "fixed_interval": "1d", "time_zone": "CET"}}}}"""))
      .getMessage.contains("fixed offsets"))
  }

  test("ip_prefix: network snap, /len suffix, IPv4-only gate") {
    val ips = Seq((1L, "10.1.2.3"), (2L, "10.200.0.1"), (3L, "192.168.1.1"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "addr")
    val out = Aggs.runSingle(ips,
      """{"aggs": {"b": {"ip_prefix": {"field": "addr", "prefix_length": 8,
          "append_prefix_length": true}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("10.0.0.0/8", 2L), ("192.0.0.0/8", 1L)))
    // without the suffix, and a mid-octet prefix
    val out2 = Aggs.runSingle(ips,
      """{"aggs": {"b": {"ip_prefix": {"field": "addr", "prefix_length": 12}}}}""")
      .collect().map(_.getString(0)).toSeq
    assert(out2 == Seq("10.0.0.0", "10.192.0.0", "192.160.0.0"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ips,
      """{"aggs": {"b": {"ip_prefix": {"field": "addr", "prefix_length": 8,
          "is_ipv6": true}}}}""")).getMessage.contains("IPv4 only"))
  }

  test("terms partitioning: disjoint, complete, stable; gates") {
    val parts = (0 until 3).map { p =>
      Aggs.runSingle(docs,
        s"""{"aggs": {"b": {"terms": {"field": "lang", "size": 10,
            "include": {"partition": $p, "num_partitions": 3}}}}}""")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val all = parts.flatten
    assert(all.map(_._1).distinct.size == all.size) // disjoint
    assert(all.toSet == Set(("de", 2L), ("en", 2L), ("fr", 1L))) // complete
    assert(intercept[IllegalArgumentException](Aggs.runSingle(docs,
      """{"aggs": {"b": {"terms": {"field": "lang",
          "include": {"partition": 3, "num_partitions": 3}}}}}"""))
      .getMessage.contains("partition must be in"))
  }

  test("significant_terms chi_square: textbook 2x2, perfect association") {
    // term 'x' appears in ALL subset docs and NOWHERE else → chi² = N
    val df = Seq((1L, "x", "hit"), (2L, "x", "hit"),
      (3L, "y", "miss"), (4L, "y", "miss")).toDF("doc_id", "tag", "text")
    val out = Aggs.runSingle(df,
      """{"query": {"match": {"text": "hit"}},
          "aggs": {"s": {"significant_terms": {"field": "tag",
            "chi_square": {}}}}}""")
      .collect().head
    assert(out.getString(0) == "x")
    assert(out.getDouble(3) == 4.0) // N for a perfect 2x2 association
    assert(intercept[IllegalArgumentException](Aggs.runSingle(df,
      """{"aggs": {"s": {"significant_terms": {"field": "tag",
          "chi_square": {}, "jlh": {}}}}}"""))
      .getMessage.contains("at most one"))
  }

  test("frequent_item_sets: subset lattice per doc, support filter, top-N") {
    val df = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "book"),
      (4L, "de", "web"), (5L, "de", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "src")
    val out = Aggs.runSingle(df,
      """{"aggs": {"f": {"frequent_item_sets": {
          "fields": [{"field": "src"}, {"field": "lang"}],
          "minimum_set_size": 2, "minimum_support": 0.3, "size": 10}}}}""")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // pairs only (min_set_size 2): {en,web} in 2/5 docs = 0.4; {en,book}
    // and {de,web} at 0.2 fall below 0.3; doc 5's null src contributes no pair
    assert(out == Seq(("lang=en,src=web", 2, 2L)))
    // singles appear at min_set_size 1, field-name-sorted keys
    val singles = Aggs.runSingle(df,
      """{"aggs": {"f": {"frequent_item_sets": {
          "fields": [{"field": "src"}, {"field": "lang"}],
          "minimum_set_size": 1, "minimum_support": 0.5, "size": 10}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(singles == Seq(("lang=en", 3L), ("src=web", 3L)))
  }

  test("change_point: mean-shift argmax reports the first new-regime bucket") {
    val ev = (1 to 8).flatMap { k =>
      val reps = if (k <= 4) 10 else 20
      (1 to reps).map(i => (k.toLong * 100 + i, f"b$k%02d"))
    }.toDF("doc_id", "bucket")
    val out = Aggs.run(ev,
      """{"aggs": {
           "per_b": {"terms": {"field": "bucket", "size": 10, "order": {"_key": "asc"}}},
           "cp": {"change_point": {"buckets_path": "per_b>_count"}}}}""")("cp")
      .collect().head
    assert(out.getString(0) == "b05") // the step starts at bucket 5
    assert(math.abs(out.getDouble(1) - 10.0 * math.sqrt(2.0)) < 1e-9)
  }

  test("bucket_correlation: exact Pearson identity, length gate") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "c"), (5L, "c"), (6L, "c"))
      .toDF("doc_id", "k")
    val v = Aggs.run(df,
      """{"aggs": {
           "b": {"terms": {"field": "k", "size": 10}},
           "r": {"bucket_correlation": {"buckets_path": "b>_count",
             "function": {"count_correlation": {"indicator": {
               "expectations": [2, 4, 6]}}}}}}}""")("r")
      .collect().head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12) // counts 1,2,3 vs 2,4,6: perfect corr
    assertThrows[Exception](SparkSpecBase.quietFailedTasks()(Aggs.run(df,
      """{"aggs": {
           "b": {"terms": {"field": "k", "size": 10}},
           "r": {"bucket_correlation": {"buckets_path": "b>_count",
             "function": {"count_correlation": {"indicator": {
               "expectations": [1, 2]}}}}}}}""")("r").collect()))
  }

  test("bucket_count_ks_test: D against the expected CDF") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("doc_id", "k")
    val d = Aggs.run(df,
      """{"aggs": {
           "b": {"terms": {"field": "k", "size": 10}},
           "ks": {"bucket_count_ks_test": {"buckets_path": "b>_count",
             "fractions": [1, 3]}}}}""")("ks")
      .collect().head.getDouble(0)
    assert(d == 0.25) // cum actual [0.5, 1] vs expected [0.25, 1]
  }

  test("composite: histogram and date_histogram sources page like terms") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 23:00:00"), 15.0),
      (3L, java.sql.Timestamp.valueOf("2024-03-02 01:00:00"), 25.0))
      .toDF("doc_id", "ts", "v")
    val out = Aggs.runSingle(ev,
      """{"aggs": {"by": {"composite": {"size": 10, "sources": [
          {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
          {"h": {"histogram": {"field": "v", "interval": 10}}}]}}}}""")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val day1 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime * 1000L
    val day2 = java.sql.Timestamp.valueOf("2024-03-02 00:00:00").getTime * 1000L
    assert(out == Seq((day1, 0.0, 1L), (day1, 10.0, 1L), (day2, 20.0, 1L)))
    // after-cursor pages strictly beyond the tuple
    val page2 = Aggs.runSingle(ev,
      s"""{"aggs": {"by": {"composite": {"size": 10,
          "after": {"d": $day1, "h": 0},
          "sources": [
          {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
          {"h": {"histogram": {"field": "v", "interval": 10}}}]}}}}""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page2 == Seq((day1, 10.0), (day2, 20.0)))
  }

  test("scripted_metric: map_script over doc fields, one associative reduce") {
    // top-level: sum of score*2 over all docs = 2*(10+...+60) = 420
    val top = Aggs.runSingle(docs,
      """{"aggs": {"t": {"scripted_metric": {"map_script": "score * 2"}}}}""")
      .collect().head.getDouble(0)
    assert(top == 420.0)
    // under terms: per-lang avg of score+1
    val by = Aggs.runSingle(docs,
      """{"aggs": {"by": {"terms": {"field": "lang"},
          "aggs": {"m": {"scripted_metric":
            {"map_script": "score + 1", "reduce": "avg"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(by("en") == 16.0 && by("de") == 36.0) // (11+21)/2, (31+41)/2
    assert(intercept[IllegalArgumentException](Aggs.runSingle(docs,
      """{"aggs": {"t": {"scripted_metric":
          {"map_script": "score", "reduce": "median"}}}}"""))
      .getMessage.contains("unsupported reduce"))
  }

  test("geo_line: sort-ordered track string, size cap") {
    val pts = Seq(
      ("a", 3L, 1.0, 10.0), ("a", 1L, 2.0, 20.0), ("a", 2L, 3.0, 30.0),
      ("b", 1L, 5.0, 50.0))
      .toDF("vehicle", "ts", "lat", "lon")
      .select(col("vehicle"), col("ts"),
        struct(col("lat"), col("lon")).as("loc"))
    val out = Aggs.runSingle(pts,
      """{"aggs": {"tracks": {"terms": {"field": "vehicle"},
          "aggs": {"line": {"geo_line": {"point": {"field": "loc"},
            "sort": {"field": "ts"}}}}}}}""", idCol = "ts")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(out("a") == "2.0,20.0;3.0,30.0;1.0,10.0") // ts order 1,2,3
    assert(out("b") == "5.0,50.0")
    // size caps the track AFTER the sort
    val capped = Aggs.runSingle(pts,
      """{"aggs": {"tracks": {"terms": {"field": "vehicle"},
          "aggs": {"line": {"geo_line": {"point": {"field": "loc"},
            "sort": {"field": "ts"}, "size": 2}}}}}}""", idCol = "ts")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(capped("a") == "2.0,20.0;3.0,30.0")
  }

  test("nested agg: element granularity, path-addressed fields, reverse_nested") {
    val parents = Seq(
      (1L, Seq(("F", 100.0), ("O", 300.0))),
      (2L, Seq(("F", 300.0))),
      (3L, Seq.empty[(String, Double)]))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), expr(
        "transform(raw, x -> struct(x._1 as status, x._2 as price))").as("orders"))
    // bare nested: doc_count = ELEMENT count (3), not parent count
    assert(Aggs.runSingle(parents,
      """{"aggs": {"n": {"nested": {"path": "orders"}}}}""")
      .collect().head.getLong(0) == 3L)
    // nested > metric on a "path.field" address
    assert(Aggs.runSingle(parents,
      """{"aggs": {"n": {"nested": {"path": "orders"},
          "aggs": {"total": {"sum": {"field": "orders.price"}}}}}}""")
      .collect().head.getDouble(0) == 700.0)
    // nested > terms on the element field, with a reverse_nested parent
    // count per bucket: status F occurs in 2 elements across 2 parents,
    // O in 1 element / 1 parent
    val byStatus = Aggs.runSingle(parents,
      """{"aggs": {"n": {"nested": {"path": "orders"},
          "aggs": {"by_status": {"terms": {"field": "orders.status"},
            "aggs": {"parents": {"reverse_nested": {}}}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byStatus.toSeq == Seq(("F", 2L, 2L), ("O", 1L, 1L)))
    // loud: bad path, two sub-aggs
    assert(intercept[IllegalArgumentException](Aggs.runSingle(parents,
      """{"aggs": {"n": {"nested": {"path": "nope"}}}}"""))
      .getMessage.contains("not a column"))
  }

  test("geo_bounds / geo_centroid / geotile_grid over struct<lat,lon>") {
    val pts = Seq(
      (1L, 10.0, 20.0), (2L, -5.0, 40.0), (3L, 30.0, -10.0), (4L, 10.0, 21.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val b = Aggs.runSingle(pts,
      """{"aggs": {"box": {"geo_bounds": {"field": "loc"}}}}""").collect().head
    assert((b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)) ==
      (30.0, -5.0, -10.0, 40.0)) // top, bottom, left, right
    val c = Aggs.runSingle(pts,
      """{"aggs": {"c": {"geo_centroid": {"field": "loc"}}}}""").collect().head
    assert(c.getDouble(0) == 11.25 && c.getDouble(1) == 17.75 && c.getLong(2) == 4L)
    // precision 0: the whole world is tile 0/0/0
    val world = Aggs.runSingle(pts,
      """{"aggs": {"g": {"geotile_grid": {"field": "loc", "precision": 0}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(world.toSeq == Seq(("0/0/0", 4L)))
    // precision 2: 90-degree tiles; (10,20) and (10,21) share 2/2/1;
    // (-5,40) also x=2 but y=2; (30,-10) falls in 2/1/1
    val z2 = Aggs.runSingle(pts,
      """{"aggs": {"g": {"geotile_grid": {"field": "loc", "precision": 2}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(z2.toSeq == Seq(("2/2/1", 2L), ("2/1/1", 1L), ("2/2/2", 1L)))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(pts,
      """{"aggs": {"g": {"geotile_grid": {"field": "loc", "precision": 40}}}}"""))
      .getMessage.contains("0..29"))
  }

  test("geohash_grid: exact base32 cells at even and odd precisions") {
    val pts = Seq(
      (1L, 10.0, 20.0), (2L, 10.5, 20.5), (3L, -33.86, 151.21),
      (4L, 48.8566, 2.3522), (5L, 10.0, 20.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    // precision 4 (even total bits) — values pinned against the classic
    // bisection algorithm: (10,20)=s3y0, (10.5,20.5)=s3ye,
    // (-33.86,151.21)=r3gx, (48.8566,2.3522)=u09t
    val z4 = Aggs.runSingle(pts,
      """{"aggs": {"g": {"geohash_grid": {"field": "loc", "precision": 4}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(z4.toSeq == Seq(("s3y0", 2L), ("r3gx", 1L), ("s3ye", 1L), ("u09t", 1L)))
    // precision 5 (odd total bits — lon carries the extra bit)
    val z5 = Aggs.runSingle(pts,
      """{"aggs": {"g": {"geohash_grid": {"field": "loc", "precision": 5}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(z5 == Map("s3y0z" -> 2L, "s3yed" -> 1L, "r3gx2" -> 1L, "u09tv" -> 1L))
    // boundary: the north pole and the antimeridian land in real cells
    val edge = Seq((1L, 90.0, 180.0)).toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val e = Aggs.runSingle(edge,
      """{"aggs": {"g": {"geohash_grid": {"field": "loc", "precision": 4}}}}""")
      .collect().map(_.getString(0))
    assert(e.toSeq == Seq("zzzz"))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(pts,
      """{"aggs": {"g": {"geohash_grid": {"field": "loc", "precision": 13}}}}"""))
      .getMessage.contains("1..12"))
  }

  test("geo_distance agg: ring buckets around an origin") {
    val pts = Seq(
      (1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 0.0, 10.0), (4L, 80.0, 0.0))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    // 1 deg lon at the equator ~ 111.2km: rings 0-200km / 200-2000km / 2000km-*
    val out = Aggs.runSingle(pts,
      """{"aggs": {"rings": {"geo_distance": {"field": "loc",
          "origin": {"lat": 0, "lon": 0}, "unit": "km",
          "ranges": [{"to": 200}, {"from": 200, "to": 2000},
                     {"from": 2000}]}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toMap == Map("*-200.0" -> 2L, "200.0-2000.0" -> 1L,
      "2000.0-*" -> 1L))
    // custom keys and a sub-metric
    val named = Aggs.runSingle(pts,
      """{"aggs": {"rings": {"geo_distance": {"field": "loc",
          "origin": {"lat": 0, "lon": 0}, "unit": "km",
          "ranges": [{"to": 200, "key": "near"}, {"from": 200, "key": "far"}]},
          "aggs": {"ids": {"value_count": {"field": "doc_id"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(named.toSeq.sorted == Seq(("far", 2L, 2L), ("near", 2L, 2L)))
    assert(intercept[IllegalArgumentException](Aggs.runSingle(pts,
      """{"aggs": {"r": {"geo_distance": {"field": "loc",
          "origin": {"lat": 0, "lon": 0}, "unit": "parsec",
          "ranges": [{"to": 1}]}}}}"""))
      .getMessage.contains("unit"))
  }

  test("plan: terms agg is a partial+final hash aggregate, no window, one exchange") {
    // size below the input's maxRows — on a tiny LocalRelation a limit >=
    // maxRows is optimized away (EliminateLimits) and no top-k can appear
    val plan = Aggs.runSingle(docs,
      """{"aggs":{"by_lang":{"terms":{"field":"lang","size":2},
           "aggs":{"avg_score":{"avg":{"field":"score"}}}}}}""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    // TakeOrderedAndProject handles the size cap — no global sort either
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("variable_width_histogram: equal-frequency buckets, dyadic boundaries") {
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val out = Aggs.runSingle(df,
      """{"aggs":{"vw":{"variable_width_histogram":{"field":"v","buckets":4}}}}""")
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // boundaries at q25/q50/q75 of 1..8 = 2.75, 4.5, 6.25 → buckets {1,2},
    // {3,4}, {5,6}, {7,8}
    assert(out.toSeq == Seq((1.0, 2.0, 2L), (3.0, 4.0, 2L),
      (5.0, 6.0, 2L), (7.0, 8.0, 2L)), out.toSeq.toString)
  }

  test("variable_width_histogram rejects non-dyadic bucket counts") {
    val e = intercept[IllegalArgumentException] {
      Aggs.runSingle(docs,
        """{"aggs":{"vw":{"variable_width_histogram":{"field":"score","buckets":10}}}}""")
    }
    assert(e.getMessage.contains("power of two"), e.getMessage)
  }

  test("cumulative_cardinality counts each distinct value once, at first bucket") {
    // user 1 spans buckets 0 and 100 — the cumulative line must not
    // double-count it; bucket 200 introduces only user 3
    val ev = Seq((0.0, 1L), (0.0, 2L), (100.0, 1L), (100.0, 1L), (200.0, 3L),
        (200.0, 2L))
      .toDF("v", "user_id")
    val out = Aggs.runSingle(ev,
      """{"aggs":{"h":{"histogram":{"field":"v","interval":100},
           "aggs":{"u":{"cardinality":{"field":"user_id"}},
                   "cu":{"cumulative_cardinality":{"buckets_path":"u"}}}}}}""")
      .select("key", "u", "cu").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0.0, 2L, 2L), (100.0, 1L, 2L), (200.0, 2L, 3L)),
      out.toSeq.toString)
  }

  test("cumulative_cardinality demands a sibling cardinality agg") {
    val e = intercept[IllegalArgumentException] {
      Aggs.runSingle(docs,
        """{"aggs":{"h":{"histogram":{"field":"score","interval":100},
             "aggs":{"cu":{"cumulative_cardinality":{"buckets_path":"ghost"}}}}}}""")
    }
    assert(e.getMessage.contains("no sibling agg named 'ghost'"))
  }

  test("moving_percentiles: shifted window frames, exact dyadic interpolation") {
    // doc_counts per bucket: 1, 2, 3, 4 (score 10/20 in bucket 0 ... )
    val ev = (1 to 10).map(i => (if (i <= 1) 0.0 else if (i <= 3) 100.0
      else if (i <= 6) 200.0 else 300.0, i)).toDF("v", "n")
    val out = Aggs.runSingle(ev,
      """{"aggs":{"h":{"histogram":{"field":"v","interval":100},
           "aggs":{"mp":{"moving_percentiles":{"buckets_path":"_count",
             "window":2,"shift":1,"percents":[50]}}}}}}""")
      .select("key", "doc_count", "mp_p50").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    // trailing-2 inclusive median of counts 1,2,3,4: 1, 1.5, 2.5, 3.5
    assert(out.toSeq == Seq((0.0, 1L, 1.0), (100.0, 2L, 1.5),
      (200.0, 3L, 2.5), (300.0, 4L, 3.5)), out.toSeq.toString)
  }

  test("time_series: one bucket per dimension tuple, null dims drop, " +
       "metric sub-aggs ride the same aggregate") {
    val ev = Seq(("cpu", "h1", 1.0), ("cpu", "h1", 3.0), ("cpu", "h2", 5.0),
        ("mem", "h1", 7.0), ("mem", null, 9.0))
      .toDF("metric", "host", "v")
      .withColumn("doc_id", monotonically_increasing_id())
    val out = Aggs.runSingle(ev,
      """{"aggs":{"s":{"time_series":{"dimensions":["metric","host"]},
           "aggs":{"mx":{"max":{"field":"v"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("cpu", "h1", 2L, 3.0), ("cpu", "h2", 1L, 5.0),
      ("mem", "h1", 1L, 7.0)), out.toSeq.toString) // null host row dropped
    assert(intercept[IllegalArgumentException](Aggs.runSingle(ev,
      """{"aggs":{"s":{"time_series":{}}}}"""))
      .getMessage.contains("dimensions"))
  }

  test("geohex_grid: total cover, centers land in their own cell, " +
       "precision refines") {
    val pts = Seq((1L, 0.001, 0.001), (2L, 0.001, 0.002), (3L, 40.0, -75.0),
        (4L, -33.9, 151.2), (5L, 89.0, 179.0))
      .map { case (id, lat, lon) => (id, lat, lon) }
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    def run(z: Int) = Aggs.runSingle(pts,
      s"""{"aggs":{"hex":{"geohex_grid":{"field":"loc","precision":$z}}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val z0 = run(0)
    assert(z0.map(_._2).sum == 5L)            // every point in exactly one cell
    assert(z0.forall(_._1.startsWith("0/")))  // key carries the precision
    // near-identical points share a cell; a finer precision separates the
    // far-apart ones into at least as many cells
    val z3 = run(3)
    assert(z3.map(_._2).sum == 5L)
    assert(z3.length >= z0.length)
    assert(z3.count(_._2 == 2L) == 1)         // the two ~(0,0) points together
    // the lattice origin's cell is (0,0) at every precision
    val origin = Seq((9L, 0.0, 0.0)).toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val ok = Aggs.runSingle(origin,
      """{"aggs":{"hex":{"geohex_grid":{"field":"loc","precision":5}}}}""")
      .head.getString(0)
    assert(ok == "5/0/0", ok)
  }

  test("geo_grid query: drilling into a grid bucket returns exactly its " +
       "docs, for all three grid kinds") {
    val pts = (1 to 200).map(i => (i.toLong,
        (i * 37 % 180 - 90).toDouble, ((i * 91) % 360 - 180).toDouble))
      .toDF("doc_id", "lat", "lon")
      .select(col("doc_id"), struct(col("lat"), col("lon")).as("loc"))
    val cases = Seq(
      "geotile" -> """{"aggs":{"g":{"geotile_grid":{"field":"loc","precision":3}}}}""",
      "geohash" -> """{"aggs":{"g":{"geohash_grid":{"field":"loc","precision":2}}}}""",
      "geohex" -> """{"aggs":{"g":{"geohex_grid":{"field":"loc","precision":2}}}}""")
    for ((kind, body) <- cases) {
      val buckets = Aggs.runSingle(pts, body).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      assert(buckets.map(_._2).sum == 200L, s"$kind buckets must cover")
      val (key, cnt) = buckets.head
      val q = s"""{"query": {"geo_grid": {"loc": {"$kind": "$key"}}}, "size": 1000}"""
      val hits = Search.search(pts, q, IndexConfig(), Seq("doc_id")).count()
      assert(hits == cnt, s"$kind bucket $key: agg says $cnt, query says $hits")
    }
    // malformed keys and unknown grid kinds are loud
    intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"geo_grid": {"loc": {"geotile": "3-2-1"}}}}""",
      IndexConfig(), Seq("doc_id")).count())
    intercept[IllegalArgumentException](Search.search(pts,
      """{"query": {"geo_grid": {"loc": {"s2": "abc"}}}}""",
      IndexConfig(), Seq("doc_id")).count())
  }

  test("composite missing_bucket: null keys form the FIRST bucket; " +
       "default still drops them; paging resumes past it") {
    val d = Seq((1L, "a"), (2L, null), (3L, "b"), (4L, null), (5L, "a"))
      .toDF("doc_id", "k")
    def run(src: String, extra: String = "") = Aggs.runSingle(d,
      s"""{"aggs":{"by":{"composite":{"size":10,$extra
          "sources":[{"k":{"terms":$src}}]}}}}""")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    val withMissing = run("""{"field":"k","missing_bucket":true}""")
    assert(withMissing.toSeq == Seq((None, 2L), (Some("a"), 2L), (Some("b"), 1L)))
    val default = run("""{"field":"k"}""")
    assert(default.toSeq == Seq((Some("a"), 2L), (Some("b"), 1L)))
    // a page after "a" excludes the null bucket and "a" itself
    val page2 = run("""{"field":"k","missing_bucket":true}""",
      """"after":{"k":"a"},""")
    assert(page2.toSeq == Seq((Some("b"), 1L)))
  }

  test("boundedFrame ENFORCES the pipeline bucket cap in-plan: oversized " +
       "frames raise, bounded ones pass through untouched") {
    val d = (1 to 5).map(i => (i.toLong, i * 10.0)).toDF("key", "v")
    // within bounds: identity
    val ok = Aggs.boundedFrame(d, "spec", maxBuckets = 5)
      .orderBy("key").collect().map(_.getLong(0)).toSeq
    assert(ok == (1L to 5L))
    // beyond: the plan raises at execution with the loud contract message
    val e = intercept[Exception](SparkSpecBase.quietFailedTasks()(
      Aggs.boundedFrame(d, "spec", maxBuckets = 3).collect()))
    assert(e.getMessage.contains("bucket frame exceeds"), e.getMessage)
    // and the real surface is wired: a derivative over a bucket list
    // passes (bounded), proving the guard doesn't disturb pipeline output
    val src = Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"))
      .toDF("doc_id", "d")
      .select(col("doc_id"), col("d").cast("timestamp").as("ts"))
    val out = Aggs.runSingle(src,
      """{"aggs":{"h":{"date_histogram":{"field":"ts","calendar_interval":"day"},
          "aggs":{"dx":{"derivative":{"buckets_path":"_count"}}}}}}""")
      .collect()
    assert(out.length == 2)
  }
}
