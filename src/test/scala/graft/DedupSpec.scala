package graft

import graft.pipeline.{Dedup, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** North-star pipeline operators: planted near-duplicates must be found. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  // doc 1 and 2 are near-identical (one token differs); 3 is unrelated
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark query planning and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(corpus, "text", "doc_id").collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L) // keep min id
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(pairs.contains((1L, 4L))) // exact dup is trivially a near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash pairs from a materialized sketch store match the direct run") {
    val path = java.nio.file.Files.createTempDirectory("graft_sketch_store").toString
    Dedup.writeSketchStore(corpus, path, "text", "doc_id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = norm(Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.4))
    val stored = norm(Dedup.minhashPairsFromStore(spark, path, threshold = 0.4))
    assert(stored == direct && stored.nonEmpty)
    // a banding that doesn't match the stored signature length is loud
    intercept[IllegalArgumentException] {
      Dedup.minhashPairsFromStore(spark, path, numHashes = 16, bands = 8)
    }
  }

  test("r13: deleteFromSketchStore — a deleted doc's sketch stops emitting " +
       "pairs; the store equals a rebuild over the survivors") {
    val path = java.nio.file.Files.createTempDirectory("graft_del_sketch").toString
    Dedup.writeSketchStore(corpus, path, "text", "doc_id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // docs 1/2/4 are mutual near-dups; delete doc 4 — its pairs must vanish
    val before = norm(Dedup.minhashPairsFromStore(spark, path, threshold = 0.4))
    assert(before.exists(p => p._1 == 4L || p._2 == 4L))
    Dedup.deleteFromSketchStore(spark, path, Seq(4L).toDF("id"))
    val after = norm(Dedup.minhashPairsFromStore(spark, path, threshold = 0.4))
    assert(!after.exists(p => p._1 == 4L || p._2 == 4L))
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_del_sk2").toString
    Dedup.writeSketchStore(corpus.where(col("doc_id") =!= 4L), rebuilt,
      "text", "doc_id")
    assert(after == norm(Dedup.minhashPairsFromStore(spark, rebuilt,
      threshold = 0.4)) && after.nonEmpty)
    // the incremental path sees the survivor store: re-inserting the doc
    // as a NEW batch re-pairs it against survivors only
    val inc = Dedup.minhashPairsIncremental(spark, path,
        corpus.where(col("doc_id") === 4L), "text", "doc_id", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((1L, 4L), (2L, 4L)))
  }

  test("incremental pairs vs a sketch store equal the full run's new-touching pairs") {
    val path = java.nio.file.Files.createTempDirectory("graft_inc_store").toString
    // store holds docs 1-3; docs 4 (near-dup of 1/2) and 5 (fresh) arrive
    Dedup.writeSketchStore(corpus.where(col("doc_id") < 4), path, "text", "doc_id")
    val batch = corpus.where(col("doc_id") === 4).unionByName(
      Seq((5L, "entirely novel text about streaming watermarks and state"))
        .toDF("doc_id", "text"))
    val inc = Dedup.minhashPairsIncremental(spark, path, batch, "text", "doc_id",
        threshold = 0.4, appendToStore = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 4 || p._2 >= 4)
    assert(inc == full && inc.nonEmpty)
    // the append made the batch visible: a re-run of doc 4's twin now
    // pairs against 4 as well (store grew)
    val next = Dedup.minhashPairsIncremental(spark, path,
        Seq((6L, corpus.where(col("doc_id") === 1).head.getString(1)))
          .toDF("doc_id", "text"), "text", "doc_id", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(next.contains((4L, 6L)) && next.contains((1L, 6L)))
  }

  test("simhash hamming pairs find the planted near-dup") {
    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical → distance 0
    assert(pairs.contains((1L, 2L)))
  }

  test("exact jaccard matches hand-computed value") {
    val out = Dedup.jaccardPairs(corpus, "text", "doc_id", threshold = 0.1)
      .where(col("id_a") === 1 && col("id_b") === 2).head
    // distinct word sets intersect 10 / union 12; operator rounds to 4 places
    assert(math.abs(out.getDouble(2) - 0.8333) < 1e-9)
  }

  test("cosine pairs: identical vectors found, orthogonal not") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(vecs, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cosine pairs candidate reduction: identical output, vectors semi-joined") {
    val vecs = (0L until 200L).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)
      (i, if (i % 10 == 0) base.map(x => x + 0.01f) else base)
    }.toDF("vec_id", "embedding")
    val plain = Similarity.cosinePairs(vecs, 0.95, bands = 16, bitsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val reduced = Similarity.cosinePairs(vecs, 0.95, bands = 16, bitsPerBand = 2,
        reduceCandidates = true)
    val rSet = reduced.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rSet == plain && plain.nonEmpty)
    // the scale shape: the vector side is reduced by a semi-join before
    // the pair joins, so corpus vectors never cross the pair exchange
    val plan = reduced.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
  }

  test("clusters: transitive chains collapse to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters distributed path converges on deep chains (pointer jumping)") {
    val chain = (0L until 40L).sliding(2).map(s => (s.head, s(1))).toSeq
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(chain, maxIters = 15, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == 40)
    assert(out.forall(_._2 == 0L), out.filter(_._2 != 0L).take(3).mkString(","))
  }

  test("dedupCorpus keeps one canonical doc per near-dup cluster") {
    val out = Dedup.dedupCorpus(corpus, "text", "doc_id", threshold = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // docs 1,2,4 are one near-dup cluster (keep 1); doc 3 unrelated
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("zero vectors never rank in cosine top-k (NaN guard)") {
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (99L, Array(0.0, 0.0))) // degenerate zero vector
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0, 0.0))).toDF("query_id", "query_vec")
    val out = Similarity.bruteForceTopK(corpus, q, k = 2)
      .select("neighbor_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.head == (2L, 1)) // zero vector must not be rank 1 via NaN
  }

  test("brute-force topk ranks by cosine") {
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0, 0.0))).toDF("query_id", "query_vec")
    val out = Similarity.bruteForceTopK(corpus, q, k = 2)
      .select("neighbor_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq == Seq((2L, 1), (3L, 2)))
  }

  test("langid picks the language with most marker hits") {
    val df = Seq(
      (1, "the cat is on the mat and of course"),
      (2, "el gato es de la casa"),
      (3, "xyzzy plugh")).toDF("id", "text")
    val out = df.select(col("id"), TextStats.langId(col("text")))
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(out == Map(1 -> "en", 2 -> "es", 3 -> "und"))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  B\tc"), ("a b C")).toDF("text")
    val fps = df.select(TextStats.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("token entropy: repetition scores lower than diverse text") {
    val df = Seq((1, "spam spam spam spam"), (2, "four distinct little words"),
      (3, "")).toDF("id", "text")
    val e = TextStats.tokenEntropy(df, "text", "id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(e(1) == 0.0)     // single repeated token: H = 0
    assert(e(2) == 1.3863)  // 4 uniform tokens: ln(4) rounded to 4 places
    assert(!e.contains(3))  // empty text yields no row
  }

  test("int8 quantization: exact values; quantized cosine preserves ranking") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.5f, -1.0f, 0.26f)),   // near-twin of 1
      (3L, Seq(-0.9f, 0.1f, 0.8f))     // far
    ).toDF("vec_id", "embedding")
    val q = graft.pipeline.Similarity.quantize(df, "embedding")
    val v1 = q.where($"vec_id" === 1L).select("q_emb").as[Seq[Int]].head()
    assert(v1 == Seq(64, -127, 32)) // 63.5→64 (half-up), 31.75→32
    val probes = q.where($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"q_emb".as("query_vec"))
    val top = graft.pipeline.Similarity
      .bruteForceTopK(q, probes, 2, vecCol = "q_emb")
      .orderBy($"rank").select("neighbor_id").as[Long].collect().toSeq
    assert(top == Seq(2L, 3L))
  }

  test("unigram LM surprise: rare-token docs score higher; no row for empty") {
    val df = Seq((1, "a a a"), (2, "a b"), (3, "")).toDF("id", "text")
    // corpus: a×4, b×1, T=5 → nll(1) = ln(5/4) = 0.2231;
    // nll(2) = (ln(5/4) + ln(5)) / 2 = 0.9163
    val e = TextStats.unigramLogLoss(df, "text", "id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(e(1) == 0.2231)
    assert(e(2) == 0.9163)
    assert(!e.contains(3))
  }

  test("bigram NLL: conditional cross-entropy under the corpus bigram model") {
    val df = Seq((1, "a b a b"), (2, "a b"), (3, "x")).toDF("id", "text")
    // corpus bigrams: doc1 (a b)(b a)(a b), doc2 (a b) → C(a b)=3,
    // C(b a)=1; heads C(a ·)=3, C(b ·)=1.
    // nll(1) = -(ln(3/3) + ln(1/1) + ln(3/3))/3 = 0
    // nll(2) = -ln(3/3) = 0; doc3 has no bigram → absent
    val e = TextStats.bigramLogLoss(df, "text", "id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(e(1) == 0.0 && e(2) == 0.0 && !e.contains(3))
    // make the model discriminate: a rare continuation scores high
    val df2 = Seq((1, "a b"), (2, "a b"), (3, "a c")).toDF("id", "text")
    // C(a b)=2, C(a c)=1, C(a ·)=3: nll(3) = -ln(1/3) = 1.0986
    val e2 = TextStats.bigramLogLoss(df2, "text", "id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(e2(3) == 1.0986 && e2(1) == 0.4055) // -ln(2/3)
  }

  test("r12: bigram LM store — served NLL equals direct, appends merge " +
       "additively, unseen bigrams count as oov instead of faking a score") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram_lm").toString
    val a = Seq((1, "a b a b"), (2, "a b")).toDF("id", "text")
    val b = Seq((3, "a c"), (4, "x")).toDF("id", "text")
    val all = a.unionByName(b)
    // build(A) + append(B) must serve exactly like build(A ∪ B)
    TextStats.writeBigramLm(a, "text", s"$dir/lm")
    TextStats.appendBigramLm(b, "text", s"$dir/lm")
    val served = TextStats.bigramLogLossFromStore(all, "text", "id", s"$dir/lm")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = TextStats.bigramLogLoss(all, "text", "id")
      .collect().map(r => (r.getInt(0), r.getDouble(1), 0L)).toSet
    assert(served == direct, s"served=$served direct=$direct")
    assert(served.forall(_._3 == 0L)) // building corpus: nothing is oov
    // open vocabulary: 'a q' and 'q b' are not in the LM — excluded from
    // the average and counted, never scored with a made-up probability;
    // in-model bigrams still score (corpus: C(a b)=3, C(b a)=1, C(a c)=1
    // -> heads C(a ·)=4, C(b ·)=1)
    val novel = Seq((9, "a b"), (10, "a q"), (11, "q b a b"))
      .toDF("id", "text")
    val nine = TextStats.bigramLogLossFromStore(novel, "text", "id", s"$dir/lm")
      .collect().map(r => r.getInt(0) -> ((if (r.isNullAt(1)) None
        else Some(r.getDouble(1))), r.getLong(2))).toMap
    assert(nine(9) == ((Some(0.2877), 0L)))  // -ln(3/4)
    assert(nine(10) == ((None, 1L)))         // all bigrams oov -> null nll
    // 'q b' oov; scored half: -avg(ln(1/1), ln(3/4)) = 0.1438
    assert(nine(11) == ((Some(0.1438), 1L)))
  }

  test("r12: n-gram count store — served dup fraction equals direct, " +
       "appends merge additively, novel grams read as fresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ngram_store").toString
    val a = Seq((1, "the quick brown fox"), (2, "the quick brown cat"))
      .toDF("id", "text")
    val b = Seq((3, "one two"), (4, "a a a a")).toDF("id", "text")
    val all = a.unionByName(b)
    TextStats.writeNgramCounts(a, "text", 3, s"$dir/ng")
    TextStats.appendNgramCounts(b, "text", 3, s"$dir/ng")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val served = m(TextStats.dupNgramFractionFromStore(all, "text", "id", 3, s"$dir/ng"))
    val direct = m(TextStats.dupNgramFraction(all, "text", "id", 3))
    assert(served == direct, s"served=$served direct=$direct")
    // novel doc vs the stored corpus: 'the quick brown' is boilerplate
    // there (count 2); its unseen gram and its own internal repeat are NOT
    // self-flagging — duplication is measured against the store
    val novel = Seq((9, "the quick brown dog"), (10, "zz yy zz yy zz yy"))
      .toDF("id", "text")
    val o = m(TextStats.dupNgramFractionFromStore(novel, "text", "id", 3, s"$dir/ng"))
    assert(o == Set((9, 0.5, 2L), (10, 0.0, 4L)), o.toString)
  }

  test("r14: flat count-store appends are delta SEGMENTS — the base is " +
       "untouched (byte-identical files), serving sums base+deltas, " +
       "compaction folds and restores the single sorted table, and the " +
       "auto-compact threshold fires") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_store").toString
    val a = Seq((1, "the quick brown fox"), (2, "the quick brown cat"))
      .toDF("id", "text")
    val b = Seq((3, "one two"), (4, "a a a a")).toDF("id", "text")
    val all = a.unionByName(b)
    TextStats.writeNgramCounts(a, "text", 3, s"$dir/ng")
    def baseFiles() = new java.io.File(s"$dir/ng").listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    def deltaDirs() = new java.io.File(s"$dir/ng").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith(".delta_")).length
    val before = baseFiles()
    TextStats.appendNgramCounts(b, "text", 3, s"$dir/ng")
    // O(|batch|): the append wrote a delta segment, not a store rewrite
    assert(baseFiles() == before, "append must not rewrite the base")
    assert(deltaDirs() == 1, "append must land exactly one delta segment")
    def served() = TextStats.dupNgramFractionFromStore(all, "text", "id", 3, s"$dir/ng")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = TextStats.dupNgramFraction(all, "text", "id", 3)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(served() == direct, "base+delta serve must equal the full build")
    // compaction folds deltas into the sorted base; serve unchanged
    assert(Maintain.compactCountStore(spark, s"$dir/ng") == 1)
    assert(deltaDirs() == 0)
    assert(served() == direct, "post-compaction serve must be unchanged")
    assert(Maintain.compactCountStore(spark, s"$dir/ng") == 0) // idempotent
    // redelivery: a batch-named delta skips whole; after compaction the
    // re-stamped applied marker still skips it
    TextStats.appendNgramCounts(b.where(col("id") === 3), "text", 3,
      s"$dir/ng", batchId = Some(42L))
    val withDelta = served()
    TextStats.appendNgramCounts(b.where(col("id") === 3), "text", 3,
      s"$dir/ng", batchId = Some(42L))
    assert(deltaDirs() == 1 && served() == withDelta, "same-id replay must skip")
    Maintain.compactCountStore(spark, s"$dir/ng")
    TextStats.appendNgramCounts(b.where(col("id") === 3), "text", 3,
      s"$dir/ng", batchId = Some(42L))
    assert(deltaDirs() == 0 && served() == withDelta,
      "post-compaction replay of the youngest batch must still skip")
    // auto-compact: past graft.countstore.maxDeltas the fold runs inline
    spark.conf.set("graft.countstore.maxDeltas", "2")
    try {
      TextStats.appendNgramCounts(Seq((7, "p q r s")).toDF("id", "text"),
        "text", 3, s"$dir/ng")
      assert(deltaDirs() == 1)
      TextStats.appendNgramCounts(Seq((8, "s t u v")).toDF("id", "text"),
        "text", 3, s"$dir/ng")
      assert(deltaDirs() == 0, "threshold append must auto-compact")
    } finally spark.conf.unset("graft.countstore.maxDeltas")
  }

  test("r13: doc-KEYED count stores forget by key — delete docs, and the " +
       "served scores hash-equal a rebuild without them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_keyed_store").toString
    val keep = Seq((1, "the quick brown fox"), (2, "the quick brown cat"),
      (4, "a a a a a")).toDF("id", "text")
    val doomed = Seq((3, "the quick brown rat"), (5, "a a a b"))
      .toDF("id", "text")
    val all = keep.unionByName(doomed)
    // n-gram store: build keyed over everything, append-contract enforced
    TextStats.writeNgramCountsKeyed(all, "text", "id", 3, s"$dir/ng")
    val ex = intercept[IllegalArgumentException](
      TextStats.appendNgramCountsKeyed(
        Seq((3, "an edited doc here")).toDF("id", "text"),
        "text", "id", 3, s"$dir/ng"))
    assert(ex.getMessage.contains("insert-only"), ex.getMessage)
    // forget docs 3 and 5; serving the survivors must equal the direct
    // operator over the survivor corpus — the deleted docs' grams are GONE
    // (before: 'the quick brown' counted 3, so doc 3's deletion changes
    // nothing for 1/2... but 'a a a' counted 4 with doc 5's contribution)
    TextStats.subtractNgramCounts(spark, s"$dir/ng",
      Seq(3, 5).toDF("id"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        keep, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(keep, "text", "id", 3)))
    // idempotent under crash-and-retry: re-running the same sweep is a no-op
    TextStats.subtractNgramCounts(spark, s"$dir/ng", Seq(3, 5).toDF("id"))
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        keep, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(keep, "text", "id", 3)))
    // append after subtraction works (the edit path: subtract, then append)
    TextStats.appendNgramCountsKeyed(
      Seq((3, "the quick brown eel")).toDF("id", "text"),
      "text", "id", 3, s"$dir/ng")
    // r13: with a batchId the append is replay-CONVERGENT — redelivering
    // the identical batch (the ledger already holds its rows) is a no-op,
    // never the strict probe wedging on its own keys; an EDIT wearing the
    // replay's id still raises
    val b6 = Seq((6, "x y z")).toDF("id", "text")
    TextStats.appendNgramCountsKeyed(b6, "text", "id", 3, s"$dir/ng",
      batchId = Some(7L))
    val ledgerRows = spark.read.parquet(s"$dir/ng/bydoc").count()
    TextStats.appendNgramCountsKeyed(b6, "text", "id", 3, s"$dir/ng",
      batchId = Some(7L)) // exact self-replay: converges
    assert(spark.read.parquet(s"$dir/ng/bydoc").count() == ledgerRows)
    val er = intercept[IllegalArgumentException](
      TextStats.appendNgramCountsKeyed(
        Seq((6, "x y z w")).toDF("id", "text"),
        "text", "id", 3, s"$dir/ng", batchId = Some(7L)))
    assert(er.getMessage.contains("DIFFERENT counts"), er.getMessage)
    // r14 (ADVICE): identical content re-sent under a NEW batch id — a
    // checkpoint reset or caller re-submission — must also converge. The
    // pre-fix code skipped the ledger append (content converged) but
    // re-ran the agg merge (stamp != new id), silently double-counting
    // the delta: agg no longer equaled sum(ledger).
    TextStats.appendNgramCountsKeyed(b6, "text", "id", 3, s"$dir/ng",
      batchId = Some(8L))
    assert(spark.read.parquet(s"$dir/ng/bydoc").count() == ledgerRows)
    val aggFromLedger = spark.read.parquet(s"$dir/ng/bydoc")
      .groupBy("g").agg(sum("c").as("cg"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val aggServed = TextStats.readCountStore(spark, s"$dir/ng/agg", "g", "cg")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(aggServed == aggFromLedger,
      s"agg diverged from sum(ledger) after a new-id re-send: $aggServed vs $aggFromLedger")
    val re = keep.unionByName(Seq((3, "the quick brown eel")).toDF("id", "text"))
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        re, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(re, "text", "id", 3)))
    // bigram LM twin: same ledger discipline
    TextStats.writeBigramLmKeyed(all, "text", "id", s"$dir/lm")
    TextStats.subtractBigramLm(spark, s"$dir/lm", Seq(3, 5).toDF("id"))
    def lm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(lm(TextStats.bigramLogLossFromKeyedStore(
        keep, "text", "id", s"$dir/lm").select("id", "bigram_nll")) ==
      lm(TextStats.bigramLogLoss(keep, "text", "id")))
  }

  test("duplicate n-gram fraction: corpus-wide gram instances seen >= 2 times") {
    val df = Seq(
      (1, "the quick brown fox"), (2, "the quick brown cat"),
      (3, "one two"), (4, "a a a a")).toDF("id", "text")
    // 3-grams: doc1 {the quick brown, quick brown fox}, doc2 {the quick
    // brown, quick brown cat} — 'the quick brown' occurs twice corpus-wide
    // → frac 1/2 each; doc3 too short → absent; doc4 'a a a' ×2 → frac 1
    val o = TextStats.dupNgramFraction(df, "text", "id", 3)
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(o(1) == ((0.5, 2L)) && o(2) == ((0.5, 2L)))
    assert(o(4) == ((1.0, 2L)))
    assert(!o.contains(3))
  }

  test("tf-idf keywords: distinctive terms rank first, universal terms score 0") {
    val df = Seq(
      (1, "common rare rare"),
      (2, "common other"),
      (3, "common third")).toDF("id", "text")
    // 'common' in all 3 docs → idf 0; 'rare' c=2, idf ln(3)
    val kw = TextStats.keywords(df, "text", "id", 2)
      .collect().map(r => ((r.getInt(0), r.getInt(2)), (r.getString(1), r.getDouble(3))))
      .toMap
    assert(kw((1, 1))._1 == "rare")
    assert(kw((1, 1))._2 == 2.1972) // 2 * ln 3
    assert(kw((1, 2)) == ("common", 0.0))
    assert(kw((2, 1))._1 == "other")
  }

  test("gram repetition: top/dup fractions from the native one-pass expression") {
    val df = Seq(
      (1, "go go go go"),                 // bigrams: "go go" ×3 → top=dup=1
      (2, "a b c d"),                     // 3 distinct bigrams → top=1/3, dup=0
      (3, "x y x y x"),                   // "x y"×2, "y x"×2 → top=0.5, dup=1
      (4, "solo")).toDF("id", "text")     // 1 truncated window → top=1, dup=0
    val r = TextStats.repetitionMetrics(df, "text", "id", n = 2)
      .orderBy("id").collect()
      .map(x => (x.getInt(0), x.getDouble(1), x.getDouble(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1, 1.0, 1.0, 3L), (2, 0.3333, 0.0, 3L),
      (3, 0.5, 1.0, 4L), (4, 1.0, 0.0, 1L)))
  }

  test("gram repetition is a narrow projection and registered in SQL") {
    val df = Seq((1, "a b a b")).toDF("id", "text")
    val plan = TextStats.repetitionMetrics(df, "text", "id", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("rep_docs")
    val viaSql = spark.sql(
      """SELECT gram_repetition(filter(split(lower(trim(text)), '\\s+'),
           x -> length(x) > 0), 2).top_gram_frac AS f FROM rep_docs""")
      .collect().head.getDouble(0)
    assert(math.abs(viaSql - 2.0 / 3) < 1e-9)
  }

  // 8-token boilerplate run shared by docs 1 and 2 at positions 5..12;
  // doc 3 is clean; doc 4 repeats a 4-gram WITHIN itself; doc 5 is below
  // the window floor
  private def spanCorpus = Seq(
    (1L, "unique one text here subscribe to our newsletter for daily updates now tail words go"),
    (2L, "other document body starts subscribe to our newsletter for daily updates now different ending"),
    (3L, "totally unrelated content with no duplicated material at all"),
    (4L, "repeat me please ok repeat me please ok"),
    (5L, "tiny doc")).toDF("doc_id", "text")

  test("duplicate spans: cross-doc boilerplate merges to one maximal span") {
    val spans = Dedup.duplicateSpans(spanCorpus, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // docs 1/2: boilerplate tokens 5..12, five duplicated 4-windows merged;
    // doc 4: "repeat me please ok" at 1 and 5 — adjacent windows merge to
    // one span covering the whole doc; docs 3/5: nothing
    assert(spans.toSeq == Seq(
      (1L, 5, 12, 8, 5L), (2L, 5, 12, 8, 5L), (4L, 1, 8, 8, 2L)))
  }

  test("duplicate spans: minCount above the occurrence count finds nothing") {
    assert(Dedup.duplicateSpans(spanCorpus, "text", "doc_id",
      n = 4, minCount = 3).count() == 0)
  }

  test("remove duplicate spans drops exactly the span tokens, others pass through") {
    val out = Dedup.removeDuplicateSpans(spanCorpus, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1L, "unique one text here tail words go", 7, 8),
      (2L, "other document body starts different ending", 6, 8),
      (3L, "totally unrelated content with no duplicated material at all", 9, 0),
      (4L, "", 0, 8),
      (5L, "tiny doc", 2, 0)))
  }

  test("gram_hashes: positional, empty below floor, registered in SQL") {
    GraftExtensions.register(spark)
    val df = Seq((1, "a b a b a"), (2, "x")).toDF("id", "text")
    df.createOrReplaceTempView("gh_docs")
    val rows = spark.sql(
      """SELECT id, gram_hashes(filter(split(lower(trim(text)), '\\s+'),
           x -> length(x) > 0), 2) AS gh FROM gh_docs ORDER BY id""")
      .collect()
    val gh1 = rows(0).getSeq[Long](1)
    assert(gh1.length == 4) // positions 1..4
    assert(gh1(0) == gh1(2) && gh1(1) == gh1(3)) // "a b" repeats at 1,3
    assert(gh1(0) != gh1(1))
    assert(rows(1).getSeq[Long](1).isEmpty) // shorter than n
  }

  test("chunking: strided windows with overlap, trailing repeat dropped") {
    val df = Seq((1, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    // 4-token chunks, overlap 2 → stride 2: starts 1,3,5,7 (9 dropped:
    // its fresh part 11,12 is beyond n=10)
    val out = TextStats.chunk(df, "text", "id", chunkTokens = 4, overlap = 2)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (0, "t1 t2 t3 t4", 4), (1, "t3 t4 t5 t6", 4),
      (2, "t5 t6 t7 t8", 4), (3, "t7 t8 t9 t10", 4)))
    // no overlap: partial final chunk survives
    val plain = TextStats.chunk(df, "text", "id", chunkTokens = 4)
      .orderBy("chunk_idx").collect().map(r => (r.getString(2), r.getInt(3)))
    assert(plain.toSeq == Seq(("t1 t2 t3 t4", 4), ("t5 t6 t7 t8", 4), ("t9 t10", 2)))
  }

  test("vocabulary: top-k by frequency with alphabetical tiebreak") {
    val df = Seq((1, "b b a a c")).toDF("id", "text")
    val v = TextStats.vocabulary(df, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq == Seq(("a", 2L), ("b", 2L))) // tie broken alphabetically
  }

  test("exact cosine pairs find all pairs over threshold, id_a < id_b") {
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosinePairsExact(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L))) // only the near-parallel pair passes 0.5
  }

  test("bloomNewContent: exact new set; normalization-equal dups drop") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("id", "text")
    val incoming = Seq(
      (10L, "alpha beta"),    // exact content dup
      (11L, "ALPHA   beta "), // dup after fingerprint normalization
      (12L, "epsilon zeta"))  // genuinely new
      .toDF("id", "text")
    val out = Dedup.bloomNewContent(corpus, incoming, "text", "id",
        expectedItems = 100L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(12L))
    // empty corpus: the sketch admits nothing, everything is new
    val empty = corpus.limit(0)
    assert(Dedup.bloomNewContent(empty, incoming, "text", "id", 100L)
      .count() == 3)
  }

  test("semanticDedup: within-cluster keep-lowest-id, clusters never mix") {
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),   // cluster 0 keeper
      (2L, 0, Seq(0.99f, 0.1f)),  // near-parallel to 1 → dup of 1
      (3L, 0, Seq(0.0f, 1.0f)),   // orthogonal → kept
      (4L, 1, Seq(1.0f, 0.0f)),   // identical direction to 1 but OTHER cluster
      (5L, 1, Seq(0.98f, 0.05f))) // dup of 4 within cluster 1
      .toDF("vec_id", "cl", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", "cl", 0.9)
      .select("vec_id", "dup_of", "is_dup")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, -1L, false), (2L, 1L, true), (3L, -1L, false),
      (4L, -1L, false), (5L, 4L, true)))
  }

  test("editDistancePairs: catches typos/transpositions across bucket " +
       "edges, respects maxDist, never double-counts") {
    // bucketWidth 4: "abcd" (len 4 → bucket 1) vs "abc" (len 3 → bucket 0)
    // is a cross-edge pair; smaller id in the HIGHER bucket
    val docs = Seq(
      (1L, "abcd"),         // bucket 1
      (2L, "abc"),          // bucket 0, dist 1 to doc 1
      (3L, "abdc"),         // transposition of 1: dist 2
      (4L, "zzzzzzzzzzzz"), // far from everything
      (5L, "abcd"))         // exact dup of 1: dist 0
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "text", "doc_id",
        maxDist = 2, bucketWidth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out == Map((1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 5L) -> 0,
      (2L, 3L) -> 1, (3L, 5L) -> 2, (2L, 5L) -> 1), out.toString)
    // each pair appears exactly once (the Map build would mask dupes —
    // count the raw rows)
    assert(Dedup.editDistancePairs(docs, "text", "doc_id", 2, 4).count() == 6)
    // gate: bucketWidth must exceed maxDist
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(docs, "text", "doc_id", maxDist = 5,
        bucketWidth = 4))
  }

  test("r11: char_hist L1 bound is a sound edit-distance prefilter — " +
       "L1 <= 2*dist for random edit chains, and editDistancePairs " +
       "output matches a brute-force all-pairs reference") {
    import graft.functions.TextSketchFunctions.{char_hist, hist_l1}
    // property: apply k random edits, the histogram L1 never exceeds 2k
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefghij xyz"
    def edit(s: String): String = {
      val sb = new StringBuilder(s)
      rnd.nextInt(3) match {
        case 0 if sb.nonEmpty => sb.deleteCharAt(rnd.nextInt(sb.length)).toString
        case 1 => sb.insert(rnd.nextInt(sb.length + 1),
          alphabet(rnd.nextInt(alphabet.length))).toString
        case _ if sb.nonEmpty =>
          sb.setCharAt(rnd.nextInt(sb.length), alphabet(rnd.nextInt(alphabet.length)))
          sb.toString
        case _ => sb.toString
      }
    }
    val cases = (1 to 30).map { i =>
      val a = (1 to 20 + rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val k = 1 + rnd.nextInt(5)
      val b = (1 to k).foldLeft(a)((s, _) => edit(s))
      (a, b, k)
    }
    val checked = cases.toDF("a", "b", "k")
      .select(hist_l1(char_hist(col("a")), char_hist(col("b"))).as("l1"), col("k"))
      .collect()
    checked.foreach(r => assert(r.getInt(0) <= 2 * r.getInt(1),
      s"L1 ${r.getInt(0)} > 2*${r.getInt(1)}"))
    // end-to-end: filtered candidate generation loses no pair vs brute force
    val corpus = (1L to 60L).map { i =>
      val base = (1 to 40).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      (i, if (i % 3 == 0) edit(edit(base)) else base)
    }.toDF("doc_id", "text")
    val fast = Dedup.editDistancePairs(corpus, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      d = {
        // full Levenshtein reference
        val m = Array.tabulate(ta.length + 1, tb.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to ta.length; j <- 1 to tb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (ta(i - 1) == tb(j - 1)) 0 else 1))
        m(ta.length)(tb.length)
      } if d <= 3
    } yield (ia, ib, d)).toSet
    assert(fast == brute, s"fast-brute=${fast -- brute} brute-fast=${brute -- fast}")
  }

  test("graft.lsh.maxBucket: opt-in cap excludes degenerate buckets from " +
       "candidate generation; other pairs and the diagnostic survive") {
    val boiler = "identical boilerplate text repeated across the whole crawl"
    val docs = ((1 to 40).map(i => (i.toLong, boiler)) ++ Seq(
      (100L, "a genuinely unique document about spark execution engines"),
      (101L, "a genuinely unique document about spark execution engines today")))
      .toDF("doc_id", "text")
    val base = Dedup.minhashPairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.contains((100L, 101L)))
    assert(base.count(p => p._1 < 100L) == 40 * 39 / 2) // boilerplate pairs
    // diagnostic first: the degenerate bucket is visible before capping
    val worst = Dedup.lshBucketStats(docs, "text", "doc_id")
      .agg(max(col("docs"))).head.getLong(0)
    assert(worst >= 40L, s"expected a 40-doc bucket, worst=$worst")
    spark.conf.set("graft.lsh.maxBucket", "10")
    try {
      val capped = Dedup.minhashPairs(docs, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == Set((100L, 101L)), capped.toString) // boilerplate gone
    } finally spark.conf.unset("graft.lsh.maxBucket")
    // off by default: unset conf reproduces the full pair set
    val again = Dedup.minhashPairs(docs, "text", "doc_id").count()
    assert(again == base.size)
  }

  test("r11: LSH degeneracy auto-warns — hot ids observed in-plan on the " +
       "boilerplate corpus, silent on a clean one") {
    val boiler = "identical boilerplate text repeated across the whole crawl"
    val docs = ((1 to 40).map(i => (i.toLong, boiler)) ++ Seq(
      (100L, "a genuinely unique document about spark execution engines"),
      (101L, "a genuinely unique document about spark execution engines today")))
      .toDF("doc_id", "text")
    graft.pipeline.Skew.clearHotObservations()
    // low threshold so the 40-doc boilerplate class counts as hot (each of
    // its ids rides 39 pairs x band collisions in the candidate frame)
    spark.conf.set("graft.skew.saltAt", "10")
    try {
      Dedup.minhashPairs(docs, "text", "doc_id").count()
      org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
      val obs = graft.pipeline.Skew.recentHotObservations
      assert(obs.nonEmpty, "expected a degeneracy observation")
      val (hotIds, maxPairs, hotAt) = obs.last
      assert(hotIds >= 40L && maxPairs > 10L && hotAt == 10L,
        s"hotIds=$hotIds maxPairs=$maxPairs hotAt=$hotAt")
    } finally spark.conf.unset("graft.skew.saltAt")
    // clean corpus at the default threshold: no observation, no warning
    graft.pipeline.Skew.clearHotObservations()
    val clean = Seq(
      (1L, "a genuinely unique document about spark execution engines"),
      (2L, "a genuinely unique document about spark execution engines today"))
      .toDF("doc_id", "text")
    Dedup.minhashPairs(clean, "text", "doc_id").count()
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    assert(graft.pipeline.Skew.recentHotObservations.isEmpty)
  }

  test("r12: semanticDedup escapes quadratic mega-clusters — LSH candidates " +
       "+ salted exact verify, output equal to the exact path") {
    // one mega cluster: 40 groups x 3 identical vectors, one 30-wide
    // boilerplate group (its ids ride 29 pairs each -> hot under
    // saltAt=10), 150 distinct singles; plus a small cluster that must
    // keep riding the exact path alongside
    val rnd = new scala.util.Random(42)
    val dim = 32
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val groups = (0 until 40).flatMap { _ => val v = vec(); Seq.fill(3)(v) }
    val boiler = { val v = vec(); Seq.fill(30)(v) }
    val singles = Seq.fill(150)(vec())
    val mega = (groups ++ boiler ++ singles).zipWithIndex.map {
      case (v, i) => (i.toLong + 1L, 0, v)
    }
    val smallCl = Seq((9001L, 1, Seq.fill(dim)(1.0f)),
      (9002L, 1, Seq.fill(dim)(1.0f)))
    val df = (mega ++ smallCl).toDF("vec_id", "cl", "embedding")

    def run() = Dedup.semanticDedup(df, "vec_id", "embedding", "cl", 0.9)
      .select("vec_id", "dup_of", "is_dup").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSet

    graft.pipeline.Skew.clearHotObservations()
    spark.conf.set("graft.semdedup.escapeAt", "64")
    spark.conf.set("graft.skew.saltAt", "10")
    val escaped = try run() finally {
      spark.conf.unset("graft.semdedup.escapeAt")
      spark.conf.unset("graft.skew.saltAt")
    }
    val exact = run() // default escapeAt 1024 > 302 rows -> all-exact path
    assert(escaped == exact,
      s"escape path diverged: only-escaped=${(escaped -- exact).take(5)} " +
        s"only-exact=${(exact -- escaped).take(5)}")
    assert(exact.count(_._3) >= 80 + 29, "planted dups not found") // sanity
    // the escape engaged the salting machinery: the boilerplate ids are
    // hot in the candidate-pair frame, observed in-plan, and spread
    // across salt reducers instead of straggling one task
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    val obs = graft.pipeline.Skew.recentHotObservations
    assert(obs.nonEmpty, "expected a hot-id observation from the escape path")
    assert(obs.last._1 >= 30L && obs.last._2 > 10L,
      s"hotIds=${obs.last._1} maxPairs=${obs.last._2}")
    // candidate volume tracks bucket collisions, not cluster^2
    val big = df.where(col("cl") === 0).select(col("vec_id").as("id"),
      col("cl"), col("embedding").cast("array<double>").as("v"))
    val n = mega.size.toLong
    val cands = Dedup.semanticLshCandidates(big, spark).count()
    assert(cands < n * (n - 1) / 2 / 5,
      s"candidates $cands vs all-pairs ${n * (n - 1) / 2}")
  }

  test("r12: the escape is RECALL-GATED — at a low threshold semanticDedup " +
       "keeps the exact path even above escapeAt, never silently lossy") {
    // analytic banded-RHP recall at the threshold: sound in the SemDeDup
    // regime, hopeless at 0.3 (a 0.3-cosine pair is barely outside the
    // random-pair distribution — banding can't separate it from background)
    assert(Dedup.lshEscapeRecall(1.0, 16, 8) == 1.0)
    assert(Dedup.lshEscapeRecall(0.95, 16, 8) > 0.999)
    assert(Dedup.lshEscapeRecall(0.9, 16, 8) > 0.99)
    assert(Dedup.lshEscapeRecall(0.3, 16, 8) < 0.5)
    // one over-gate cluster whose qualifying pairs live at cos ≈ 0.45 —
    // exactly the regime the banding would drop ~3/4 of. A hub vector
    // rides ~30 pairs, so IF the salted escape engaged at saltAt=1 it
    // would record a hot-id observation; the gate must refuse instead.
    val rnd = new scala.util.Random(7)
    val dim = 32
    def vec(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val hub = vec()
    val spokes = (0 until 30).map { _ =>
      val u = vec(); hub.zip(u).map { case (x, y) => 0.45 * x + 0.9 * y }
    }
    val singles = Seq.fill(100)(vec())
    val rows = (Seq(hub) ++ spokes ++ singles).zipWithIndex.map {
      case (v, i) => (i.toLong + 1L, 0, v)
    }
    val df = rows.toDF("vec_id", "cl", "embedding")
    def run() = Dedup.semanticDedup(df, "vec_id", "embedding", "cl", 0.3)
      .select("vec_id", "dup_of", "is_dup").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSet
    graft.pipeline.Skew.clearHotObservations()
    spark.conf.set("graft.semdedup.escapeAt", "8")
    spark.conf.set("graft.skew.saltAt", "1")
    val gated = try run() finally {
      spark.conf.unset("graft.semdedup.escapeAt")
      spark.conf.unset("graft.skew.saltAt")
    }
    val exact = run() // default escapeAt 1024 > 131 rows -> exact by size
    assert(gated == exact,
      s"recall gate diverged: only-gated=${(gated -- exact).take(5)} " +
        s"only-exact=${(exact -- gated).take(5)}")
    assert(exact.count(_._3) >= 20, "planted moderate-cosine dups not found")
    // structural proof the LSH escape never ran: at saltAt=1 the hub id is
    // hot in any candidate-pair frame, so an engaged escape would have
    // recorded an observation
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    assert(graft.pipeline.Skew.recentHotObservations.isEmpty,
      "salted escape machinery engaged despite the recall gate")
  }

  test("r13: the analytic recall gate is a GAUSSIAN expectation the " +
       "Rademacher sign matrix can miss — the empirical spot-check " +
       "catches it and refuses the escape") {
    // 2-d corpus: the ±1 hyperplane family has exactly two distinct
    // directions, so every (1,-1)-type bit separates 40° from 50°
    // vectors deterministically — pairs straddling 45° almost never
    // share a band, while the formula (blind to the geometry) says
    // recall 0.996 at cos 0.9
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val rows = ((1 to 10).map(i => (i.toLong, 0, at(40.0))) ++
      (11 to 20).map(i => (i.toLong, 0, at(50.0))))
    val df = rows.toDF("vec_id", "cl", "embedding")
    val base = df.select(col("vec_id").as("id"), col("cl"),
      col("embedding").cast("array<double>").as("v"))
    val analytic = Dedup.lshEscapeRecall(0.9, 16, 8)
    assert(analytic > 0.99, analytic.toString)
    // all 190 pairs qualify (within-group cos 1.0, cross-group cos 10° =
    // 0.985 ≥ 0.9); the 100 straddling pairs are the ones banding loses
    val measured = Dedup.empiricalLshRecall(base, 0.9, 16, 8, 100)
    assert(measured.isDefined)
    assert(measured.get < 0.9,
      s"2-d Rademacher degeneracy not caught: measured=$measured")
    // no qualifying pairs in the sample -> None, analytic fallback
    assert(Dedup.empiricalLshRecall(base.where(col("id") <= 1),
      0.9, 16, 8, 100).isEmpty)

    def run() = Dedup.semanticDedup(df, "vec_id", "embedding", "cl", 0.9)
      .select("vec_id", "dup_of", "is_dup").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSet
    val exact = run() // default escapeAt 1024 > 20 rows -> exact path
    // vec 11's only lower-id neighbors are the 40° group: an UNGATED
    // escape loses that pair (dup_of(11)=1 in truth)
    assert(exact.contains((11L, 1L, true)), exact.toString)
    spark.conf.set("graft.semdedup.escapeAt", "8")
    graft.pipeline.Skew.clearHotObservations()
    val unGated = try run() finally ()
    assert(unGated != exact && !unGated.contains((11L, 1L, true)),
      "expected the Gaussian-formula-approved escape to lose straddling " +
        "pairs on this corpus — if this starts passing, the sign matrix " +
        "changed and this spec needs a new adversarial construction")
    // with the spot-check conf, the measured recall gates the escape off:
    // output exact, and the salted escape machinery never engages
    spark.conf.set("graft.semdedup.recallSample", "100")
    spark.conf.set("graft.skew.saltAt", "1")
    graft.pipeline.Skew.clearHotObservations()
    val gated = try run() finally {
      spark.conf.unset("graft.semdedup.escapeAt")
      spark.conf.unset("graft.semdedup.recallSample")
      spark.conf.unset("graft.skew.saltAt")
    }
    assert(gated == exact,
      s"measured-recall gate diverged: only-gated=${(gated -- exact).take(5)} " +
        s"only-exact=${(exact -- gated).take(5)}")
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    assert(graft.pipeline.Skew.recentHotObservations.isEmpty,
      "salted escape machinery engaged despite the measured-recall gate")
  }

  test("r13: the semantic escape's bucket cap counts within (cluster, " +
       "band, bucket) on its own conf — never the MinHash text knob, " +
       "never cross-cluster populations") {
    // two clusters, each holding 2 copies of the SAME vector: the old
    // capBuckets counted the (band, bucket) cell ACROSS clusters (pop 4),
    // so a cap of 3 — meant per join key — dropped both within-cluster
    // pairs the join could actually form
    val v = Seq.fill(16)(1.0)
    val df = Seq((1L, 0, v), (2L, 0, v), (11L, 1, v), (12L, 1, v))
      .toDF("vec_id", "cl", "embedding")
    val big = df.select(col("vec_id").as("id"), col("cl"),
      col("embedding").cast("array<double>").as("v"))
    def cands() = Dedup.semanticLshCandidates(big, spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = cands()
    assert(baseline == Set((2L, 1L), (12L, 11L)), baseline.toString)
    // the text-dedup knob must not reach the semantic escape
    spark.conf.set("graft.lsh.maxBucket", "1")
    val withTextKnob = try cands()
      finally spark.conf.unset("graft.lsh.maxBucket")
    assert(withTextKnob == baseline,
      "graft.lsh.maxBucket leaked into the semantic escape")
    // the dedicated knob counts within-cluster: pop 2 per (cl, band,
    // bucket) cell, so a cap of 3 keeps everything (cross-cluster
    // counting would see 4 and drop both pairs)
    spark.conf.set("graft.semdedup.maxBucket", "3")
    val within = try cands()
      finally spark.conf.unset("graft.semdedup.maxBucket")
    assert(within == baseline, "cap counted across clusters")
    // and an explicit cap of 1 empties every cell — the opt-in trade
    spark.conf.set("graft.semdedup.maxBucket", "1")
    val capped = try cands()
      finally spark.conf.unset("graft.semdedup.maxBucket")
    assert(capped.isEmpty, capped.toString)
  }

  test("r15: a bucketed-ledger delete sweep rewrites ONLY the deleted " +
       "ids' buckets; the agg correction is an atomic sweep-named delta " +
       "segment; serving equals a rebuild over the survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val docs = (1 to 40).map(i => (i, s"tok$i the quick brown fox tok$i"))
      .toDF("id", "text")
    TextStats.writeNgramCountsKeyed(docs, "text", "id", 3, s"$dir/ng")
    val bydoc = new java.io.File(s"$dir/ng/bydoc")
    assert(new java.io.File(bydoc, "_graft_buckets").exists,
      "bucketed layout must stamp its bucket count")
    def bucketState(): Map[String, Seq[(String, Long, Long)]] =
      bydoc.listFiles.filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles.toSeq
          .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1))
        .toMap
    val before = bucketState()
    assert(before.size > 1, s"test corpus must span several buckets: $before")
    val doomed = Seq(3, 17).toDF("id")
    // which buckets the sweep MAY touch, derived exactly as the sweep does
    // (the bucket count comes from the store's own stamp, not the conf)
    val nb = {
      val src = scala.io.Source.fromFile(s"$dir/ng/bydoc/_graft_buckets")
      try src.mkString.trim.toLong finally src.close()
    }
    val touched = doomed
      .select(pmod(xxhash64(col("id")), lit(nb)).cast("int")).distinct()
      .collect().map(r => s"bucket=${r.getInt(0)}").toSet
    TextStats.subtractNgramCounts(spark, s"$dir/ng", doomed)
    val after = bucketState()
    val untouched = before.keySet -- touched
    untouched.foreach { b =>
      assert(after(b) == before(b),
        s"untouched $b was rewritten by the sweep (files before=${before(b)} after=${after(b)})")
    }
    // the agg correction landed as a sweep-named negative delta segment —
    // never a full agg rebuild
    val aggDeltas = new java.io.File(s"$dir/ng/agg").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith(".delta_s"))
    assert(aggDeltas.length == 1, aggDeltas.mkString(","))
    // served scores equal the direct operator on the survivor corpus
    val keep = docs.where(!col("id").isin(3, 17))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        keep, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(keep, "text", "id", 3)))
    // replaying the same sweep is a no-op: the sweep-named segment is the
    // applied marker, and the clean ledger nets an empty correction
    TextStats.subtractNgramCounts(spark, s"$dir/ng", doomed)
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        keep, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(keep, "text", "id", 3)))
    // compaction folds the negative segment away and restores the flat base
    graft.Maintain.compactCountStore(spark, s"$dir/ng/agg")
    assert(!new java.io.File(s"$dir/ng/agg").listFiles
      .exists(_.getName.startsWith(".delta_")), "compaction must fold deltas")
    assert(m(TextStats.dupNgramFractionFromKeyedStore(
        keep, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(keep, "text", "id", 3)))
  }

  private def keyedServesLive(dir: String, live: org.apache.spark.sql.DataFrame): Unit = {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(m(TextStats.dupNgramFractionFromKeyedStore(live, "text", "id", 3, s"$dir/ng")) ==
      m(TextStats.dupNgramFraction(live, "text", "id", 3)))
  }

  // doc 3 shares its first gram with doc 4 only, so whether doc 3 still
  // counts shows in doc 4's served score
  private def sharedGramDocs = Seq((1, "the quick brown fox one"),
    (2, "the quick brown fox two"), (3, "red green blue three"),
    (4, "red green blue four"), (5, "lorem ipsum dolor five"),
    (6, "red green blue six")).toDF("id", "text")

  test("keyed ledger: subtract → re-append the same ids → subtract serves " +
       "exactly the live docs (the sweep id is salted by the store generation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resweep").toString
    val docs = sharedGramDocs
    TextStats.writeNgramCountsKeyed(docs, "text", "id", 3, s"$dir/ng")
    val doomed = Seq(3, 6).toDF("id")
    TextStats.subtractNgramCounts(spark, s"$dir/ng", doomed)
    TextStats.appendNgramCountsKeyed(docs.where(col("id").isin(3, 6)),
      "text", "id", 3, s"$dir/ng")
    keyedServesLive(dir, docs)
    TextStats.subtractNgramCounts(spark, s"$dir/ng", doomed)
    keyedServesLive(dir, docs.where(!col("id").isin(3, 6)))
  }

  test("keyed ledger files are (doc_id, gram)-sorted after a build, an " +
       "append and a delete sweep") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_order").toString
    // ids out of row order, so a file in write order is not sorted by chance
    val docs = (0 until 300).map(i => ((i * 37) % 300,
      s"w${i % 11} w${i % 7} w${i % 5} w${i % 3} w${i % 13}")).toDF("id", "text")
    def assertSorted(): Unit = SparkSpecBase.dataFiles(s"$dir/ng/bydoc").foreach { f =>
      assert(SparkSpecBase.ascending(SparkSpecBase.fileRows(f, "doc_id", "g"),
        numeric = Set(0)), s"${f.getPath} is not (doc_id, g)-sorted")
    }
    TextStats.writeNgramCountsKeyed(docs.where(col("id") < 200), "text", "id", 3,
      s"$dir/ng")
    assertSorted()
    TextStats.appendNgramCountsKeyed(docs.where(col("id") >= 200), "text", "id", 3,
      s"$dir/ng")
    assertSorted()
    TextStats.subtractNgramCounts(spark, s"$dir/ng", (0 until 300 by 4).toDF("id"))
    assertSorted()
    keyedServesLive(dir, docs.where(col("id") % 4 =!= 0))
  }

  test("keyed ledger: LongType delete ids (spark.range) against an " +
       "Int-keyed ledger really remove the docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idtype").toString
    val docs = sharedGramDocs
    TextStats.writeNgramCountsKeyed(docs, "text", "id", 3, s"$dir/ng")
    TextStats.subtractNgramCounts(spark, s"$dir/ng", spark.range(2, 5).toDF("id"))
    assert(spark.read.parquet(s"$dir/ng/bydoc").where(col("doc_id").isin(2, 3, 4))
      .count() == 0, "the deleted docs' ledger rows survived the sweep")
    keyedServesLive(dir, docs.where(!col("id").isin(2, 3, 4)))
    // a ledger without its bucket stamp is refused, never swept blind
    assert(new java.io.File(s"$dir/ng/bydoc/_graft_buckets").delete())
    intercept[IllegalArgumentException](
      TextStats.subtractNgramCounts(spark, s"$dir/ng", Seq(1).toDF("id")))
  }
}
