package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** BPE tokenizer induction — the tokenizer-training face of the
  * training-data pipeline (Sennrich et al. 2016's corpus algorithm,
  * greedy variant). Learns merge rules from corpus statistics; encoding
  * applies them back. Deterministic: ties in pair frequency break
  * lexicographically.
  *
  * 100 TB shape: ONE distributed corpus pass builds the WORD TABLE
  * (distinct words + frequencies — Zipf-small next to the corpus, and
  * capped at `maxWords` by frequency, the standard min-frequency floor
  * every production BPE trainer applies). The merge loop then runs on
  * that bounded table DRIVER-SIDE with incremental pair counts and a
  * lazy-deletion heap — the structure of the reference fast trainers —
  * so training is TWO Spark jobs total (word count + nothing else)
  * regardless of `numMerges`, instead of the 2-jobs-per-merge round
  * trip of the first implementation. The driver holds only the capped
  * word table (≤ maxWords rows) and the learned rules.
  */
object Bpe {

  /** Bound on the vocabulary [[encodeToIds]] collects to the driver: the
    * distinct post-encode tokens, at most alphabet + merges. */
  private val MaxVocab = 1 << 20

  /** Learn `numMerges` merge rules. Returns (rank, left, right, merged,
    * pair_count) — rank 1 is the first (most frequent) merge; pair_count
    * is the word-frequency-weighted occurrence count at learn time.
    *
    * `maxWords` caps the word table collected to the driver (top-N by
    * frequency, then word — deterministic). Words below the cap are
    * ignored for training, the standard frequency floor: at any corpus
    * size the driver state stays bounded while the learned merges are
    * statistically indistinguishable (rare tails don't move pair argmax).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 1 << 20): DataFrame = {
    require(numMerges >= 1 && numMerges <= 100000,
      s"numMerges must be in [1, 100000], got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val spark = df.sparkSession
    import spark.implicits._
    // the one distributed pass: word frequencies, frequency-capped
    val wordRows: Array[(String, Long)] = Spread.scanFloor(df, col(textCol))
      .select(explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        x => length(x) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")).limit(maxWords)
      .as[(String, Long)].collect()
    // the cap is a declared approximation — when it actually bites, say so
    // loudly (training then ran on a truncated vocabulary and learned
    // merges can diverge from an exact trainer on the rare tail)
    if (wordRows.length == maxWords)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"BPE training vocabulary truncated: distinct-word count reached " +
          s"maxWords=$maxWords (frequency floor applied); raise maxWords " +
          "for exact-tail merges")

    // driver-side classic greedy trainer: exact Sennrich semantics (pick
    // the (count desc, left asc, right asc) argmax, greedy left-to-right
    // non-overlapping rewrite), with incremental pair counts + a
    // lazy-deletion max-heap so each merge touches only the words that
    // contain its pair.
    val words = new Array[Array[String]](wordRows.length)
    val freq = new Array[Long](wordRows.length)
    var wi = 0
    while (wi < wordRows.length) {
      val w = wordRows(wi)._1
      val buf = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        val n = Character.charCount(cp)
        buf += w.substring(ci, ci + n)
        ci += n
      }
      words(wi) = buf.toArray
      freq(wi) = wordRows(wi)._2
      wi += 1
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    // max-heap: highest count first, then lexicographically smallest pair
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = b._2.compareTo(a._2)
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)

    def bump(pair: (String, String), delta: Long, word: Int): Unit = {
      val next = counts.getOrElse(pair, 0L) + delta
      if (next <= 0L) counts.remove(pair)
      else {
        counts(pair) = next
        heap.enqueue((next, pair._1, pair._2))
      }
      if (delta > 0)
        occurs.getOrElseUpdate(pair, scala.collection.mutable.BitSet.empty) += word
    }
    wi = 0
    while (wi < words.length) {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) { bump((s(i), s(i + 1)), freq(wi), wi); i += 1 }
      wi += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 1
    while (rank <= numMerges && heap.nonEmpty) {
      // lazy deletion: pop until the entry matches the live count
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (counts.getOrElse((cand._2, cand._3), 0L) == cand._1) top = cand
      }
      if (top != null) {
        val (c, l, r) = (top._1, top._2, top._3)
        val m = l + r
        merges += ((rank, l, r, m, c))
        val hit = occurs.getOrElse((l, r), scala.collection.mutable.BitSet.empty)
        occurs.remove((l, r))
        hit.foreach { w =>
          val s = words(w)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            if (s(i) == l && s(i + 1) == r) has = true
            i += 1
          }
          if (has) { // occurs entries can be stale — verify before rewriting
            i = 0
            while (i < s.length - 1) { bump((s(i), s(i + 1)), -freq(w), w); i += 1 }
            val out = new Array[String](s.length)
            var o = 0
            i = 0
            while (i < s.length) {
              if (o > 0 && out(o - 1) == l && s(i) == r) out(o - 1) = m
              else { out(o) = s(i); o += 1 }
              i += 1
            }
            val ns = java.util.Arrays.copyOf(out, o)
            words(w) = ns
            i = 0
            while (i < ns.length - 1) { bump((ns(i), ns(i + 1)), freq(w), w); i += 1 }
          }
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Encode text with a learned merge list: per word, apply every merge
    * in rank order (the BPE encode rule) inside ONE native expression
    * holding the whole rule table ([[graft.functions.BpeEncode]] — a
    * tight loop per row, not a rule-count-deep fold tree). Returns
    * (original word, final symbol array) per distinct word — join it
    * back to token streams as needed. `merges` is collected to the
    * driver (numMerges rows). */
  def encode(df: DataFrame, textCol: String, merges: DataFrame): DataFrame = {
    val rules = merges.select("rank", "left", "right")
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = Spread.scanFloor(df, col(textCol))
      .select(explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        x => length(x) > 0)).as("w"))
      .distinct()
    words.select(col("w"),
      graft.functions.BpeOps.bpeEncode(col("w"), rules).as("tokens"))
  }

  /** Materialize a trained tokenizer — [[encodeToIds]]'s store twin.
    * Training is the corpus pass; encoding is per-doc work that should
    * never pay it again. Writes two vocabulary-bounded tables under
    * `path`: `merges` (rank, left, right, merged, pair_count) and
    * `vocab` (tok, tid — the same sorted-token ranks [[encodeToIds]]
    * assigns, so serving from the store is id-for-id identical on the
    * training corpus). No append variant: merge rules are a global
    * frequency argmax, not additive facts — vocabulary drift means
    * RETRAIN, exactly as production tokenizers are versioned. */
  def writeTokenizer(df: DataFrame, textCol: String, numMerges: Int,
                     path: String, maxWords: Int = 1 << 20): Unit = {
    val merges = train(df, textCol, numMerges, maxWords)
    merges.coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    val wordEnc = encode(df, textCol, merges)
    graft.Search.globalRank(
        wordEnc.select(explode(col("tokens")).as("tok")).distinct(),
        Seq(asc("tok")), "_vrank")
      .select(col("tok"), (col("_vrank") - 1).cast("int").as("tid"))
      .sort("tid").write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Serve [[encodeToIds]] from a [[writeTokenizer]] store: merges and
    * vocab are read back (both bounded — ≤ numMerges rows / ≤ alphabet +
    * merges ids) and broadcast; no training pass, no vocab re-rank. On
    * the training corpus the output equals [[encodeToIds]] on the same
    * merges exactly. Novel docs encode with the FROZEN vocabulary — a
    * token outside it (an unseen base character) maps to id -1, the
    * explicit UNK sentinel, rather than silently re-deriving ids that
    * would renumber the whole vocabulary. */
  def encodeToIdsFromStore(df: DataFrame, idCol: String, textCol: String,
                           path: String): DataFrame = {
    val spark = df.sparkSession
    val rules = graft.StoreFs.read(spark, s"$path/merges")
      .select("rank", "left", "right").collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.StoreFs.read(spark, s"$path/vocab").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    encodeWith(df, idCol, textCol, rules, vocab)
  }

  /** The shared encode pass: ONE narrow projection over the corpus — the
    * whole tokenizer (rules + frozen vocab, both bounded by alphabet +
    * numMerges) rides inside [[graft.functions.BpeEncodeIds]], which
    * amortizes the per-word merge loop with a per-task word → ids cache
    * (Zipf: instances ≫ distinct words). Replaces the r14 shape — corpus
    * posexplode → two broadcast joins → per-doc
    * sort_array(collect_list(...)) re-assembly → outer join back — whose
    * full-corpus token-instance shuffle was the dominant cost of both
    * tokenize queries (guide §1.2 step 1: remove the shuffle, not tune
    * it). Output is identical: ids concatenate in (word pos, token pos)
    * order by construction, token-less and null-text docs yield []. */
  private def encodeWith(df: DataFrame, idCol: String, textCol: String,
                         rules: Seq[(String, String)],
                         vocab: Map[String, Int]): DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      x => length(x) > 0)
    Spread.scanFloor(df, col(idCol))
      .select(col(idCol),
        coalesce(graft.functions.BpeOps.bpeEncodeIds(toks, rules, vocab),
          array().cast("array<int>")).as("input_ids"))
      .withColumn("n_tokens", size(col("input_ids")))
  }

  /** Tokenize documents to dense `input_ids` — the array-of-int export a
    * training loop actually consumes. Ids are the vocabulary's
    * sorted-token ranks (deterministic, seedless, stable across runs on
    * the same merges). Scale shape: the per-WORD encoding table and the
    * vocabulary are both bounded by construction (≤ distinct words /
    * ≤ alphabet + merges) and broadcast; the corpus explodes to (doc,
    * word-pos, token-pos) rows, joins the two small tables, and
    * re-assembles per doc ordered by (word pos, token pos) — one
    * corpus-keyed aggregate, no corpus-side windows. The vocab rank
    * comes from [[graft.Search.globalRank]] (range-partitioned sort +
    * zipWithIndex) so even the bounded vocab never funnels through a
    * single-partition window. */
  def encodeToIds(df: DataFrame, idCol: String, textCol: String,
                  merges: DataFrame): DataFrame = {
    val rules = merges.select("rank", "left", "right")
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // the vocabulary (distinct post-encode tokens, ranked by token asc) is
    // bounded by alphabet + numMerges, so the rank is a driver-side sort
    // over one collected distinct pass — same ids as the r14 globalRank,
    // without its range exchange. This corpus pass derives the VOCAB only;
    // the encoding itself is the one narrow pass in [[encodeWith]].
    // ranked in code-point order — the order of the stored vocab's Spark
    // `asc` sort (UTF-8 bytes); JVM String order (UTF-16 units) puts a
    // supplementary-plane token before U+E000..U+FFFF and renumbers ids
    val toks = encode(df, textCol, merges)
      .select(explode(col("tokens")).as("tok")).distinct()
      .limit(MaxVocab + 1).collect().map(_.getString(0))
    require(toks.length <= MaxVocab,
      s"vocabulary exceeds $MaxVocab tokens — not a bounded alphabet + merges set")
    val vocab = toks.sortBy(UTF8String.fromString).zipWithIndex.toMap
    encodeWith(df, idCol, textCol, rules, vocab)
  }
}
