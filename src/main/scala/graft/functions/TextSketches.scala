package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-sketch expressions for the dedup pipeline.
  *
  * The declarative formulations (`transform`/`aggregate` higher-order
  * functions, explode + 32-column aggregates) are semantically right but
  * interpret one lambda per array element and shuffle signature columns;
  * measured on 5k docs the shingle construction alone cost 4 s. These
  * expressions compute the same sketches in one tight loop per row —
  * a narrow projection with no shuffle, which is also the shape that
  * scales to 10¹¹ documents: sketching is embarrassingly parallel and
  * only (id, sketch) ever reaches an exchange.
  */

/** Distinct word k-shingles of a token array, order-preserving.
  * Matches [[graft.pipeline.Dedup.shinglesOfTokens]] semantics exactly
  * (max(n−k,0)+1 windows, so short docs yield one truncated shingle). */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val windows = math.max(n - k, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](windows * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < windows) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks.getUTF8String(j).toString)
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** MinHash signature of a string array: `numHashes` seeded xxhash64 minima
  * in one pass (`numHashes` × |shingles| hashes per row, no explode, no
  * aggregate shuffle). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      var seed = 0
      while (seed < numHashes) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
        if (h < sig(seed)) sig(seed) = h
        seed += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** 64-bit SimHash of a token array: bit i = sign of Σ_tokens ±1 votes from
  * bit i of xxhash64(token). One hash + 64 bit-tests per token. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Fuzzy whole-token match: true when any whitespace token of `child` is
  * within restricted Damerau-Levenshtein (optimal string alignment:
  * adjacent transposition = 1 edit, the metric of Lucene's fuzzy automaton)
  * distance `maxDist` of `term`, case-insensitive. `maxDist` is capped at
  * 2, Lucene's own limit. NOTE: OSA and *unrestricted* DL (DuckDB's
  * `damerau_levenshtein`) agree at distance ≤ 1 but can differ at 2
  * (substring edits after a transposition) — oracle parity is declared for
  * distance 1. One tight three-row DP per token with an early
  * length-difference reject and reused buffers; tokenization splits on the
  * RE2 `\s` class so it matches the oracle's `string_split_regex`. */
/** The per-token OSA acceptor shared by [[FuzzyTokenMatch]] (predicate)
  * and [[FuzzyTokenHighlight]] (marker) — one matcher per (term, budget,
  * prefix) spec, DP buffers reused across tokens. */
final class FuzzyMatcher(term: String, maxDist: Int,
                                            prefixLen: Int) extends Serializable {
  require(maxDist >= 0 && maxDist <= 2,
    "maxDist must be in [0, 2] (Lucene caps fuzzy edits at 2)")
  require(prefixLen >= 0, "prefixLen must be >= 0")
  // fold the target per-char exactly like the tokens below — a
  // locale-sensitive String.toLowerCase would diverge (tr-TR dotless ı,
  // U+0130 expanding to two chars) and break distance-0 self-matches
  private val target: String = term.map(Character.toLowerCase)
  // Lucene prefix_length: the leading chars are exempt from editing — the
  // token must carry them verbatim, the DP runs on the remainder only
  // (cheaper AND the automaton contract: a prefix longer than the term
  // just pins the whole term and allows trailing insertions)
  private val fixedPrefix: String = target.substring(0, math.min(prefixLen, target.length))
  private val suffix: String = target.substring(fixedPrefix.length)

  // DP rows sized by the fixed target suffix; per-instance reuse is safe —
  // each Spark task deserializes its own expression tree copy
  @transient private lazy val row0 = new Array[Int](suffix.length + 1)
  @transient private lazy val row1 = new Array[Int](suffix.length + 1)
  @transient private lazy val row2 = new Array[Int](suffix.length + 1)

  /** Token accepted iff it starts with `fixedPrefix` (folded) and the rest
    * is within OSA distance `maxDist` of the target suffix. */
  def within(text: String, from0: Int, until: Int): Boolean = {
    if (until - from0 < fixedPrefix.length) return false
    var p = 0
    while (p < fixedPrefix.length) {
      if (Character.toLowerCase(text.charAt(from0 + p)) != fixedPrefix.charAt(p))
        return false
      p += 1
    }
    val from = from0 + fixedPrefix.length
    val aLen = until - from
    val b = suffix
    if (math.abs(aLen - b.length) > maxDist) return false
    var prev2 = row0; var prev = row1; var cur = row2
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= aLen) {
      cur(0) = i
      val ac = Character.toLowerCase(text.charAt(from + i - 1))
      var rowMin = i
      var jj = 1
      while (jj <= b.length) {
        val cost = if (ac == b.charAt(jj - 1)) 0 else 1
        var d = math.min(math.min(cur(jj - 1) + 1, prev(jj) + 1), prev(jj - 1) + cost)
        if (i > 1 && jj > 1 && ac == b.charAt(jj - 2) &&
            Character.toLowerCase(text.charAt(from + i - 2)) == b.charAt(jj - 1))
          d = math.min(d, prev2(jj - 2) + 1) // transposition
        cur(jj) = d
        if (d < rowMin) rowMin = d
        jj += 1
      }
      if (rowMin > maxDist) return false
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length) <= maxDist
  }
}

private[functions] object FuzzyMatcher {
  // RE2 \s class, [ \t\n\f\r] -- the oracle's string_split_regex
  // tokenizer. (Java's \s additionally has \x0B; RE2 does not -- excluded
  // for parity.)
  def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
}

/** Implements `doGenCode` as a static call (like [[HistL1]]): as a
  * CodegenFallback it kept every fuzzy Filter out of whole-stage codegen,
  * splitting the scan of a `term~1 AND field:x` query in two stages. */
case class FuzzyTokenMatch(child: Expression, term: String, maxDist: Int,
                           prefixLen: Int = 0)
    extends UnaryExpression {
  private val matcher = new FuzzyMatcher(term, maxDist, prefixLen)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    FuzzyTokenMatch.matches(matcher, v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val m = ctx.addReferenceObj("fuzzyMatcher", matcher, classOf[FuzzyMatcher].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.FuzzyTokenMatch.matches($m, $c)")
  }

  override protected def withNewChildInternal(c: Expression): FuzzyTokenMatch = copy(child = c)
  override def prettyName: String = "fuzzy_token_match"
}

object FuzzyTokenMatch {
  /** Static kernel shared by interpreted and codegen'd paths: any
    * whitespace token of `v` accepted by `m`. */
  def matches(m: FuzzyMatcher, v: UTF8String): Boolean = {
    val text = v.toString
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || FuzzyMatcher.isWs(text.charAt(i))) {
        if (i > start && m.within(text, start, i)) return true
        start = i + 1
      }
      i += 1
    }
    false
  }
}

/** Search-highlight marker for fuzzy leaves: wraps every whitespace token
  * accepted by ANY of the `specs` (term, maxDist, prefixLen) in
  * `pre`/`post`, one pass, no nested markup — the exact token set the
  * [[FuzzyTokenMatch]] predicate accepted, which regex-based highlighting
  * cannot express (edit distance is not a regular language at fixed
  * pattern size). */
case class FuzzyTokenHighlight(child: Expression,
                               specs: Seq[(String, Int, Int)],
                               pre: String, post: String)
    extends UnaryExpression with CodegenFallback {
  require(specs.nonEmpty, "at least one fuzzy spec")
  private val matchers = specs.map { case (t, d, p) => new FuzzyMatcher(t, d, p) }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString
    val n = text.length
    val out = new java.lang.StringBuilder(n + 16)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || FuzzyMatcher.isWs(text.charAt(i))) {
        if (i > start) {
          val hit = matchers.exists(_.within(text, start, i))
          if (hit) out.append(pre)
          out.append(text, start, i)
          if (hit) out.append(post)
        }
        if (i < n) out.append(text.charAt(i))
        start = i + 1
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  override protected def withNewChildInternal(c: Expression): FuzzyTokenHighlight =
    copy(child = c)
  override def prettyName: String = "fuzzy_token_highlight"
}

/** Gopher-style repetition signals over a token array, one pass per row:
  * counts the document's contiguous word `n`-grams (occurrences, not
  * distinct — `max(len−n,0)+1` windows like [[WordShingles]]) and returns
  * `struct(top_gram_frac, dup_gram_frac, n_grams)` where
  *  - `top_gram_frac` = occurrences of the most frequent gram / windows,
  *  - `dup_gram_frac` = occurrences of grams appearing ≥2 times / windows.
  * High values flag boilerplate/looped text for the quality filter. The
  * declarative twin (explode + two grouped aggregates) shuffles every gram;
  * this stays a narrow projection — nothing but (id, fracs) ever moves. */
case class GramRepetition(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = StructType(Seq(
    StructField("top_gram_frac", DoubleType, nullable = false),
    StructField("dup_gram_frac", DoubleType, nullable = false),
    StructField("n_grams", LongType, nullable = false)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val len = toks.numElements()
    val windows = math.max(len - n, 0) + 1
    val counts = new java.util.HashMap[String, Int](windows * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < windows) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + n, len)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks.getUTF8String(j).toString)
        j += 1
      }
      counts.merge(sb.toString, 1, Integer.sum _)
      i += 1
    }
    var top = 0
    var dup = 0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > top) top = c
      if (c >= 2) dup += c
    }
    org.apache.spark.sql.catalyst.InternalRow(
      top.toDouble / windows, dup.toDouble / windows, windows.toLong)
  }

  override protected def withNewChildInternal(c: Expression): GramRepetition = copy(child = c)
  override def prettyName: String = "gram_repetition"
}

/** Positional n-gram window hashes of a token array: element `i` is a
  * 64-bit hash of the contiguous window `toks[i .. i+n-1]`, so array index
  * identifies the window's start position — the input to duplicate-SPAN
  * detection ([[graft.pipeline.Dedup.duplicateSpans]]), where positions
  * matter and deduping ([[WordShingles]]) would destroy them.
  *
  * Docs shorter than `n` tokens yield an EMPTY array (no truncated window:
  * a doc with fewer than `n` tokens cannot contain an `n`-token duplicate
  * span — different contract from the shingle family's `max(len−n,0)+1`).
  *
  * Each token is xxhash64'd once (seed 42, same as the sketch family) and
  * windows combine token hashes with an order-dependent polynomial fold —
  * O(len·n) long multiplies instead of re-hashing `n` tokens' bytes per
  * window, and no per-window string materialization. Collisions are
  * tolerated BY CONTRACT: callers re-verify candidate windows against the
  * exact gram text (the same candidates-then-verify discipline as
  * MinHash-LSH), so a collision costs a false candidate, never a wrong
  * result. */
/** Word n-grams of a token array as space-joined strings, duplicates KEPT
  * (instance multiplicity is the datum for the counting relations —
  * unlike [[WordShingles]], which dedups). Matches the declarative
  * `transform(sequence(1, size − n + 1), i → array_join(slice(toks, i, n),
  * " "))` exactly, including the empty array below n tokens — but as a
  * one-pass kernel over the token array CHILD, which is evaluated once
  * per row. The declarative form re-evaluated the child expression per
  * element (interpreted higher-order lambdas), so an inline tokenizer ran
  * once per gram — quadratic in doc length (r14: the whole
  * n-gram/bigram-LM relation family paid this on every corpus pass). */
case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val len = toks.numElements()
    // the declared output is containsNull = false: a null token would
    // either emit a null element (n = 1 — downstream codegen reads it as
    // garbage) or silently vanish inside concatWs (n ≥ 2 — diverging from
    // the declarative form this kernel pins itself to). Every in-repo
    // tokenizer filters nulls before this point; an external caller who
    // doesn't must hear about it, not get corrupted grams (r15, ADVICE).
    var c = 0
    while (c < len) {
      if (toks.isNullAt(c))
        throw new IllegalArgumentException(
          s"word_grams: token array contains a null element at index $c — " +
            "filter null tokens before building grams")
      c += 1
    }
    if (len < n) return new GenericArrayData(Array.empty[AnyRef])
    val windows = len - n + 1
    val out = new Array[AnyRef](windows)
    if (n == 1) {
      var i = 0
      while (i < windows) { out(i) = toks.getUTF8String(i); i += 1 }
    } else {
      val sep = UTF8String.fromString(" ")
      val slot = new Array[UTF8String](n)
      var i = 0
      while (i < windows) {
        var j = 0
        while (j < n) { slot(j) = toks.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(sep, slot: _*)
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordGrams = copy(child = c)
  override def prettyName: String = "word_grams"
}

case class GramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "gram width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val tokHash = new Array[Long](len)
    var i = 0
    while (i < len) {
      val s = toks.getUTF8String(i)
      tokHash(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val windows = len - n + 1
    val out = new Array[Long](windows)
    i = 0
    while (i < windows) {
      var h = 0x9E3779B97F4A7C15L
      var j = i
      while (j < i + n) {
        h = h * 0xC2B2AE3D27D4EB4FL + tokHash(j)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

/** Code-point histogram of a string, binned by `codepoint % bins` — the
  * cheap exact prefilter for edit-distance joins: ONE edit
  * (insert/delete/substitute of one code point, the units Spark's
  * `levenshtein` counts) changes at most two bin counts by one each, so
  * any pair within distance d satisfies L1(histA, histB) ≤ 2d. A pair
  * failing that bound provably exceeds d — pruning it before the
  * O(len·d) thresholded levenshtein is pure win (measured 24× candidate
  * reduction on the scale corpus). One pass per ROW (not per pair). */
case class CharHist(child: Expression, bins: Int)
    extends UnaryExpression with CodegenFallback {
  require(bins >= 2 && bins <= 256, s"bins must be 2..256, got $bins")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val h = new Array[Int](bins)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h(cp % bins) += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(h)
  }

  override protected def withNewChildInternal(c: Expression): CharHist = copy(child = c)
  override def prettyName: String = "char_hist"
}

/** L1 distance between two equal-length int arrays (the [[CharHist]]
  * companion). Implements `doGenCode` — this runs once per CANDIDATE
  * PAIR inside a join filter, where a CodegenFallback\'s per-call boxing
  * measurably outweighed the levenshtein it was pruning (283 s vs 163 s
  * at the scale corpus); the codegen'd static call keeps the whole
  * filter inside WholeStageCodegen. */
case class HistL1(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(HistL1.l1(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HistL1.l1($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HistL1 =
    copy(left = l, right = r)
  override def prettyName: String = "hist_l1"
}

object HistL1 {
  /** Static kernel shared by interpreted and codegen'd paths. */
  def l1(xa: ArrayData, xb: ArrayData): Int = {
    val n = xa.numElements()
    if (xb.numElements() != n)
      throw new IllegalArgumentException(
        s"hist_l1 arrays differ in length: $n vs ${xb.numElements()}")
    var s = 0
    var i = 0
    while (i < n) {
      s += math.abs(xa.getInt(i) - xb.getInt(i))
      i += 1
    }
    s
  }
}

object TextSketchFunctions {
  def char_hist(text: Column, bins: Int = 16): Column =
    Bridge.column(CharHist(Bridge.expression(text), bins))
  def hist_l1(a: Column, b: Column): Column =
    Bridge.column(HistL1(Bridge.expression(a), Bridge.expression(b)))
  def word_shingles(toks: Column, k: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(toks), k))
  def word_grams(toks: Column, n: Int): Column =
    Bridge.column(WordGrams(Bridge.expression(toks), n))
  def gram_hashes(toks: Column, n: Int): Column =
    Bridge.column(GramHashes(Bridge.expression(toks), n))
  def gram_repetition(toks: Column, n: Int): Column =
    Bridge.column(GramRepetition(Bridge.expression(toks), n))
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numHashes))
  def simhash64(toks: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(toks)))
  def fuzzy_token_match(text: Column, term: String, maxDist: Int,
                        prefixLen: Int = 0): Column =
    Bridge.column(FuzzyTokenMatch(Bridge.expression(text), term, maxDist, prefixLen))

  /** ES `fuzziness: AUTO` — the length-banded edit budget (0 below 3
    * chars, 1 through 5, else 2) applied to the TERM's length. */
  def autoFuzziness(term: String): Int =
    if (term.length < 3) 0 else if (term.length <= 5) 1 else 2

  def fuzzy_token_highlight(text: Column, specs: Seq[(String, Int, Int)],
                            pre: String, post: String): Column =
    Bridge.column(FuzzyTokenHighlight(Bridge.expression(text), specs, pre, post))
}
