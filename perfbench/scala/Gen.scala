package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the library sees is made here from
  * the `--seed`, and everything the checks expect is predicted here from
  * the same inputs, without running the library.
  *
  * Documents follow the `documents` table of the sf0.1 fixture set, as
  * measured on it (5 000 rows, 270 704 words):
  *   - 30 words, drawn uniformly: each is 3.26-3.39 % of all words and sits
  *     in 76-78 % of the documents;
  *   - 10 to 99 words per document, uniform (deciles 19, 28, ..., 90;
  *     mean 54.1); here the length cycles with the doc id, so every seed
  *     makes the same number of words and store sizes do not move with it;
  *   - languages en 41 %, zh 15 %, es 15 %, fr 15 %, de 14 %;
  *   - source `src<id mod 20>`;
  *   - 5 % of the documents end with the marker word `dup`.
  * A larger corpus replicates that base with per-replica renaming, as the
  * library's `ScaleUp` does: replica `r >= 1` turns every word `w` into
  * `w_r<r>`, a token of its own, so each replica has its own vocabulary.
  * Planted tokens `qp<k>` with posting lists fixed by the generator give
  * the rare end of the selectivity range. */
final case class Doc(id: Long, text: String, lang: String, source: String,
                     segment: String) {
  lazy val tokens: Array[String] = text.split(" ")
  lazy val tokenSet: Set[String] = tokens.toSet
}

final class Gen(seed: Long, salt: Long) {
  private val rng = new SplittableRandom(seed * 1000003L + salt)

  /** `k` distinct values drawn from `xs`. */
  def sample[T](xs: IndexedSeq[T], k: Int): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    val n = math.min(k, a.length)
    for (i <- 0 until n) {
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def word(): String = Gen.words(rng.nextInt(Gen.words.size))

  def text(words: Int): String = {
    val ws = Array.fill(words)(word())
    (if (rng.nextDouble() < 0.05) ws :+ "dup" else ws).mkString(" ")
  }

  def lang(): String = {
    val u = rng.nextDouble()
    if (u < 0.41) "en" else if (u < 0.56) "zh" else if (u < 0.71) "es" else if (u < 0.86) "fr" else "de"
  }

  def doc(id: Long): Doc =
    Doc(id, text(10 + (id % 90).toInt), lang(), s"src${id % 20}", Gen.segments(rng.nextInt(Gen.segments.size)))

  /** `text` with `tok` inserted at a random word position. */
  def plant(text: String, tok: String): String = {
    val ws = text.split(" ").toBuffer
    ws.insert(rng.nextInt(ws.size + 1), tok)
    ws.mkString(" ")
  }

  /** A copy of `text` with one word replaced. For a document of at least
    * 20 words, word 3-shingle Jaccard to the original stays at or above
    * 15/21, far above the 0.5 pair threshold. */
  def nearCopy(text: String): String = {
    val ws = text.split(" ")
    val i = rng.nextInt(ws.length)
    ws(i) = Gen.words.filterNot(_ == ws(i))(rng.nextInt(Gen.words.size - 1))
    ws.mkString(" ")
  }
}

object Gen {
  val words: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Word `w` as replica `r` spells it. */
  def renamed(w: String, r: Int): String = if (r == 0) w else s"${w}_r$r"

  val segments: IndexedSeq[String] = (1 to 6).map(m => f"2024-$m%02d")
  val epoch2024: Long = 1704067200000L

  /** `base` generated documents, replicated `replicas` times (ids
    * `0 until base * replicas`, replica `r` holding `r * base + i`), with
    * planted tokens `qp0 .. qp<sizes.size-1>`: token `qp<k>` is planted
    * in exactly `sizes(k)` documents. Returns the docs and each planted
    * token's ids. */
  def corpus(g: Gen, base: Int, replicas: Int,
             sizes: IndexedSeq[Int]): (IndexedSeq[Doc], Map[String, Set[Long]]) = {
    val first = (0 until base).map(i => g.doc(i.toLong))
    val docs = (0 until replicas).flatMap { r =>
      first.map(d => if (r == 0) d else d.copy(id = r.toLong * base + d.id,
        text = d.text.split(" ").map(renamed(_, r)).mkString(" ")))
    }.toArray
    val planted = sizes.zipWithIndex.map { case (sz, k) =>
      val tok = s"qp$k"
      val ids = g.sample(docs.indices, sz).map(_.toLong)
      ids.foreach { id =>
        val d = docs(id.toInt)
        docs(id.toInt) = d.copy(text = g.plant(d.text, tok))
      }
      tok -> ids.toSet
    }.toMap
    (docs.toIndexedSeq, planted)
  }

  /** Optimal-string-alignment edit distance (adjacent transposition = 1
    * edit), the metric of Lucene-style fuzzy terms. */
  def osa(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + 1)
    }
    d(a.length)(b.length)
  }
}
