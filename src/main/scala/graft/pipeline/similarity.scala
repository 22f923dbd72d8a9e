package graft.pipeline

import graft.functions.VecFunctions.{rhp_buckets, vec_cosine}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`/`array<double>`).
  *
  * Two paths:
  *  - brute-force cosine top-k — the exact baseline; query set broadcast
  *    against the corpus, one scan, no shuffle of the corpus;
  *  - random-hyperplane LSH — the scale path: bucket corpus and queries by
  *    sign-bit signatures, search only within shared bucket bands.
  *
  * Vector math runs through the native expressions in
  * [[graft.functions.VecDot]]/[[graft.functions.RhpBuckets]] — one tight
  * loop per row instead of an interpreted lambda per element.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = vec_cosine(a, b)

  /** Exact top-k neighbors for each query vector.
    *
    * `queries` (small: a handful of probe vectors) is broadcast-cross-joined
    * against the corpus — the corpus is scanned once, never shuffled; the
    * only shuffle is the final per-query top-k (k rows per query). At 100 TB
    * this is the right baseline shape: cost is one full scan, and the
    * `Window`+`row_number` top-k is bounded by |queries|·k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qIdCol: String = "query_id", qVecCol: String = "query_vec",
                     excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf assumes query ids share the corpus id namespace (probes
    // drawn from the corpus); pass false for external query vectors, or a
    // coincidentally-equal id would silently drop a true neighbor
    val joined = corpus.crossJoin(broadcast(queries))
    val scored = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
      .withColumn("cos", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(desc("cos"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Recall@k of an approximate neighbor result against an exact one —
    * the measurement half of "measure, don't guess" for the ANN suite:
    * tuning `nprobe` / band counts / oversample on a QUERY SAMPLE before
    * committing a 100 TB serving configuration is the loop a real
    * operator runs, and this is its one operator. Both inputs are
    * (query, neighbor[, rank]) frames as produced by every topK in the
    * suite; `exact` defines the ground-truth set per query (take
    * [[bruteForceTopK]] at the same k over the sample). Per query:
    * |approx ∩ exact| / |exact|. Probe-sized inputs (|queries|·k rows)
    * — the aggregate is bounded by the sample, never the corpus; the
    * macro average over queries is one more tiny aggregate away
    * (`.agg(avg("recall"))`). Ties at the boundary cosine are counted
    * as hits only when the approximate path returns the same
    * tie-break — the suite orders ties by neighbor id everywhere, so
    * equal-configured paths agree. */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                qIdCol: String = "query_id",
                nCol: String = "neighbor_id"): DataFrame =
    // both sides dedup defensively: a duplicated (query, neighbor) row on
    // either side would multiply through the join and report recall > 1 —
    // a measurement operator must be robust to malformed inputs, not
    // amplify them
    exact.select(col(qIdCol), col(nCol)).distinct()
      .join(approx.select(col(qIdCol), col(nCol), lit(1).as("_hit"))
          .dropDuplicates(qIdCol, nCol),
        Seq(qIdCol, nCol), "left")
      .groupBy(col(qIdCol))
      .agg((sum(coalesce(col("_hit"), lit(0))).cast("double") /
        count(lit(1))).as("recall"))

  /** Explode a table into (band, bucket) rows from the native LSH expression. */
  private def banded(df: DataFrame, id: String, vec: String,
                     bands: Int, bitsPerBand: Int): DataFrame =
    df.select(col(id), col(vec),
        posexplode(rhp_buckets(col(vec), bands, bitsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Approximate top-k via LSH banding: corpus and queries hashed to
    * `bands` buckets of `bitsPerBand` sign bits; candidate set = union of
    * shared buckets; exact cosine ranks candidates. Recall grows with bands;
    * cost is proportional to bucket collision volume, not corpus size ×
    * query count. The 100 TB path: the bucketed corpus can be written
    * pre-partitioned by (band, bucket) so probes touch only matching
    * partitions.
    *
    * Shuffle discipline: only (query_id, id) pairs pass through the
    * candidate-dedup exchange — vectors are joined back afterwards
    * (measured: carrying embeddings through the shuffle cost ~10× the
    * bytes at sf0.01 and scales with dims). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bands: Int = 4, bitsPerBand: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "query_id", qVecCol: String = "query_vec",
              excludeSelf: Boolean = true): DataFrame = {
    val c = banded(corpus, idCol, vecCol, bands, bitsPerBand)
      .select(col("band"), col("bucket"), col(idCol))
    val q = banded(queries, qIdCol, qVecCol, bands, bitsPerBand)
      .select(col("band"), col("bucket"), col(qIdCol))
    val joined = c.join(broadcast(q), Seq("band", "bucket"))
    val idPairs = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
      .select(col(qIdCol), col(idCol))
      .dropDuplicates(qIdCol, idCol)
    val candidates = idPairs
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), Seq(qIdCol))
      .withColumn("cos", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Symmetric per-vector int8-range scalar quantization:
    * `q_i = round(x_i · 127 / max|x|)` ∈ [−127, 127], stored as an int
    * array (parquet RLE/bit-packs small ints, so on-disk size tracks the
    * 8-bit payload — ~4× less vector I/O than float32 at 100 TB, the
    * standard ANN memory/bandwidth trade). COSINE IS SCALE-INVARIANT, so
    * quantized search needs no dequantization and no stored scale: rank
    * with [[bruteForceTopK]]/[[lshTopK]] pointed at the quantized column,
    * and the per-vector scale cancels out of every score. One native pass
    * per row ([[graft.functions.VecQuantize]]) — the earlier declarative
    * form aliased `max|x|` in a prior projection, but `CollapseProject`
    * inlined it into the interpreted lambda, re-running `array_max` per
    * element (O(dims²) per row; 6.3 s → 0.3 s on the sf0.1 bench). */
  def quantize(df: DataFrame, vecCol: String, qCol: String = "q_emb"): DataFrame =
    df.withColumn(qCol,
      graft.functions.VecFunctions.vec_quantize(col(vecCol).cast("array<double>")))

  /** Exact all-pairs cosine ≥ threshold — the *verifier* behind
    * [[cosinePairs]]'s LSH candidate generation, run standalone on bounded
    * slices (quadratic by construction: self-join, id_a < id_b). Broadcast
    * the right side when the slice fits; at corpus scale use [[cosinePairs]].
    */
  def cosinePairsExact(df: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup strategy —
    * see [[Dedup]]): all pairs with cosine ≥ threshold, candidates from
    * shared LSH buckets, verified exactly. */
  def cosinePairs(df: DataFrame, threshold: Double,
                  bands: Int = 8, bitsPerBand: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  reduceCandidates: Boolean = false): DataFrame = {
    // shuffle ids, not vectors: the banded self-join and pair-dedup move
    // only (band, bucket, id); embeddings join back per surviving side —
    // the same discipline as Dedup.minhashPairs' shingle-set verification
    // graft.lsh.maxBucket (opt-in, see Dedup.capBuckets) bounds candidate
    // volume from degenerate buckets here exactly as in the text path
    val b = Dedup.capBuckets(banded(df, idCol, vecCol, bands, bitsPerBand)
      .select(col("band"), col("bucket"), col(idCol)))
    val idPairs0 = b.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(b.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // `reduceCandidates` is the large-corpus shape (same as
    // Dedup.verifyPairs): once the vector relation outgrows the broadcast
    // threshold — or is cached with large in-memory stats — the plain pair
    // joins sort-merge-shuffle EVERY embedding, the heaviest payload in
    // the system. The broadcast ids-only semi-join bounds verification
    // shuffle to candidate rows at any corpus size. It costs two extra
    // job barriers (persist + broadcast collect), measured ~2 s constant
    // on the gate corpus where vectors broadcast anyway — so it's opt-in,
    // not the small-corpus default.
    val (idPairs, vecSide) =
      if (!reduceCandidates)
        // materialized (ids only) because the salted verify joins below
        // read the pair set once per hot-set barrier — without it the
        // bucket self-join would re-execute per read. localCheckpoint, not
        // persist (r15): the blocks free with the plan instead of pinning
        // an unpersisted CacheManager entry per call
        (idPairs0.localCheckpoint(true),
          df.select(col(idCol), col(vecCol)))
      else {
        val cand = idPairs0.localCheckpoint(true)
        val candIds = broadcast(
          cand.select(col("id_a").as(idCol))
            .unionAll(cand.select(col("id_b").as(idCol)))
            .distinct())
        (cand, df.select(col(idCol), col(vecCol))
          .join(candIds, Seq(idCol), "left_semi"))
      }
    // verify joins threshold-salted like Dedup.verifyPairs: a hot vector
    // id (boilerplate embedding colliding across buckets) spreads over
    // saltFactor reducers instead of one; cold keys join exactly as
    // unsalted (see [[Skew.adaptiveSaltedJoin]] — lazy, output-invariant)
    Skew.saltedVerifyJoin(idPairs,
        vecSide.select(col(idCol).as("id_a"), col(vecCol).as("v_a")),
        vecSide.select(col(idCol).as("id_b"), col(vecCol).as("v_b")))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Binary quantization (the BBQ/1-bit trade): pack each dimension's
    * SIGN bit into 64-bit words — a 32× payload reduction over float32.
    * Pure fold expressions (per word: a running-acc × running-bit-value
    * aggregate over the 64-dim slice); the packed column is engine-
    * internal (coarse hamming ranking only — never an output value). */
  def binarize(df: DataFrame, vecCol: String, bCol: String = "b_emb"): DataFrame = {
    val v = col(vecCol)
    val nWords = floor((size(v) + lit(63)) / lit(64)).cast("int")
    df.withColumn(bCol, transform(sequence(lit(0), nWords - 1), w =>
      aggregate(slice(v, w * 64 + 1, lit(64)),
        struct(lit(0L).as("acc"), lit(1L).as("bit")),
        (st, x) => struct(
          // bitwise OR/shift, not +/×: the 64th doubling wraps to the sign
          // bit, which ANSI arithmetic rejects but bit ops pack correctly
          (st.getField("acc").bitwiseOR(
            when(x >= 0, st.getField("bit")).otherwise(lit(0L)))).as("acc"),
          shiftleft(st.getField("bit"), 1).as("bit")),
        st => st.getField("acc"))))
  }

  /** Hamming distance between two packed sign-bit arrays: XOR + popcount
    * per word, summed — d/64 codegen'd ops per comparison where float
    * cosine pays d multiplies. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, v) => acc + v)

  /** ANN via binary quantization + exact rerank (the ES 8.16 BBQ shape):
    * the corpus's packed sign bits rank by hamming distance against each
    * query's (the cheap coarse pass — the corpus is scanned once, 1 bit
    * per dimension crosses the comparator), the best `k · oversample`
    * candidates rerank by exact float cosine. Recall grows with
    * `oversample`; `k · oversample ≥ corpus` makes it exhaustive (=
    * brute force — the driver's exact twin proves the whole pipeline).
    * Same shuffle discipline as [[lshTopK]]: only (query, id) pairs cross
    * the candidate exchange; vectors join back afterwards. */
  def bbqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              oversample: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "query_id", qVecCol: String = "query_vec",
              excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && oversample >= 1, "k and oversample must be >= 1")
    val bc = binarize(corpus.select(col(idCol), col(vecCol)), vecCol, "_bc")
      .select(col(idCol), col("_bc"))
    val bq = binarize(queries.select(col(qIdCol), col(qVecCol)), qVecCol, "_bq")
      .select(col(qIdCol), col("_bq"))
    val joined = bc.crossJoin(broadcast(bq))
    val coarse = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol))
                  else joined)
      .withColumn("_ham", hamming(col("_bc"), col("_bq")))
    val wC = Window.partitionBy(col(qIdCol)).orderBy(asc("_ham"), asc(idCol))
    val cand = coarse.withColumn("_crank", row_number().over(wC))
      .where(col("_crank") <= k * oversample)
      .select(col(qIdCol), col(idCol))
    val rescored = cand
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), Seq(qIdCol))
      .withColumn("cos", cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }
}
