package graft.pipeline

import graft.functions.PqFunctions.{pq_adc, pq_encode, pq_lut}
import graft.functions.VecFunctions.vec_normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN — the memory/bandwidth scale path alongside
  * [[Similarity.lshTopK]] (pruning) and [[Ivf]] (partition pruning).
  *
  * Where IVF reduces how MUCH of the corpus a query touches, PQ reduces how
  * BIG each touched row is: vectors are stored as `m` centroid indices
  * (~`m` bytes parquet-packed) instead of `dims` floats — ~32× less vector
  * I/O at 64 dims / 8 subspaces — and queries score codes against a
  * per-query lookup table (ADC) without ever reading a float vector. The
  * two compose: encode each IVF list's vectors and this becomes IVF-PQ,
  * FAISS's default 100 TB shape ([[ivfPqTopK]]).
  *
  * Cosine semantics: vectors are L2-normalized before training/encoding
  * (spherical PQ), so the ADC inner product approximates the cosine of the
  * ORIGINAL vectors, and scores are comparable with the rest of the ANN
  * suite. Approximation error shrinks as `ksub` grows; when every distinct
  * subvector fits in the codebook (`ksub` ≥ distinct subvectors),
  * quantization is lossless and ADC equals exact cosine — the property the
  * oracle query pins (`q_similarity_pq_exact`).
  *
  * Scale shape: training is `iters` narrow assignment passes + one
  * model-sized aggregate each (same discipline as [[Ivf.train]] — only
  * `(subspace, code, dim, mean)` rows ever reach the driver); encoding is
  * one narrow projection; search is scan codes → ADC per row → bounded
  * per-query top-k window. The corpus is never shuffled; queries (with
  * their LUTs) are broadcast.
  */
object Pq {

  // normalization lives inside the PQ kernels (PqEncode/PqLut) and in the
  // native vec_normalize used by training — never in an interpreted
  // transform lambda

  /** Train per-subspace codebooks: `m` subspaces × up to `ksub` centroids
    * each, on L2-normalized vectors.
    *
    * Deterministic: seeds are the first `ksub` DISTINCT subvectors in id
    * order (per subspace — one small `groupBy(sub).agg(min(id))` job each;
    * if the corpus holds fewer distinct subvectors the codebook is exactly
    * them, which makes quantization lossless); then `iters` Lloyd rounds
    * (assignment = one [[graft.functions.PqEncode]] pass, update = one
    * `(subspace, code, dim)` mean aggregate — model-sized collect, never
    * data-sized). Empty cells keep their previous centroid. */
  def train(corpus: DataFrame, m: Int, ksub: Int = 16, iters: Int = 2,
            idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0, "m, ksub >= 1; iters >= 0")
    val normed = corpus.select(col(idCol).as("id"),
      vec_normalize(col(vecCol)).as("v"))
    val firstRow = normed.select(size(col("v"))).head(1)
    require(firstRow.nonEmpty, "PQ training needs a non-empty corpus")
    val dims = firstRow.head.getInt(0)
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val dsub = dims / m
    // seeds: per subspace, the first ksub distinct subvectors in id order.
    // Subspaces saturate at their own distinct count, so lengths can
    // DIFFER — pad every codebook to the common max by repeating its first
    // centroid: the ADC lookup table is laid out with one uniform stride
    // (PqLut/PqAdc index `s·ksub + code`), and a ragged codebook would
    // corrupt it. Padding with a duplicate is safe — nearest-centroid
    // tie-breaks to the lowest index, so a padded copy is never selected.
    val ragged: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      normed.select(slice(col("v"), s * dsub + 1, dsub).as("sub"), col("id"))
        .groupBy("sub").agg(min("id").as("first_id"))
        .orderBy("first_id").limit(ksub)
        .collect().map(_.getSeq[Double](0).toArray)
    }
    val width = ragged.map(_.length).max
    var codebooks: Array[Array[Array[Double]]] = ragged.map { cb =>
      if (cb.length == width) cb
      else cb ++ Array.fill(width - cb.length)(cb.head)
    }
    var it = 0
    while (it < iters) {
      val assigned = normed.withColumn("codes", pq_encode(col("v"), codebooks))
      val means = assigned
        .select(col("codes"), posexplode(col("v")))
        .withColumn("s", (col("pos") / dsub).cast("int"))
        .withColumn("c", element_at(col("codes"), col("s") + 1))
        .withColumn("d", col("pos") % dsub)
        .groupBy("s", "c", "d").agg(avg(col("col")).as("mean"))
        .collect()
      val byCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      codebooks = Array.tabulate(m) { s =>
        Array.tabulate(codebooks(s).length) { c =>
          byCell.get((s, c)) match {
            case Some(rows) =>
              val d = rows.map(r => r.getInt(2) -> r.getDouble(3)).toMap
              Array.tabulate(dsub)(i => d(i))
            case None => codebooks(s)(c)
          }
        }
      }
      it += 1
    }
    codebooks
  }

  /** Encode: adds `code` (`array<int>`, length m) — the stored ANN
    * representation. Write `df.select(id, "code")` as the codes table; the
    * float vectors are no longer needed for search. */
  def encode(df: DataFrame, codebooks: Array[Array[Array[Double]]],
             vecCol: String = "embedding", codeCol: String = "code"): DataFrame =
    df.withColumn(codeCol, pq_encode(col(vecCol), codebooks))

  /** Approximate top-k by ADC over PQ codes: queries get a one-off lookup
    * table, corpus rows are scored with `m` lookups each — no float vector
    * is read on the corpus side. Output mirrors the rest of the ANN suite
    * (`cos` = ADC approximation of cosine, rounded to 4). */
  def adcTopK(encoded: DataFrame, queries: DataFrame,
              codebooks: Array[Array[Array[Double]]], k: Int,
              idCol: String = "vec_id", codeCol: String = "code",
              qIdCol: String = "query_id", qVecCol: String = "query_vec",
              excludeSelf: Boolean = true): DataFrame = {
    val ksub = codebooks(0).length
    val q = queries.select(col(qIdCol),
      pq_lut(col(qVecCol), codebooks).as("_lut"))
    val joined = encoded.select(col(idCol), col(codeCol)).crossJoin(broadcast(q))
    val scored = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
      .withColumn("cos", pq_adc(col(codeCol), col("_lut"), ksub))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Materialized IVF-PQ index — [[Ivf.writeIndex]]'s COMPRESSED sibling
    * (FAISS's on-disk composed shape): cells hold `(id, code)` ONLY — `m`
    * small ints per vector instead of `dims` doubles, a ~dims·8/m payload
    * reduction (64-dim float64 → 8 codes is 64×) — so at 100 TB a probe
    * reads nprobe/C of the index by directory pruning AND only code-sized
    * rows for what it touches; the float vectors never leave the build.
    * Model tables: `centroids` (C rows) and `codebooks`
    * ((subspace, code, centroid) rows, m·ksub total) — both collected at
    * serve time like model parameters. Same retrain-on-drift contract as
    * [[Ivf.writeIndex]]. */
  def writeIvfPqIndex(corpus: DataFrame, c: Int, m: Int, path: String,
                      ksub: Int = 16, pqIters: Int = 2, ivfIters: Int = 3,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cb = train(corpus, m, ksub, pqIters, idCol, vecCol)
    val centroids = Ivf.train(corpus, c, ivfIters, idCol, vecCol)
    spark.createDataFrame(centroids.toIndexedSeq.zipWithIndex
        .map { case (v, i) => (i, v.toIndexedSeq) })
      .toDF("list_id", "centroid")
      .coalesce(1).sort("list_id")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val cbRows = for {
      s <- cb.indices; k <- cb(s).indices
    } yield (s, k, cb(s)(k).toIndexedSeq)
    spark.createDataFrame(cbRows).toDF("s", "c", "centroid")
      .coalesce(1).sort("s", "c")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    encode(Ivf.assign(corpus, centroids, idCol, vecCol), cb, vecCol)
      .select(col("list_id"), col(idCol), col("code"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/cells")
  }

  /** The store's PQ codebook model table as the in-memory
    * `[subspace][code][dim]` array — m·ksub rows, collected like model
    * parameters. */
  private[graft] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(s"$path/codebooks").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray))
      .map(_.toArray).toArray

  /** Append vectors to a [[writeIvfPqIndex]] store under its FROZEN
    * models — [[graft.pipeline.Ivf.appendToIndex]]'s contract for the
    * compressed layout: one assign+encode pass over the delta (the stored
    * corpus is never read), code-only rows appended into the
    * `partitionBy(list_id)` cells. Neither the coarse centroids nor the
    * codebooks are retrained: with lossless codebooks and an exhaustive
    * probe, build(half)+append(half) equals brute force over the union
    * (the oracle contract); under honest configs, quantization error for
    * drifted data degrades exactly as an in-memory re-encode would.
    * Insert-only, enforced (same probe + `graft.append.insertCheck` knob
    * as the IVF store; a tombstoned id raises unconditionally). Deletes:
    * [[Ivf.deleteFromIndex]] and [[graft.Maintain.compactAnnIndex]] work
    * on this layout unchanged — the sidecar and the swap only touch ids
    * and partitions, never vector payloads. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path0: String,
                         newRows: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    val path = Ivf.resolveStore(spark, path0)
    val centroids = Ivf.readCentroids(spark, path)
    val cb = readCodebooks(spark, path)
    Ivf.requireAnnInsertOnly(spark, path, newRows.select(col(idCol)), idCol,
      "Pq.appendToIvfPqIndex")
    encode(Ivf.assign(newRows, centroids, idCol, vecCol), cb, vecCol)
      .select(col("list_id"), col(idCol), col("code"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/cells")
  }

  /** [[graft.pipeline.Ivf.writeVersionedIndex]] for the compressed
    * layout: seeds `path/v1` with a complete [[writeIvfPqIndex]] store
    * and points `_graft_current` at it. The version verbs are shared —
    * [[retrainIvfPqIndex]] bumps, [[graft.Maintain.pruneIndexVersions]]
    * reclaims, [[Ivf.currentIndexPath]] resolves. */
  def writeVersionedIvfPqIndex(corpus: DataFrame, c: Int, m: Int, path: String,
                               ksub: Int = 16, pqIters: Int = 2,
                               ivfIters: Int = 3, idCol: String = "vec_id",
                               vecCol: String = "embedding"): Unit =
    Ivf.seedVersionedRoot(corpus.sparkSession, path)(dir =>
      writeIvfPqIndex(corpus, c, m, dir, ksub, pqIters, ivfIters, idCol, vecCol))

  /** Blue/green retrain for the compressed layout — BOTH models (coarse
    * centroids and PQ codebooks) retrain into version N+1 while N keeps
    * serving; same pointer-flip/rollback/coordination contract as
    * [[graft.pipeline.Ivf.retrainIndex]]. */
  def retrainIvfPqIndex(corpus: DataFrame, c: Int, m: Int, path: String,
                        ksub: Int = 16, pqIters: Int = 2, ivfIters: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Int =
    Ivf.bumpVersion(corpus.sparkSession, path)(dir =>
      writeIvfPqIndex(corpus, c, m, dir, ksub, pqIters, ivfIters, idCol, vecCol))

  /** Replay probe for [[appendToIvfPqIndex]] under the streamed crash
    * window — [[graft.pipeline.Ivf.replayNeedsAppend]] for the compressed
    * layout: encode+assign under the FROZEN models is deterministic, so
    * the cells' rows for the delta's ids are either absent (true — append
    * needed), exactly the delta's (id, list_id, code) (false — the
    * atomically-committed append already landed, converged), or different
    * — an edited vector wearing a replay's batch id, which raises. Writes
    * nothing. */
  private[graft] def ivfPqReplayNeedsAppend(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newRows: DataFrame, idCol: String, vecCol: String): Boolean = {
    if (!graft.StoreFs.hasDataFiles(spark, s"$path/cells")) return true
    val centroids = Ivf.readCentroids(spark, path)
    val cb = readCodebooks(spark, path)
    val cmp = Seq(col(idCol), col("list_id"), col("code"))
    val delta = encode(Ivf.assign(newRows, centroids, idCol, vecCol), cb, vecCol)
      .select(cmp: _*)
    val keys = delta.select(col(idCol)).distinct()
    val present = spark.read.parquet(s"$path/cells")
      .join(broadcast(keys), Seq(idCol), "left_semi")
      .select(cmp: _*)
    if (present.isEmpty) return true
    val mismatch = delta.exceptAll(present)
      .unionByName(present.exceptAll(delta)).limit(5)
      .collect().map(_.get(0)).distinct.toSeq
    if (mismatch.nonEmpty)
      throw new IllegalArgumentException(
        s"Pq.appendToIvfPqIndex (replay): id(s) ${mismatch.mkString(", ")} " +
          s"exist in $path/cells with DIFFERENT codes than this batch — an " +
          "exact self-replay encodes identically under the frozen models, " +
          "so this is an edited vector, not redelivery. Use deleteFromIndex " +
          "+ compactAnnIndex, then append, for edits.")
    false // cells already hold exactly this batch's codes: converged
  }

  /** [[ivfPqTopKFromStore]] against a versioned root — resolves the
    * servable version at plan time. */
  def ivfPqTopKFromVersionedStore(spark: org.apache.spark.sql.SparkSession,
                                  path: String, queries: DataFrame, k: Int,
                                  nprobe: Int = 2, idCol: String = "vec_id",
                                  qIdCol: String = "query_id",
                                  qVecCol: String = "query_vec",
                                  excludeSelf: Boolean = true): DataFrame =
    ivfPqTopKFromStore(spark, Ivf.currentIndexPath(spark, path), queries, k,
      nprobe, idCol, qIdCol, qVecCol, excludeSelf)

  /** Serve [[ivfPqTopK]] from a [[writeIvfPqIndex]] store — the
    * [[graft.pipeline.Ivf.topKFromStore]] probe discipline (literal
    * partition filter from the collected probe ids) over code-only
    * cells: each probed row costs `m` ADC lookups, no float vector is
    * ever read. With lossless codebooks and nprobe = C the served result
    * equals brute force exactly (the oracled twin); honest configs stay
    * approximate by the ADC contract. */
  def ivfPqTopKFromStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, k: Int,
                         nprobe: Int = 2, idCol: String = "vec_id",
                         qIdCol: String = "query_id",
                         qVecCol: String = "query_vec",
                         excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.IvfFunctions.probe_lists
    val centroids = Ivf.readCentroids(spark, path)
    val codebooks = readCodebooks(spark, path)
    val ksub = codebooks(0).length
    val probes = queries.select(col(qIdCol),
      pq_lut(col(qVecCol), codebooks).as("_lut"),
      explode(probe_lists(col(qVecCol).cast("array<double>"), centroids,
        nprobe)).as("list_id"))
    val probeIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = Ivf.liveCells(spark, path,
      spark.read.parquet(s"$path/cells").where(col("list_id").isin(probeIds: _*)),
      idCol)
    val joined = cells.join(broadcast(probes), Seq("list_id"))
    val scored =
      (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
        .withColumn("cos", pq_adc(col("code"), col("_lut"), ksub))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** IVF-PQ: coarse-prune with the IVF lists, score survivors with ADC —
    * FAISS's composed shape: a query touches `nprobe/C` of the corpus
    * (partition pruning) AND reads only `m`-byte codes for what it touches.
    * `assigned` must carry both `list_id` ([[Ivf.assign]]) and `code`
    * ([[encode]] — train PQ on the same corpus). */
  def ivfPqTopK(assigned: DataFrame, queries: DataFrame,
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]], k: Int, nprobe: Int = 2,
                idCol: String = "vec_id", codeCol: String = "code",
                qIdCol: String = "query_id", qVecCol: String = "query_vec",
                excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.IvfFunctions.probe_lists
    val ksub = codebooks(0).length
    val probes = queries.select(col(qIdCol),
      pq_lut(col(qVecCol), codebooks).as("_lut"),
      explode(probe_lists(col(qVecCol).cast("array<double>"), centroids, nprobe))
        .as("list_id"))
    val joined = assigned.select(col("list_id"), col(idCol), col(codeCol))
      .join(broadcast(probes), Seq("list_id"))
    val scored = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
      .withColumn("cos", pq_adc(col(codeCol), col("_lut"), ksub))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }
}
