package graft.pipeline

import graft.functions.IvfFunctions.{nearest_centroid, probe_lists}
import graft.functions.VecFunctions.vec_cosine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the classic
  * coarse-quantizer scale path alongside [[Similarity.lshTopK]].
  *
  * Build: spherical k-means (deterministic seeding, a few Lloyd rounds) →
  * every corpus vector assigned to its nearest centroid's *inverted list*.
  * Probe: a query visits only its `nprobe` nearest lists.
  *
  * Scale shape: training touches the corpus `iters` times (one codegen'd
  * assignment pass + one small aggregate each); the centroid matrix
  * (C × dims doubles — model parameters, not data) rides the plan to
  * executors inside the assignment expressions. The assigned corpus can be
  * written `partitionBy("list_id")` so a probe reads only matching
  * partitions — at 100 TB that's the difference between a full scan and
  * touching nprobe/C of the data.
  */
object Ivf {

  /** Train centroids with spherical k-means. Deterministic: seeds are the
    * first `c` vectors in id order; `iters` Lloyd rounds. Returns the
    * normalized centroid matrix (each row unit length). */
  def train(corpus: DataFrame, c: Int, iters: Int = 3,
            idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val normed = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    var centroids = normed.orderBy("id").limit(c)
      .collect().map(r => normalize(r.getSeq[Double](1).toArray))
    var it = 0
    while (it < iters) {
      // assignment (expression pass) + per-dimension mean (one aggregate)
      val assigned = normed.withColumn("list_id", nearest_centroid(col("v"), centroids))
      val sums = assigned
        .select(col("list_id"), posexplode(col("v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val byList = sums.groupBy(_.getInt(0))
      centroids = centroids.indices.map { li =>
        byList.get(li) match {
          case Some(rows) =>
            val dims = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
            normalize(Array.tabulate(dims.size)(i => dims(i)))
          case None => centroids(li) // empty list keeps its centroid
        }
      }.toArray
      it += 1
    }
    centroids
  }

  /** Assign every corpus vector to its inverted list. Write the result
    * `partitionBy("list_id")` to make probes partition-pruned. */
  def assign(corpus: DataFrame, centroids: Array[Array[Double]],
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("list_id",
      nearest_centroid(col(vecCol).cast("array<double>"), centroids))

  /** Materialized IVF index — the ANN layout of the store catalog: the
    * training pass (k-means over the corpus) and the assignment pass are
    * paid ONCE; every search after that reads the index and never scans
    * the corpus. Layout under `path`:
    *
    *   centroids  (list_id, centroid)     — C rows, collected+broadcast
    *                                        at serve time (model params)
    *   cells      the assigned corpus,    — a probe reads ONLY its
    *              partitionBy("list_id")    nprobe matching partitions
    *
    * The cells partitioning is the 100 TB point: serving filters on the
    * PARTITION column with literal probe ids, so the scan touches
    * ~nprobe/C of the data as directory pruning — never a full scan that
    * discards rows. Vectors are stored as `array<double>` so served
    * cosines are bit-identical to the in-memory path and the DuckDB
    * oracle.
    *
    * Maintenance plane (the data-arrives / data-leaves contract every
    * other store in the catalog carries): [[appendToIndex]] adds vectors
    * under the FROZEN centroids (FAISS `add()` — no retrain; recall for
    * drifted data degrades honestly, never silently: the centroids are
    * versioned model parameters and drift means retrain-and-version, like
    * the BPE merges), [[deleteFromIndex]] tombstones ids (served searches
    * filter them immediately), and
    * [[graft.Maintain.compactAnnIndex]] applies tombstones physically,
    * rewriting only the cells partitions that contain deleted ids. */
  def writeIndex(corpus: DataFrame, c: Int, path: String, iters: Int = 3,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val normed = corpus.withColumn(vecCol, col(vecCol).cast("array<double>"))
    val centroids = train(normed, c, iters, idCol, vecCol)
    spark.createDataFrame(centroids.toIndexedSeq.zipWithIndex
        .map { case (v, i) => (i, v.toIndexedSeq) })
      .toDF("list_id", "centroid")
      .coalesce(1).sort("list_id")
      .write.mode("overwrite").parquet(s"$path/centroids")
    assign(normed, centroids, idCol, vecCol)
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/cells")
  }

  /** The store's centroid model table, in list order — C rows, collected
    * like model parameters (the same bounded collect the in-memory path's
    * training already does). */
  private[graft] def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Insert-only probe for the ANN cell stores — the
    * [[graft.TextIndex]] `requireInsertOnly` discipline applied to vector
    * ids. Two checks, one append-blocking error each:
    *
    *  - a delta id already PHYSICALLY in `cells` (gated by
    *    `graft.append.insertCheck` = `error` (default) | `warn` | `off`,
    *    the same knob as the text stores): blind-appending it would serve
    *    the same id twice with possibly different vectors — silent skew.
    *  - a delta id currently TOMBSTONED (`deletes` sidecar): raised
    *    REGARDLESS of the knob, because the failure mode is worse than
    *    skew — the serve-time tombstone filter would silently hide the
    *    freshly appended row too, so the insert would simply not exist.
    *    Compact first ([[graft.Maintain.compactAnnIndex]]), then append.
    *
    * Cost: one id-column-pruned scan of cells + one of the (delete-sized)
    * tombstone sidecar, each semi-joined against the broadcast,
    * batch-sized delta keys. */
  private[graft] def requireAnnInsertOnly(spark: SparkSession, path: String,
                                             deltaIds: DataFrame, idCol: String,
                                             what: String): Unit = {
    // intra-batch duplicates are checked FIRST, unconditionally: two rows
    // with the same id in one append serve that id twice forever (the
    // store-collision probe can't see them — neither is in the store yet),
    // and there is no version column to pick a winner by, so the batch is
    // malformed and must raise, not silently double-serve
    val dup = deltaIds.groupBy(col(idCol)).count().where(col("count") > 1)
      .limit(5).collect().map(_.get(0)).toSeq
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"$what: batch contains duplicate id(s) ${dup.mkString(", ")} — an " +
          "append would serve the same id twice. Deduplicate upstream " +
          "(vectors carry no version column to resolve a winner here).")
    val keys = deltaIds.select(col(idCol)).distinct()
    if (graft.StoreFs.hasDataFiles(spark, s"$path/deletes")) {
      val shadowed = spark.read.parquet(s"$path/deletes")
        .join(broadcast(keys), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0)).toSeq
      if (shadowed.nonEmpty)
        throw new IllegalArgumentException(
          s"$what: id(s) ${shadowed.mkString(", ")} are tombstoned in " +
            s"$path/deletes — an append would be silently hidden by the " +
            "serve-time delete filter. Run Maintain.compactAnnIndex to " +
            "apply the tombstones, then append.")
    }
    val mode = spark.conf.getOption("graft.append.insertCheck").getOrElse("error")
    if (mode == "off" || !graft.StoreFs.hasDataFiles(spark, s"$path/cells")) return
    val collided = spark.read.parquet(s"$path/cells")
      .select(col(idCol))
      .join(broadcast(keys), Seq(idCol), "left_semi")
      .limit(5).collect().map(_.get(0)).toSeq
    if (collided.nonEmpty) {
      val msg = s"$what: insert-only contract violated — id(s) " +
        s"${collided.mkString(", ")} already exist in $path/cells. " +
        "Blind-appending an edited vector serves the same id twice; " +
        "deleteFromIndex + compactAnnIndex first for edits, or set " +
        "graft.append.insertCheck=off if freshness is guaranteed upstream."
      if (mode == "warn")
        org.slf4j.LoggerFactory.getLogger(Ivf.getClass).warn(msg)
      else throw new IllegalArgumentException(msg)
    }
  }

  /** Append vectors to a [[writeIndex]] store under its FROZEN centroids —
    * FAISS `add()`: one assignment pass over the delta (never the stored
    * corpus), appended into the `partitionBy(list_id)` cells so probes
    * stay partition-pruned over old and new rows alike. The centroids are
    * NOT retrained: an exhaustive (`nprobe` = C) probe over
    * build(half)+append(half) equals brute force over the union exactly
    * (the oracle contract), and pruned-probe recall for drifted data
    * degrades exactly as the in-memory path's would — drift means
    * retrain-and-version. Insert-only, enforced ([[requireAnnInsertOnly]]). */
  def appendToIndex(spark: SparkSession, path0: String, newRows: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val path = resolveStore(spark, path0)
    val centroids = readCentroids(spark, path)
    val normed = newRows.withColumn(vecCol, col(vecCol).cast("array<double>"))
    requireAnnInsertOnly(spark, path, normed.select(col(idCol)), idCol,
      "Ivf.appendToIndex")
    assign(normed, centroids, idCol, vecCol)
      .write.mode("append").partitionBy("list_id").parquet(s"$path/cells")
  }

  /** Replay probe for [[appendToIndex]] under the streamed crash window
    * (the [[graft.TextIndex]] `normsReplayNeedsAppend` discipline for the
    * ANN layout): a crash after the cells append committed but before the
    * `_graft_batch` marker write redelivers the batch, and the strict
    * insert-only probe would collide with the batch's OWN keys — a poison
    * pill. This probe compares CONTENT and writes nothing: the store's
    * rows for the delta's ids are either absent (crash before the append
    * job committed → true, append needed), exactly the delta's
    * deterministic assignment (the append commits atomically → false,
    * converged), or different — which no self-replay can produce
    * (assignment under frozen centroids is deterministic), so it raises:
    * an edited vector wearing a replay's batch id, not redelivery. */
  private[graft] def replayNeedsAppend(spark: SparkSession, path: String,
                                       newRows: DataFrame, idCol: String,
                                       vecCol: String): Boolean = {
    if (!graft.StoreFs.hasDataFiles(spark, s"$path/cells")) return true
    val centroids = readCentroids(spark, path)
    val cmp = Seq(col(idCol), col(vecCol), col("list_id"))
    val delta = assign(newRows.withColumn(vecCol, col(vecCol).cast("array<double>")),
      centroids, idCol, vecCol).select(cmp: _*)
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
        s"Ivf.appendToIndex (replay): id(s) ${mismatch.mkString(", ")} exist " +
          s"in $path/cells with DIFFERENT content than this batch — an exact " +
          "self-replay assigns identically under the frozen centroids, so " +
          "this is an edited vector, not redelivery. Use deleteFromIndex + " +
          "compactAnnIndex, then append, for edits.")
    false // cells already hold exactly this batch's assignment: converged
  }

  /** Tombstone-delete ids from a materialized ANN index (works on both the
    * [[writeIndex]] and [[Pq.writeIvfPqIndex]] layouts — the sidecar only
    * carries ids). Served searches filter tombstoned ids IMMEDIATELY (the
    * `deletes` anti-join in [[topKFromStore]] /
    * [[Pq.ivfPqTopKFromStore]]); the physical rows leave at the next
    * [[graft.Maintain.compactAnnIndex]], which rewrites only the affected
    * cells partitions — the Lucene deleted-docs-bitset shape: deletes are
    * cheap and instant, space is reclaimed by maintenance. */
  def deleteFromIndex(spark: SparkSession, path0: String, ids: DataFrame,
                      idCol: String = "vec_id"): Unit = {
    val path = resolveStore(spark, path0)
    require(graft.StoreFs.hasDataFiles(spark, s"$path/cells"),
      s"$path/cells has no data — not a materialized ANN index (tombstones " +
        "beside a nonexistent store would never filter anything)")
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(s"$path/deletes")
  }

  /** Apply the `deletes` tombstone sidecar to a cells frame — a no-op scan
    * shape when no tombstones exist (the common case costs one driver-side
    * existence check, not a join). */
  private[graft] def liveCells(spark: SparkSession, path: String,
                                  cells: DataFrame, idCol: String): DataFrame =
    if (graft.StoreFs.hasDataFiles(spark, s"$path/deletes"))
      cells.join(spark.read.parquet(s"$path/deletes").select(col(idCol)),
        Seq(idCol), "left_anti")
    else cells

  /** Serve [[topK]] from a [[writeIndex]] store. The centroid table is
    * C-row-bounded (collected like the in-memory path's model); the probe
    * ids become a LITERAL `isin` on the cells' partition column, so the
    * scan is partition-pruned at planning time (PlanSpec pins the
    * PartitionFilters entry). With `nprobe` = C the read is exhaustive
    * and the result equals brute force exactly — the oracled twin; pruned
    * probes trade recall for reading nprobe/C of the index, the same
    * honest contract as the in-memory [[topK]]. */
  def topKFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int, nprobe: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qIdCol: String = "query_id", qVecCol: String = "query_vec",
                    excludeSelf: Boolean = true): DataFrame = {
    val centroids = readCentroids(spark, path)
    val probes = queries.select(col(qIdCol), col(qVecCol),
      explode(probe_lists(col(qVecCol).cast("array<double>"), centroids, nprobe))
        .as("list_id"))
    // literal partition predicate: queries are a bounded probe set by
    // contract (the broadcast below already assumes it), so collecting
    // their probe ids costs a queries×nprobe-sized plan-time job and buys
    // static directory pruning on the cells scan
    val probeIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = liveCells(spark, path,
      spark.read.parquet(s"$path/cells").where(col("list_id").isin(probeIds: _*)),
      idCol)
    val joined = cells.join(broadcast(probes), Seq("list_id"))
    val candidates =
      (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
        .withColumn("cos", vec_cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }

  // ---- versioned index lifecycle: retrain-and-version made concrete ----
  //
  // Every doc-comment above says "drift means retrain-and-version"; these
  // are the verbs. The layout is blue/green at directory granularity:
  //
  //   path/v1/{centroids,cells,deletes}   — a complete writeIndex store
  //   path/v2/...                         — the retrained replacement
  //   path/_graft_current                 — ONE small file naming the
  //                                         servable version
  //
  // Retraining builds the ENTIRE new version beside the old one (readers
  // keep serving v_N, untouched, for however long the 100 TB rebuild
  // takes), then swaps the pointer — a single create-overwrite of a
  // one-line file, atomic at the filesystem API. Old versions stay on
  // disk for rollback until [[graft.Maintain.pruneIndexVersions]] reclaims
  // them — the ES reindex-into-new-index + alias-flip lifecycle
  // (reference: the `<alias>_index@date` naming convention plays the same
  // role for segments), applied to the ANN store.

  /** Maintenance-verb path resolution: a versioned ROOT resolves to its
    * servable version directory; a flat store passes through. Every
    * maintenance verb ([[appendToIndex]], [[deleteFromIndex]],
    * [[graft.Maintain.compactAnnIndex]], [[graft.Maintain.annIndexStats]],
    * [[Pq.appendToIvfPqIndex]]) resolves, so calling one on a root is
    * never a silent miss (a tombstone written beside the versions instead
    * of inside one would filter nothing, forever). SERVING keeps explicit
    * entry points per form ([[topKFromStore]] vs [[topKFromVersionedStore]])
    * and the STREAMED appender deliberately does not resolve per batch —
    * a pointer flip mid-stream must follow the quiesce/retrain/restart
    * contract on [[retrainIndex]], not silently re-target. */
  private[graft] def resolveStore(spark: SparkSession, path: String): String =
    currentVersion(spark, path).fold(path)(v => s"$path/v$v")

  /** The servable version number, or None for an unversioned/empty root. */
  def currentVersion(spark: SparkSession, path: String): Option[Int] =
    graft.StoreFs.readMarker(spark, path, "_graft_current").flatMap(_.toIntOption)

  private def writeCurrent(spark: SparkSession, path: String, v: Int): Unit =
    graft.StoreFs.writeMarker(spark, path, "_graft_current", v.toString)

  /** The directory of the currently-servable version. Raises on a root
    * with no `_graft_current` — an unversioned store should be read with
    * the flat-path entry points. */
  def currentIndexPath(spark: SparkSession, path: String): String = {
    val v = currentVersion(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$path has no _graft_current marker — not a versioned ANN index root " +
        "(seed it with writeVersionedIndex, or read a flat store with " +
        "topKFromStore directly)"))
    s"$path/v$v"
  }

  /** Layout-agnostic versioned-root seeding: `build` writes a COMPLETE
    * index store (any layout — [[writeIndex]], [[Pq.writeIvfPqIndex]])
    * into the directory it is handed; the pointer flips to v1 after.
    * Shared by [[writeVersionedIndex]] and
    * [[Pq.writeVersionedIvfPqIndex]]. */
  private[graft] def seedVersionedRoot(spark: SparkSession, path: String)(
      build: String => Unit): Unit = {
    require(currentVersion(spark, path).isEmpty,
      s"$path is already a versioned index root — use retrainIndex for a new version")
    build(s"$path/v1")
    writeCurrent(spark, path, 1)
  }

  /** Layout-agnostic blue/green version bump (the [[retrainIndex]]
    * contract): `build` writes the complete replacement into v_N+1 while
    * v_N keeps serving; the pointer flips after. */
  private[graft] def bumpVersion(spark: SparkSession, path: String)(
      build: String => Unit): Int = {
    val next = currentVersion(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$path is not a versioned index root — seed it with writeVersionedIndex")) + 1
    build(s"$path/v$next")
    writeCurrent(spark, path, next)
    next
  }

  /** Seed a VERSIONED index root: builds v1 and points `_graft_current`
    * at it. All maintenance verbs ([[appendToIndex]], [[deleteFromIndex]],
    * [[graft.Maintain.compactAnnIndex]], the streamed appends) apply to
    * the resolved version directory — [[currentIndexPath]]. */
  def writeVersionedIndex(corpus: DataFrame, c: Int, path: String,
                          iters: Int = 3, idCol: String = "vec_id",
                          vecCol: String = "embedding"): Unit =
    seedVersionedRoot(corpus.sparkSession, path)(
      dir => writeIndex(corpus, c, dir, iters, idCol, vecCol))

  /** Blue/green retrain: train + assign the corpus into version N+1 while
    * version N keeps serving untouched, then flip the pointer. The swap is
    * one small-file overwrite — readers planned before it serve the old
    * version to completion (their paths are resolved), readers planned
    * after it serve the new one; there is no window where the root is
    * unservable. Returns the new version number. Rollback = the old
    * version directory is still on disk: point `_graft_current` back until
    * [[graft.Maintain.pruneIndexVersions]] reclaims it.
    *
    * COORDINATION with continuous appenders (the single-writer rule's
    * versioned form): an appender ([[appendToIndex]] or a
    * [[graft.streaming.StreamingIndexer.annStreamServed]] stream) resolves
    * its version directory ONCE — appends that land on v_N after the
    * pointer flipped to v_N+1 serve nobody. Retrain from the same
    * scheduler slot as ingest: quiesce the appender, retrain over a corpus
    * that includes everything it committed, flip, restart the appender
    * against [[currentIndexPath]] (a restarted STREAM also needs
    * [[graft.streaming.StreamingIndexer.resetBatchMarker]] on the new
    * version directory — it has no marker — or a fresh checkpoint; the
    * lineage guard will otherwise raise on the first batch). */
  def retrainIndex(corpus: DataFrame, c: Int, path: String, iters: Int = 3,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Int =
    bumpVersion(corpus.sparkSession, path)(
      dir => writeIndex(corpus, c, dir, iters, idCol, vecCol))

  /** [[topKFromStore]] against a versioned root: resolves the servable
    * version at plan time and probes it. */
  def topKFromVersionedStore(spark: SparkSession, path: String,
                             queries: DataFrame, k: Int, nprobe: Int = 2,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             qIdCol: String = "query_id", qVecCol: String = "query_vec",
                             excludeSelf: Boolean = true): DataFrame =
    topKFromStore(spark, currentIndexPath(spark, path), queries, k, nprobe,
      idCol, vecCol, qIdCol, qVecCol, excludeSelf)

  /** Probe: exact cosine top-k within the `nprobe` nearest lists per query. */
  def topK(assigned: DataFrame, queries: DataFrame,
           centroids: Array[Array[Double]], k: Int, nprobe: Int = 2,
           idCol: String = "vec_id", vecCol: String = "embedding",
           qIdCol: String = "query_id", qVecCol: String = "query_vec",
           excludeSelf: Boolean = true): DataFrame = {
    val probes = queries.select(col(qIdCol), col(qVecCol),
        explode(probe_lists(col(qVecCol).cast("array<double>"), centroids, nprobe))
          .as("list_id"))
    val joined = assigned.join(broadcast(probes), Seq("list_id"))
    val candidates = (if (excludeSelf) joined.where(col(idCol) =!= col(qIdCol)) else joined)
      .withColumn("cos", vec_cosine(col(vecCol), col(qVecCol)))
    val w = Window.partitionBy(col(qIdCol)).orderBy(desc("cos"), col(idCol))
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
  }
}
