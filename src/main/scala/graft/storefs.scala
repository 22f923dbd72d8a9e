package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The store-lifecycle kernel: the ONE place that knows the on-disk swap
  * protocol every materialized store shares (Krypton's base + deltas +
  * compaction shape — a base table, delta segments committed by rename,
  * and rewrites swapped in by rename-aside). Every store verb that
  * replaces data goes through [[stagedRewrite]] (a whole directory) or
  * [[swapPartitions]] (named partitions of one), commits new segments
  * through [[commitDir]], and reads or writes its small marker files
  * through [[readMarker]] / [[writeMarker]]. Every store is opened
  * through [[read]], which resolves the schema with no Spark job. Every
  * insert-only append asks [[appendNeeded]] first.
  *
  * The swap, for each replaced directory `d`:
  *   1. the replacement is written to a staging dir (`d.swap_tmp` for a
  *      whole directory, `.swap_tmp/<name>` inside the root for
  *      partitions) — the live data is untouched until it is complete;
  *   2. `d` is renamed ASIDE (`d.swap_old`, `.swap_old_<name>`);
  *   3. the staged dir is renamed to `d`;
  *   4. the aside copy is deleted.
  * A crash at any step leaves a full copy under a name [[recover]] knows.
  * Recovery runs at the entry of every swap (and of the verbs that read a
  * store's layout before swapping): an aside with no live partner is a
  * crash between steps 2 and 3 and is restored; an aside beside a live
  * partner is a crash between 3 and 4 and is dropped; only then are the
  * staging dirs discarded. The staged copy is never promoted — the
  * interrupted verb simply runs again on restored data.
  *
  * Contract: single writer per store (README "Write-path concurrency
  * contract"); readers are excluded during the two renames. */
private[graft] object StoreFs {

  private val Tmp = ".swap_tmp"
  private val Old = ".swap_old"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sibling(p: Path, suffix: String): Path =
    new Path(p.getParent, p.getName + suffix)

  /** True when `path` holds at least one data file (recursively; names
    * starting with `_` or `.` are markers, staging or asides — not data). */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    def any(p: Path): Boolean = fs.exists(p) && fs.listStatus(p).exists { st =>
      if (st.isDirectory) any(st.getPath)
      else !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    }
    any(root)
  }

  /** Open the parquet data at `paths` (the `spark.read.parquet` frame, with
    * `basePath` as that reader option) without the schema-inference job
    * Spark would launch: the schema comes from one footer read on the
    * driver — the file Spark's inference itself would pick, the first data
    * file in path order (`ParquetUtils.splitFiles`) — and is handed to the
    * reader. Partition columns are still discovered from the directories
    * (Spark's partitioned writes never repeat them inside the files), so
    * the frame, its schema and its rows are those of the plain read.
    * Nothing is kept across calls. */
  def read(spark: SparkSession, paths: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    val reader = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    footerSchema(spark, paths)
      .fold(reader.parquet(paths: _*))(s => reader.schema(s).parquet(paths: _*))
  }

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** The schema Spark's inference would derive for `paths`, or None where
    * this shortcut does not mirror the listing exactly and Spark infers as
    * before: a glob or missing path, no data file, a parquet summary or
    * hidden file among the leaves, or a subdirectory that is not a
    * `name=value` partition. */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val leaves = Seq.newBuilder[FileStatus]
    var partitionDirsOnly = true
    def walk(fs: FileSystem, dir: Path): Unit =
      fs.listStatus(dir).filterNot(st => Bridge.hiddenPathName(st.getPath.getName))
        .foreach { st =>
          if (!st.isDirectory) leaves += st
          else {
            partitionDirsOnly &&= st.getPath.getName.contains('=')
            walk(fs, st.getPath)
          }
        }
    for (p <- paths) {
      val path = new Path(p)
      val fs = fsOf(spark, path)
      if (!fs.exists(path)) return None
      val st = fs.getFileStatus(path)
      if (st.isDirectory) walk(fs, path) else leaves += st
    }
    val files = leaves.result()
    val plain = partitionDirsOnly && !files.exists { f =>
      val n = f.getPath.getName; n.startsWith("_") || n.startsWith(".")
    }
    if (!plain || files.isEmpty) None
    else Some(Bridge.parquetFileSchema(spark, files.minBy(_.getPath.toString)))
  }

  /** A small marker file's trimmed UTF-8 content, None when absent. */
  def readMarker(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  def readLongMarker(spark: SparkSession, dir: String, name: String): Option[Long] =
    readMarker(spark, dir, name).flatMap(_.toLongOption)

  /** Overwrite a marker file in place (one small-file write). */
  def writeMarker(spark: SparkSession, dir: String, name: String,
                  value: String): Unit = {
    val p = new Path(dir, name)
    val fs = fsOf(spark, p)
    val out = fs.create(p, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  def clearMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(dir, name)
    fsOf(spark, p).delete(p, false)
  }

  /** Entry-time crash recovery for the store at `path` — see the object
    * doc for the rule. Covers both swap forms: the whole-directory aside
    * (a sibling of `path`) and per-partition asides inside it. Restores
    * first, discards staging last. */
  def recover(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    def restoreOrDrop(aside: Path, live: Path): Unit =
      if (!fs.exists(aside)) ()
      else if (fs.exists(live)) fs.delete(aside, true)
      else require(fs.rename(aside, live),
        s"failed to restore $aside to $live after a crashed swap")
    restoreOrDrop(sibling(root, Old), root)
    if (fs.exists(root)) {
      val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      dirs.filter(_.getName.startsWith(Old + "_")).foreach { a =>
        restoreOrDrop(a, new Path(root, a.getName.stripPrefix(Old + "_")))
      }
      dirs.filter(_.getName.startsWith(Tmp)).foreach(fs.delete(_, true))
    }
    fs.delete(sibling(root, Tmp), true)
  }

  /** Rename-aside swap of `staged` into `live` (steps 2-4). */
  private def swap(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    if (fs.exists(live))
      require(fs.rename(live, aside), s"failed to set aside $live before swap")
    require(fs.rename(staged, live),
      s"failed to swap $staged into $live — previous contents preserved at $aside")
    fs.delete(aside, true)
  }

  /** Atomic overwrite of a store directory whose NEW contents are computed
    * FROM its current contents (read → merge → rewrite — Spark cannot
    * `mode("overwrite")` a path that feeds its own plan): `write` stages
    * the complete replacement (running the plan, and so the read of the
    * old data, to completion) into the directory it is handed, including
    * any marker files that must travel with the data; then the swap. */
  def stagedRewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recover(spark, path)
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(fs.exists(root), s"stagedRewrite target does not exist: $path")
    val tmp = sibling(root, Tmp)
    write(tmp.toString)
    swap(fs, tmp, root, sibling(root, Old))
  }

  /** Replace the named partition dirs (`bucket=3`, `list_id=7`, …) of the
    * store at `path`: `write` stages every replacement in ONE job into the
    * directory it is handed (same partition layout), then each partition
    * swaps on its own. A partition that staged no output swaps in empty —
    * every row it held was removed. Partitions not named are never read,
    * listed or touched. */
  def swapPartitions(spark: SparkSession, path: String, names: Seq[String])(
      write: String => Unit): Unit = {
    recover(spark, path)
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val tmp = new Path(root, Tmp)
    write(tmp.toString)
    names.foreach { n =>
      val staged = new Path(tmp, n)
      if (!fs.exists(staged)) fs.mkdirs(staged)
      swap(fs, staged, new Path(root, n), new Path(root, s"${Old}_$n"))
    }
    fs.delete(tmp, true)
  }

  /** The append contract every insert-only store shares — the rebuild's
    * form of the reference's index-by-`_id` (ElasticIndex.java:470-621):
    * a batch appends rows only for keys the store does not hold yet.
    * `store` is the store's rows (by-name: nothing is planned when `path`
    * holds no data file), `delta` the rows the batch would append and
    * `keys` its key column (one column, named as in the store). The probe
    * reads only the stored rows whose key is among `keys`, semi-joined
    * against them broadcast — they are batch-sized — and writes nothing.
    *
    *  - A fresh batch (`replay` false) needs its append unless one of its
    *    keys is stored already, which raises "insert-only contract
    *    violated": an edit appended blind would serve its key twice.
    *  - A self-replay of a batch that may have half-applied (`replay`
    *    true: a crash after the append committed, before the caller's
    *    batch marker) needs its append when none of its keys is stored,
    *    and not when the stored rows equal the delta on the key and
    *    `cols` as a multiset — the atomically committed append already
    *    landed. Anything else raises "DIFFERENT `differs`": no self-replay
    *    of a deterministic delta can produce it, so it is an edit wearing
    *    a replay's batch id, and replay tolerance never becomes edit
    *    tolerance.
    *
    * `what` names the verb and `edits` how to make an edit instead, both
    * for the error messages. */
  def appendNeeded(path: String, store: => DataFrame, keys: DataFrame,
                   delta: DataFrame, cols: Seq[String], replay: Boolean,
                   what: String, edits: String,
                   differs: String = "content"): Boolean = {
    if (!hasDataFiles(delta.sparkSession, path)) return true
    val key = keys.columns.head
    val present = store.join(broadcast(keys), Seq(key), "left_semi")
    if (!replay) {
      val hit = present.select(col(key)).limit(5).collect().map(_.get(0))
      if (hit.nonEmpty)
        throw new IllegalArgumentException(
          s"$what: insert-only contract violated — key(s) " +
            s"${hit.mkString(", ")} already exist in $path. Appending an " +
            s"edit blind would serve the key twice; $edits.")
      return true
    }
    val compared = (key +: cols).map(col)
    val stored = present.select(compared: _*)
    if (stored.isEmpty) return true
    val batch = delta.select(compared: _*)
    val mismatch = batch.exceptAll(stored).unionByName(stored.exceptAll(batch))
      .limit(5).collect().map(_.get(0)).distinct
    if (mismatch.nonEmpty)
      throw new IllegalArgumentException(
        s"$what (replay): key(s) ${mismatch.mkString(", ")} exist in $path " +
          s"with DIFFERENT $differs than this batch — an exact self-replay " +
          s"would match row for row, so this is an edit, not redelivery; $edits.")
    false
  }

  /** The one partitioned write of a store whose files promise an order:
    * `df`'s rows sorted within each task by `partitionCols ++ order`, and
    * a writer partitioned by `partitionCols` (none: a flat store). Spark's
    * planned write sorts by the partition columns itself unless the plan
    * already leads with them, and the optimizer then drops any narrower
    * sort beneath it — so `sortWithinPartitions(order)` alone leaves files
    * in write order. Leading with the partition columns keeps `order`.
    * A nullable string partition column is sorted in the form the write
    * partitions by (`""` read as null — Spark's own rewrite), so the plan's
    * order is the one the write asks for. Clustering (`repartition`) stays
    * the caller's choice. */
  def sortedWrite(df: DataFrame, partitionCols: Seq[String],
                  order: Seq[String]): DataFrameWriter[Row] = {
    val keyed = partitionCols.foldLeft(df) { (d, p) =>
      val f = d.schema(p)
      if (f.dataType == StringType && f.nullable)
        d.withColumn(p, Bridge.emptyToNull(col(p)))
      else d
    }
    val writer = keyed.sortWithinPartitions((partitionCols ++ order).map(col): _*).write
    if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*)
  }

  /** Add a NEW directory `name` under the existing `path` (a delta
    * segment): `write` fills a staging dir, and the rename to `name` is
    * the atomic commit — the name's existence is the "applied" marker. */
  def commitDir(spark: SparkSession, path: String, name: String)(
      write: String => Unit): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(fs.exists(root), s"store does not exist: $path")
    val tmp = new Path(root, s"$Tmp${System.nanoTime}")
    write(tmp.toString)
    require(fs.rename(tmp, new Path(root, name)),
      s"failed to commit $name under $path")
  }
}
