package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maintenance plane (M2-M9): segment roll, purge, TTL enforcement, truncate.
  *
  * The reference runs these as wall-clock schedulers per index
  * (reference: DefaultIndexManager.java:49-75 — purge hourly, TTL
  * delete-by-query every 60 s, segment re-check every 60 s;
  * IndexDropManager.java:73-99). In the Spark rebuild they are deterministic
  * DataFrame functions parameterized by `now` — scheduling stays outside the
  * engine, and "dropping a segment" is dropping a partition directory, which
  * at 100 TB is a metadata operation, not a data rewrite.
  */
object Maintain {

  /** M2: compute the segment value for a timestamp column. Segments are
    * partition values, so "rolling" to a new segment needs no scheduler
    * (reference: DefaultIndexManager.java:105-151 names indexes by time
    * bucket; IndexDropManager.java:92-99 fixed-width frames). */
  def segmentOf(ts: org.apache.spark.sql.Column, g: SegmentGranularity): org.apache.spark.sql.Column =
    g match {
      // fixed-width frame start: floor(epoch / size) * size — double math is
      // exact here (epoch-seconds × frames ≪ 2^53)
      case SegmentGranularity.Fixed(sizeMs) =>
        val sec = sizeMs / 1000.0
        // via timestamp: date and timestamp_ntz inputs both reach an
        // epoch-castable type (ntz→numeric is not a supported cast)
        timestamp_seconds(floor(ts.cast("timestamp").cast("double") / sec) * sec)
      case _ => g.truncUnit match {
        case Some(unit) => date_trunc(unit, ts)
        case None => lit(null).cast("timestamp")
      }
    }

  /** Reference alias naming: `<keyspace>_<table>` lowercased
    * (reference: ElasticIndexTest.java:134-136 golden
    * `testkeyspace_testtable`). */
  def aliasName(keyspace: String, table: String): String =
    s"${keyspace.toLowerCase}_${table.toLowerCase}"

  private def segmentDateFormat(g: SegmentGranularity): Option[String] = g match {
    case SegmentGranularity.Year  => Some("yyyy")
    case SegmentGranularity.Month => Some("yyyy-MM")
    case SegmentGranularity.Day   => Some("yyyy-MM-dd")
    case SegmentGranularity.Hour  => Some("yyyy-MM-dd-HH")
    case _ => None
  }

  /** M2 naming: physical segment-index name under the alias —
    * `<alias>_index@<suffix>`, suffix = "" (OFF), the lowercased custom
    * name (CUSTOM), or the UTC-formatted bucket date
    * (reference: DefaultIndexManager.java:105-151; goldens
    * ElasticIndexTest.java:129-168: `testkeyspace_testtable_index@`,
    * `..._index@2016-11-18-10`, `..._index@<yyyy-MM>`). */
  def segmentIndexName(alias: String, g: SegmentGranularity,
                       at: java.time.Instant,
                       customName: Option[String] = None): String = {
    val suffix = g match {
      case SegmentGranularity.Off => ""
      case SegmentGranularity.Fixed(_) =>
        customName.map(_.toLowerCase).getOrElse(
          throw new IllegalArgumentException("CUSTOM mode can't have a null name"))
      case other =>
        java.time.format.DateTimeFormatter
          .ofPattern(segmentDateFormat(other).get)
          .withZone(java.time.ZoneOffset.UTC).format(at)
    }
    s"${alias}_index@$suffix"
  }

  /** Column form of [[segmentIndexName]] for labeling doc rows with their
    * physical segment-index name (date modes only — a codegen'd
    * `date_format`, no shuffle). */
  def segmentIndexNameCol(alias: String, g: SegmentGranularity,
                          ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    g match {
      case SegmentGranularity.Off => lit(s"${alias}_index@")
      // refuse rather than silently collapsing every CUSTOM frame into the
      // OFF-mode name (the scalar API throws for a missing custom name too)
      case SegmentGranularity.Fixed(_) => throw new IllegalArgumentException(
        "CUSTOM/fixed segments have user-supplied names — use segmentIndexName(alias, g, at, Some(name))")
      case other =>
        concat(lit(s"${alias}_index@"), date_format(ts, segmentDateFormat(other).get))
    }

  /** M3: list segments that still hold live docs (groupBy only ever emits
    * populated groups — "emptiness" is a property of the physical layout,
    * checked by [[purgeEmptySegments]] against the directory listing)
    * (reference: ElasticIndex.java:839-856 `_count` then delete-if-0). */
  def liveSegments(docs: DataFrame, segmentCol: String): DataFrame =
    docs.groupBy(col(segmentCol)).agg(count(lit(1)).as("doc_count"))

  /** M3 physical: delete partition directories whose segment no longer has
    * live documents — the Spark analog of the reference's hourly
    * count-then-delete sweep (ElasticIndex.java:839-856). `docs` should be
    * the current read of the table at `tablePath` (post doc-TTL filter). */
  def purgeEmptySegments(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                         segmentCol: String, docs: DataFrame): Seq[String] = {
    val live = liveSegments(docs, segmentCol)
      .select(col(segmentCol).cast("string"))
      .collect().map(_.getString(0)).toSet
    dropSegmentDirs(spark, tablePath, segmentCol, live.contains)
  }

  /** M4: doc-level TTL enforcement — keep docs whose `_cassandraTtl` is still
    * in the future; `ttl-shift` widens the comparison
    * (reference: ElasticIndex.java:825-836; shift ElasticIndex.java:827,
    * IndexConfig.java:128-129). Analytic mode (M6) suppresses expiry. */
  def ttlFilter(docs: DataFrame, nowEpochSec: Long, cfg: IndexConfig,
                ttlCol: String = "_cassandraTtl"): DataFrame =
    if (cfg.analyticMode) docs
    else docs.where(col(ttlCol).isNull || col(ttlCol) > lit(nowEpochSec + cfg.ttlShiftSec))

  /** M5: segment-level TTL — drop whole segments older than the watermark in
    * one partition-pruned predicate (reference: IndexDropManager.java:154-168
    * parses timestamps out of index names; here the segment IS a timestamp). */
  def dropExpiredSegments(docs: DataFrame, segmentCol: String,
                          watermark: java.sql.Timestamp): DataFrame =
    docs.where(col(segmentCol) >= lit(watermark))

  /** M7: truncate — empty doc set with the same schema
    * (reference: ElasticIndex.java:817-822). */
  def truncate(docs: DataFrame): DataFrame = docs.limit(0)

  /** ES snapshot/restore analog over the file-backed doc store: `snapshot`
    * copies the store's CURRENT file set to an immutable snapshot
    * directory, `restore` replaces the store with a snapshot's content.
    * Both are driver-side FS tree copies — metadata-scale work (file
    * count, the same plane as [[compactSegments]]' listing), zero row
    * movement through Spark; on an object store this is a server-side
    * copy per file. A restore after arbitrary mutations reproduces the
    * snapshot state exactly (roundtrip-proven by q_snapshot_restore).
    * Returns the number of files copied. */
  def snapshot(spark: org.apache.spark.sql.SparkSession,
               tablePath: String, snapshotPath: String): Int =
    copyTree(spark, tablePath, snapshotPath)

  def restore(spark: org.apache.spark.sql.SparkSession,
              snapshotPath: String, tablePath: String): Int = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(tablePath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) fs.delete(dst, true) // restore REPLACES the store
    copyTree(spark, snapshotPath, tablePath)
  }

  private def copyTree(spark: org.apache.spark.sql.SparkSession,
                       from: String, to: String): Int = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val src = new Path(from)
    val dst = new Path(to)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"snapshot source does not exist: $from")
    FileUtil.copy(fs, src, fs, dst, false, true,
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(dst, true)
    var n = 0
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  /** M3/M5/M8 physical plane: delete the partition directories of segments
    * that fail `keep`, via the Hadoop FileSystem API (works on local fs,
    * HDFS, and object stores alike). At 100 TB dropping a segment is this —
    * a metadata/directory operation — never a data rewrite.
    * Returns the dropped segment values. */
  def dropSegmentDirs(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      segmentCol: String, keep: String => Boolean): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition dir names are URI-escaped (':' → '%3A'); unescape before
    // handing the value to the predicate or timestamp segments compare wrong
    def unescape(s: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(segmentCol + "="))
      .map(st => st.getPath)
      .filterNot(p => keep(unescape(p.getName.stripPrefix(segmentCol + "="))))
      // only report segments whose delete actually succeeded
      .filter(p => fs.delete(p, true))
      .map(p => unescape(p.getName.stripPrefix(segmentCol + "=")))
  }

  /** M-plane physical extension: compact a segmented doc store's small
    * files. Incremental upserts write files-per-batch × segments small
    * files; at 100 TB the FILE COUNT becomes the bottleneck (driver
    * listing, task scheduling, per-row-group overhead) long before data
    * volume does.
    *
    * Shape: ONE scan of every fragmented segment (≥ `minFilesToCompact`
    * data files), ONE segment-clustered write of all of them
    * ([[Indexer.writeSegmented]]'s repartition-by-segment +
    * `maxRecordsPerFile` — big segments split automatically, no per-segment
    * row counting), then the [[StoreFs.swapPartitions]] rename-aside swap
    * per segment. Never a job per segment: a 1000-segment store compacts
    * in one Spark job plus metadata renames, where a segment-at-a-time
    * loop would pay 2000 serial job overheads. A crash at any point leaves
    * every segment's data under a name the next run's entry-time recovery
    * restores. Returns (segment, filesBefore, filesAfter).
    *
    * The reference has no analog — ES merges Lucene segments internally;
    * a parquet store must do this itself.
    *
    * CONCURRENCY CONTRACT (see README "Write-path concurrency contract"):
    * single-writer per segment. Concurrent compact/write on DIFFERENT
    * segments is safe (directories are independent; `target` scopes the
    * listing and the swap). A write to the SAME segment after the listing
    * here is deleted by the swap — serialize same-segment maintenance and
    * ingest, as the reference serializes per-index maintenance on one
    * manager thread (DefaultIndexManager.java:49-75). Store CREATION races
    * are absorbed, not errored: `writeSegmented` overwrites, the analog of
    * the reference treating `resource_already_exists` as success
    * (ElasticIndex.java:391-397). */
  def compactSegments(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                      segmentCol: String, maxRecordsPerFile: Long = 0L,
                      minFilesToCompact: Int = 2,
                      target: String => Boolean = _ => true): Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    require(minFilesToCompact >= 2, "minFilesToCompact must be at least 2")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def unescape(s: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)
    def dataFileCount(dir: Path): Int =
      fs.listStatus(dir).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    // a segment set aside by a crashed swap must be back before the listing
    StoreFs.recover(spark, tablePath)
    if (!fs.exists(root)) return Seq.empty
    val fragmented = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(segmentCol + "="))
      .filter(st => target(unescape(st.getPath.getName.stripPrefix(segmentCol + "="))))
      .map(st => st.getPath -> dataFileCount(st.getPath))
      .filter(_._2 >= minFilesToCompact)
    if (fragmented.isEmpty) return Seq.empty
    // one scan + one clustered write for ALL fragmented segments; basePath
    // keeps the partition column so the staging layout mirrors the store's
    StoreFs.swapPartitions(spark, tablePath, fragmented.map(_._1.getName)) { tmp =>
      val df = spark.read.option("basePath", tablePath)
        .parquet(fragmented.map(_._1.toString): _*)
      Indexer.writeSegmented(df, tmp, segmentCol, maxRecordsPerFile)
    }
    fragmented.map { case (dir, before) =>
      (unescape(dir.getName.stripPrefix(segmentCol + "=")), before, dataFileCount(dir))
    }
  }

  /** M-plane freshness for the phrase-suggester LM store — the sanctioned
    * rebuild for corpora that take EDITS, as a maintenance operator with a
    * cadence knob instead of a doc-comment: the LM tables are additive and
    * carry no doc keys, so [[graft.streaming.StreamingIndexer
    * .upsertStreamServed]] deliberately skips them and an edit-heavy
    * corpus would otherwise serve stale suggestions with no sanctioned
    * freshness path. Rebuilds the unigram/bigram tables from the CURRENT
    * corpus into a staging sibling and swaps WHOLE (the [[StoreFs.stagedRewrite]]
    * discipline — a reader never sees one rebuilt sub-table next to a
    * stale one, which two independent overwrites would expose), stamping
    * the build time into `_graft_built`.
    *
    * `ifOlderThanSec` > 0 is the cadence shape of the reference's hourly
    * maintenance sweeps (M3/M5 — DefaultIndexManager.java:70-72): call on
    * every sweep, act only when the last build is older than the knob; an
    * unstamped store (seeded by [[Search.writeSuggestStore]] directly)
    * counts as infinitely old. `nowEpochSec` is the caller's clock, same
    * as [[ttlFilter]]. Returns true when rebuilt. Pinned by
    * `q_suggest_rebuild`: edit → rebuild → served suggestions equal the
    * direct operator over the edited corpus. */
  def rebuildSuggestStore(docs: org.apache.spark.sql.DataFrame, field: String,
                          path: String, nowEpochSec: Long,
                          ifOlderThanSec: Long = 0L): Boolean =
    cadencedRebuild(docs.sparkSession, path, nowEpochSec, ifOlderThanSec)(
      dir => Search.writeSuggestStore(docs, field, dir))

  /** [[rebuildSuggestStore]]'s twin for the COMPLETION dictionary — the
    * other suggester store whose counts are not doc-keyed (per-(context,
    * term) doc counts), so edits and deletes cannot subtract; the
    * sanctioned freshness path is the same cadence-gated whole-store swap.
    * Pinned by `q_completion_rebuild`: edit → rebuild → served completions
    * equal the direct operator over the edited corpus. */
  def rebuildCompletionStore(docs: org.apache.spark.sql.DataFrame, field: String,
                             path: String, nowEpochSec: Long,
                             ifOlderThanSec: Long = 0L,
                             contextCols: Seq[String] = Seq.empty): Boolean =
    cadencedRebuild(docs.sparkSession, path, nowEpochSec, ifOlderThanSec)(
      dir => Search.writeCompletionStore(docs, field, dir, contextCols))

  /** The cadence-gated whole-store rebuild shared by the suggester stores:
    * act only when the `_graft_built` stamp is older than the knob (an
    * unstamped store counts as infinitely old), build into a staging
    * sibling, swap WHOLE ([[StoreFs.stagedRewrite]] — a reader never sees one
    * rebuilt sub-table beside a stale one), stamp the build time. Returns
    * true when rebuilt. */
  private def cadencedRebuild(spark: org.apache.spark.sql.SparkSession,
                              path: String, nowEpochSec: Long,
                              ifOlderThanSec: Long)(
                              build: String => Unit): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ifOlderThanSec > 0 && fs.exists(root) &&
        StoreFs.readLongMarker(spark, path, "_graft_built")
          .exists(b => nowEpochSec - b < ifOlderThanSec))
      return false
    def buildInto(dir: String): Unit = {
      build(dir)
      StoreFs.writeMarker(spark, dir, "_graft_built", nowEpochSec.toString)
    }
    if (!fs.exists(root)) buildInto(path)
    else StoreFs.stagedRewrite(spark, path)(buildInto)
    true
  }

  /** M-plane maintenance for the materialized ANN indexes
    * ([[graft.pipeline.Ivf.writeIndex]] / [[graft.pipeline.Pq.writeIvfPqIndex]]
    * — the layouts share `cells` + `deletes`): apply the tombstone sidecar
    * PHYSICALLY. [[graft.pipeline.Ivf.deleteFromIndex]] makes deletes
    * instant (served searches anti-join the sidecar); this reclaims the
    * space and restores the no-filter serve path — Lucene's
    * deleted-docs-bitset → segment-merge lifecycle, and the ANN analog of
    * the reference's data-leaves plane (M4/M5 TTL, S5 deletes —
    * DefaultIndexManager.java:70-72, ElasticIndex.java:825-836).
    *
    * Scale shape: one id+partition-column pruned scan finds which of the C
    * cells partitions physically hold tombstoned ids (output bounded by
    * C), then ONLY those partitions are re-written (anti-join on the
    * delete keys) and swapped in with the [[compactSegments]] rename
    * discipline — untouched lists are never read or rewritten. The sidecar
    * is cleared LAST: a crash at any point leaves every remaining
    * tombstone still filtering at serve time (already-swapped partitions
    * anti-join to a no-op), so serving is correct through any prefix of
    * the compaction EXCEPT the instant between one list's two swap
    * renames — a crash there hides that single list's live rows until the
    * next compactAnnIndex run's entry-time [[StoreFs.recover]] restores
    * them. Same single-writer-per-store contract as [[compactSegments]].
    * Returns (rows physically removed, partitions rewritten); (0, 0) with
    * the sidecar cleared when the tombstones matched nothing. */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession, path0: String,
                      idCol: String = "vec_id"): (Long, Int) = {
    import org.apache.hadoop.fs.Path
    val path = graft.pipeline.Ivf.resolveStore(spark, path0)
    val cellsRoot = s"$path/cells"
    val delDir = new Path(s"$path/deletes")
    val fs = delDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a list set aside by a crashed swap is restored even when there is
    // nothing to compact (its tombstones are still in the sidecar — the
    // sidecar clears LAST — so serving stays correct until then)
    StoreFs.recover(spark, cellsRoot)
    if (!StoreFs.hasDataFiles(spark, delDir.toString)) return (0L, 0)
    val dels = spark.read.parquet(delDir.toString).select(col(idCol)).distinct()
    val cells = spark.read.parquet(cellsRoot)
    // which lists physically hold tombstoned ids: id + partition column
    // only (column-pruned), output bounded by C
    val affected = cells.join(dels, Seq(idCol), "left_semi")
      .select(col("list_id")).distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) { fs.delete(delDir, true); return (0L, 0) }
    val removed = cells.where(col("list_id").isin(affected: _*))
      .join(dels, Seq(idCol), "left_semi").count()
    // one job stages every affected list's survivors; basePath keeps the
    // partition column so the staging layout mirrors the store's
    StoreFs.swapPartitions(spark, cellsRoot, affected.map(l => s"list_id=$l")) { tmp =>
      spark.read.option("basePath", cellsRoot)
        .parquet(affected.map(l => s"$cellsRoot/list_id=$l"): _*)
        .join(dels, Seq(idCol), "left_anti")
        .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    }
    fs.delete(delDir, true)
    (removed, affected.size)
  }

  /** Fold a flat count store's delta segments back into its sorted base
    * (the M-plane compaction for
    * [[graft.pipeline.TextStats.appendNgramCounts]] /
    * [[graft.pipeline.TextStats.appendBigramLm]] and the keyed stores'
    * agg tables — the Lucene segment-merge analog, r14): appends land as
    * O(|batch|) delta segments; this one O(|store|) pass restores the
    * single sorted table, and with it the serve paths' singleton-prune
    * parquet pushdown. Idempotent and crash-safe — the [[StoreFs.stagedRewrite]]
    * whole-dir swap carries the delta dirs away with the old base, so a
    * crash leaves either the segmented store or the fully-compacted one,
    * never a double-counted mix. Preserves redelivery protection by
    * re-stamping `_graft_applied` with the youngest folded batch id (the
    * only one an at-least-once redelivery can still present). Key and
    * count columns are read from the store's own 2-column schema.
    * Returns the number of delta segments folded (0 = nothing to do). */
  def compactCountStore(spark: org.apache.spark.sql.SparkSession,
                        path: String): Int = {
    val deltas = graft.pipeline.TextStats.listCountDeltas(spark, path)
    if (deltas.isEmpty) return 0
    val schema = spark.read.parquet(path).schema
    require(schema.fields.length == 2,
      s"$path is not a flat count store (schema ${schema.simpleString})")
    val (key, cnt) = (schema.fields(0).name, schema.fields(1).name)
    val youngest = deltas.map(_.getName)
      .collect { case n if n.startsWith(".delta_b") =>
        n.stripPrefix(".delta_b").toLong }
      .sorted.lastOption
      .orElse(StoreFs.readLongMarker(spark, path, graft.pipeline.TextStats.AppliedMarker))
    val merged = graft.pipeline.TextStats.readCountStore(spark, path, key, cnt)
    StoreFs.stagedRewrite(spark, path) { tmp =>
      merged.sort(key).write.parquet(tmp)
      youngest.foreach(id =>
        StoreFs.writeMarker(spark, tmp, graft.pipeline.TextStats.AppliedMarker, id.toString))
    }
    deltas.size
  }

  /** S9 admin: `#get_mapping#` — the doc-store schema as rows (engine type +
    * ES-recommended mapping type per §1.3), the analog of returning the ES
    * mapping as a fake result row
    * (reference: EsSecondaryIndex.java:466-468, 517-533; README.md:606-632). */
  def getMapping(docs: DataFrame): Seq[(String, String, String)] =
    docs.schema.fields.toSeq.map(f =>
      (f.name, f.dataType.simpleString, DocModel.esType(f.dataType)))

  /** Reclaim retired versions of a versioned ANN index root
    * ([[graft.pipeline.Ivf.writeVersionedIndex]] /
    * [[graft.pipeline.Ivf.retrainIndex]]): keep the current version plus
    * the `keepPrevious` most recent below it (rollback depth), delete the
    * rest — the M5 data-leaves sweep for retired index generations, the
    * analog of dropping a reference `<alias>_index@date` after the alias
    * moved on. Never touches the current version (or anything newer — a
    * concurrent retrain staging v_N+1 is invisible to the prune by
    * construction). Returns the versions deleted. */
  def pruneIndexVersions(spark: org.apache.spark.sql.SparkSession, path: String,
                         keepPrevious: Int = 0): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    require(keepPrevious >= 0, "keepPrevious must be >= 0")
    val cur = graft.pipeline.Ivf.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path is not a versioned ANN index root (no _graft_current)"))
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toInt)
      .filter(v => v < cur - keepPrevious)
      .sorted
    stale.foreach { v =>
      require(fs.delete(new Path(root, s"v$v"), true),
        s"failed to delete retired index version $path/v$v")
    }
    stale
  }

  /** ES `_field_caps` analog: per field, the ES type plus whether it is
    * searchable and aggregatable. Everything the scan can read is
    * searchable here (predicates are plan columns); aggregatable mirrors
    * ES's rule — text is not (no fielddata), keyword/numeric/date/bool
    * are. */
  def fieldCaps(docs: DataFrame): Seq[(String, String, Boolean, Boolean)] =
    docs.schema.fields.toSeq.map { f =>
      val es = DocModel.esType(f.dataType)
      (f.name, es, true, es != "text" && es != "binary")
    }

  /** ES `_analyze` analog: how the search analyzer tokenizes a string —
    * the same lowercase/non-alphanumeric-split every match-family
    * operator and the inverted index use. */
  def analyze(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty).toSeq

  /** ES `_analyze` with an explicit tokenizer + token-filter chain — the
    * analyzer-preview endpoint for CUSTOM analyzers. Declared subset:
    * tokenizers `standard` (unicode letter/digit/underscore runs),
    * `whitespace`, `letter`, `keyword`; filters `lowercase`, `uppercase`,
    * `asciifolding` (NFD + strip combining marks), `stop` (the engine's
    * stopword set), `unique` (first-occurrence dedup), `reverse`, and
    * `stemmer` (minimal English suffix-strip — sses→ss, ies→i, plural s;
    * declared divergence from ES's full Porter). Driver-side string work:
    * the endpoint analyzes ONE string, never a corpus. */
  def analyzeChain(text: String, tokenizer: String = "standard",
                   filters: Seq[String] = Seq("lowercase")): Seq[String] = {
    val toks0: Seq[String] = tokenizer match {
      case "standard" => text.split("[^\\p{L}\\p{N}_]+").toSeq.filter(_.nonEmpty)
      case "whitespace" => text.split("\\s+").toSeq.filter(_.nonEmpty)
      case "letter" => text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
      case "keyword" => Seq(text)
      case other => throw new IllegalArgumentException(
        s"unsupported tokenizer '$other' (standard/whitespace/letter/keyword)")
    }
    filters.foldLeft(toks0) { (ts, f) =>
      f match {
        case "lowercase" => ts.map(_.toLowerCase)
        case "uppercase" => ts.map(_.toUpperCase)
        case "asciifolding" => ts.map(t =>
          java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFD)
            .replaceAll("\\p{M}+", ""))
        case "stop" =>
          val sw = graft.pipeline.TextStats.Stopwords.toSet
          ts.filterNot(t => sw.contains(t.toLowerCase))
        case "unique" => ts.distinct
        case "reverse" => ts.map(_.reverse)
        case "stemmer" => ts.map(stemLite)
        case other => throw new IllegalArgumentException(
          s"unsupported token filter '$other' (lowercase/uppercase/" +
            "asciifolding/stop/unique/reverse/stemmer)")
      }
    }
  }

  private def stemLite(t: String): String =
    if (t.endsWith("sses")) t.dropRight(2)
    else if (t.endsWith("ies") && t.length > 4) t.dropRight(3) + "i"
    else if (t.endsWith("ss") || t.length <= 3) t
    else if (t.endsWith("s")) t.dropRight(1)
    else t

  /** Z-order clustering rewrite — the multi-column layout pass a 100 TB
    * lakehouse runs before mixed-predicate scanning. Each key column
    * rank-normalizes into a 16-bit cell against its global min/max (one
    * 1-row aggregate, broadcast back — the aggregate-then-broadcast
    * rule), the cells interleave into a 32-bit Morton code with the
    * shift-or spread trick (the geohash machinery generalized), and the
    * data range-partitions + sorts on it. Files then cover compact
    * hyper-rectangles in (k1, k2) space, so parquet min/max pruning cuts
    * scans filtered on EITHER key — not just a lexicographic prefix,
    * which a plain ORDER BY k1, k2 gives. Rows pass through unchanged
    * with `_zorder` attached; callers write and drop it.
    * Declared subset: exactly two numeric keys (the dominant use);
    * a constant column degenerates to cell 0. */
  def zorderRewrite(df: DataFrame, k1: String, k2: String,
                    partitions: Int = 32): DataFrame = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val stats = df.agg(
      min(col(k1).cast("double")).as("_z_min1"),
      max(col(k1).cast("double")).as("_z_max1"),
      min(col(k2).cast("double")).as("_z_min2"),
      max(col(k2).cast("double")).as("_z_max2"))
    def cell(c: Column, lo: Column, hi: Column): Column =
      when(hi <= lo, lit(0L)).otherwise(
        least(floor((c.cast("double") - lo) / (hi - lo) * 65536.0)
          .cast("long"), lit(65535L)))
    // spread bit i of a 16-bit value to bit 2i (the geohash masks)
    def spread(c: Column): Column = {
      val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x3333333333333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    val z = shiftleft(spread(cell(col(k1), col("_z_min1"), col("_z_max1"))), 1)
      .bitwiseOR(spread(cell(col(k2), col("_z_min2"), col("_z_max2"))))
    df.crossJoin(broadcast(stats))
      .withColumn("_zorder", z)
      .drop("_z_min1", "_z_max1", "_z_min2", "_z_max2")
      .repartitionByRange(partitions, col("_zorder"))
      .sortWithinPartitions("_zorder")
  }

  /** M12-analog observability for a materialized ANN index: one row of
    * store health — list count and CELL-BALANCE (an IVF list holding a
    * disproportionate share of the corpus is the ANN skew problem: its
    * probes pay that share at query time; rebalancing means retraining,
    * so the signal must be visible BEFORE queries slow down), plus the
    * tombstone backlog (compaction debt — [[compactAnnIndex]]'s input
    * queue) and the servable version for a versioned root. One
    * column-pruned aggregate over (list_id) plus two bounded reads
    * (centroid count, sidecar count); the vectors themselves are never
    * read. Accepts either a flat [[graft.pipeline.Ivf.writeIndex]] /
    * [[graft.pipeline.Pq.writeIvfPqIndex]] store or a versioned root
    * (resolved through `_graft_current`). */
  def annIndexStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val version = graft.pipeline.Ivf.currentVersion(spark, path)
    val p = graft.pipeline.Ivf.resolveStore(spark, path)
    val lists = spark.read.parquet(s"$p/centroids").count()
    val tombstoned =
      if (StoreFs.hasDataFiles(spark, s"$p/deletes"))
        spark.read.parquet(s"$p/deletes").distinct().count()
      else 0L
    spark.read.parquet(s"$p/cells")
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("rows"),
        count(lit(1)).as("nonempty_lists"),
        min(col("n")).as("min_list"),
        max(col("n")).as("max_list"))
      .select(lit(lists).as("lists"),
        coalesce(col("rows"), lit(0L)).as("rows"),
        coalesce(col("nonempty_lists"), lit(0L)).as("nonempty_lists"),
        coalesce(col("min_list"), lit(0L)).as("min_list"),
        coalesce(col("max_list"), lit(0L)).as("max_list"),
        lit(tombstoned).as("tombstoned"),
        lit(version.map(_.toLong).getOrElse(-1L)).as("version"))
  }

  /** M12 analog: PER-SEGMENT statistics frame — the per-index numbers the
    * reference exposes over JMX (reference: monitor/EsJmxBridge.java:48-141
    * publishes doc count / store size / field presence per ES index; one
    * index = one segment here). `docs` (row count), `store_bytes` (string
    * payload size — the dominant store cost), and a `docs_<field>`
    * non-null count per column, for EVERY segment in ONE
    * partial-aggregated pass: counts and sums map-side combine, so the
    * shuffle carries one partial row per (task, segment) — never a
    * per-segment job or scan, which is what makes the surface usable on a
    * store with thousands of segments at 100 TB. */
  def segmentStats(docs: DataFrame, segmentCol: String = "segment"): DataFrame = {
    require(docs.columns.contains(segmentCol),
      s"segment column '$segmentCol' not in the frame")
    val dataCols = docs.columns.filterNot(_ == segmentCol).toSeq
    val strCols = docs.schema.fields
      .filter(f => f.name != segmentCol &&
        f.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    val rowBytes: Column =
      if (strCols.isEmpty) lit(0L)
      else strCols.map(c => coalesce(length(col(c)).cast("long"), lit(0L)))
        .reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("docs"),
        sum(rowBytes).as("store_bytes")) ++
      dataCols.map(c => count(col(c)).as(s"docs_$c"))
    docs.groupBy(col(segmentCol)).agg(aggs.head, aggs.tail: _*)
  }
}
