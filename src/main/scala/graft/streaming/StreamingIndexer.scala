package graft.streaming

import graft.{IndexConfig, Indexer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** S1: real-time indexing as Structured Streaming.
  *
  * The reference receives one callback per Cassandra mutation
  * (reference: EsSecondaryIndex.java:390-414, indexers/EsIndexer.java:58-70)
  * and upserts the doc per row. The Spark rebuild treats the mutation stream
  * as a streaming DataFrame: each micro-batch runs the *same* batch upsert
  * pipeline via `foreachBatch` — exactly-once per batch replaces the
  * reference's per-key locks and commit-log-replay skips (W11/W12).
  */
object StreamingIndexer {

  /** Continuous upsert into a keyed in-memory/delta-style state: each
    * micro-batch is reduced to last-write-wins per key and handed to `sink`
    * (e.g. a MERGE/overwrite writer). */
  def upsertStream(mutations: DataFrame, keyCol: String, versionCols: Seq[String],
                   sink: (DataFrame, Long) => Unit,
                   trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(Indexer.latestPerKey(batch, keyCol, versionCols), id)
      }

  /** `foreachBatch` is AT-LEAST-ONCE: a crash between the store appends
    * and the checkpoint commit redelivers the batch, and a blind re-append
    * would double postings rows, norms rows, and LM counts — exactly the
    * BM25 skew the append contracts warn about. The marker makes the
    * per-batch appends idempotent under redelivery: each store group
    * records the last APPLIED batch id in a `_graft_batch` file next to
    * the postings, written after all of the batch's appends; a redelivered
    * id ≤ marker is skipped whole. The residual window — a crash AFTER
    * some append but BEFORE the marker write — is closed per path: a
    * `_graft_batch.pending` marker written before the FIRST append flags
    * the replay, and each store's re-apply is convergent (content-checked
    * norms and postings through [[graft.StoreFs.appendNeeded]],
    * stamp-checked LM merges — see
    * [[applyInsertServedBatch]]); [[upsertStreamServed]]'s merge-by-key
    * norms + serve-time dedup are replay-idempotent by construction.
    *
    * LINEAGE (r13): batch ids are monotone only WITHIN one streaming
    * query — they restart at 0 for a fresh checkpoint, so a NEW query
    * pointed at an EXISTING store group would read its early batches as
    * already-applied and silently drop them from the index. The marker
    * therefore records the streaming queryId (stable across restarts from
    * the same checkpoint) next to the id, and a mismatch RAISES, naming
    * [[resetBatchMarker]] as the explicit repair — a missed runbook step
    * must be loud, never data loss. Direct batch-apply calls outside a
    * streaming query (no queryId local property) skip the check and
    * preserve any recorded lineage. */
  private def lastAppliedBatch(spark: org.apache.spark.sql.SparkSession,
                               storePath: String): Long = {
    val (id, lineage) = readMarker(spark, storePath)
    (lineage, currentQueryId(spark)) match {
      case (Some(recorded), Some(cur)) if recorded != cur && id >= 0L =>
        throw new IllegalStateException(
          s"store group at $storePath was last written by streaming query " +
            s"$recorded (batch $id), but this batch belongs to query $cur. " +
            "Batch ids restart at 0 for a fresh checkpoint, so continuing " +
            "would silently skip this query's early batches. If the new " +
            "query is intentional (the old one is retired and the store " +
            "should accept a fresh lineage), call " +
            "StreamingIndexer.resetBatchMarker(spark, storePath) first — " +
            "after confirming the store holds everything the old query " +
            "committed; to resume the OLD query, restart it from its " +
            "original checkpoint instead.")
      case _ => ()
    }
    id
  }

  private def readMarker(spark: org.apache.spark.sql.SparkSession,
                         storePath: String): (Long, Option[String]) =
    graft.StoreFs.readMarker(spark, storePath, "_graft_batch") match {
      case None => (-1L, None)
      case Some(raw) => raw.split('|') match {
        case Array(id, lineage) => (id.toLongOption.getOrElse(-1L), Some(lineage))
        // a bare id: what markAppliedBatch writes for a direct apply to a
        // store with no recorded lineage
        case Array(id) => (id.toLongOption.getOrElse(-1L), None)
        case _ => (-1L, None)
      }
    }

  /** The streaming queryId of the batch being applied, when running inside
    * a streaming query (Spark sets it as a local property on the
    * micro-batch thread); None for direct batch-apply calls. */
  private def currentQueryId(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  private def markAppliedBatch(spark: org.apache.spark.sql.SparkSession,
                               storePath: String, id: Long): Unit = {
    // a direct (non-streaming) apply must not erase a recorded lineage —
    // the protection would silently lapse after one maintenance call
    val lineage = currentQueryId(spark).orElse(readMarker(spark, storePath)._2)
    graft.StoreFs.writeMarker(spark, storePath, "_graft_batch",
      id.toString + lineage.fold("")("|" + _))
    clearPending(spark, storePath)
  }

  /** The marker discipline every per-batch applier shares: an id at or
    * below the `_graft_batch` marker is skipped whole (false); otherwise
    * the batch is flagged pending, `apply` runs — told whether the id is
    * a self-replay of a pending, possibly half-applied batch — and the
    * marker advances. Returns what `apply` returns: whether the batch
    * was applied now. */
  private def applyOnce(spark: org.apache.spark.sql.SparkSession,
                        storePath: String, id: Long)(
      apply: Boolean => Boolean): Boolean = {
    if (id <= lastAppliedBatch(spark, storePath)) return false
    val replay = readPending(spark, storePath).contains(id)
    writePending(spark, storePath, id)
    val applied = apply(replay)
    markAppliedBatch(spark, storePath, id)
    applied
  }

  /** Explicit lineage repair: forget the store group's `_graft_batch`
    * marker (and any in-flight pending marker) so a NEW streaming query —
    * with a fresh checkpoint and batch ids restarting at 0 — may take
    * over an existing store. Named by the lineage-mismatch error; never
    * called implicitly. */
  def resetBatchMarker(spark: org.apache.spark.sql.SparkSession,
                       storePath: String): Unit = {
    graft.StoreFs.clearMarker(spark, storePath, "_graft_batch")
    clearPending(spark, storePath)
  }

  /** The in-flight marker closing the crash window between a batch's first
    * append and its `_graft_batch` commit: written BEFORE any store is
    * touched, cleared by [[markAppliedBatch]]. A redelivered id that
    * matches the pending marker is a self-replay of a possibly
    * half-applied batch — the apply paths switch to their convergent
    * variants for exactly that id. The marker is a SIBLING of the store
    * directory, not a member: merge-shaped appends
    * ([[graft.StoreFs.stagedRewrite]] — the n-gram store, the LM
    * sub-stores) replace the directory wholesale, and an in-dir pending
    * marker would be wiped by the very append it is supposed to witness. */
  private def pendingMarker(storePath: String): (String, String) = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    (root.getParent.toString, root.getName + ".batch_pending")
  }

  private[graft] def writePending(spark: org.apache.spark.sql.SparkSession,
                                  storePath: String, id: Long): Unit = {
    val (dir, name) = pendingMarker(storePath)
    graft.StoreFs.writeMarker(spark, dir, name, id.toString)
  }

  private def readPending(spark: org.apache.spark.sql.SparkSession,
                          storePath: String): Option[Long] = {
    val (dir, name) = pendingMarker(storePath)
    graft.StoreFs.readLongMarker(spark, dir, name)
  }

  private def clearPending(spark: org.apache.spark.sql.SparkSession,
                           storePath: String): Unit = {
    val (dir, name) = pendingMarker(storePath)
    graft.StoreFs.clearMarker(spark, dir, name)
  }

  /** Continuous inverted-index maintenance: like [[upsertStream]], but each
    * micro-batch ALSO appends its own postings to the text index before the
    * doc sink runs — the search path stays index-served while mutations
    * stream in. Appending (never rewriting) per batch is correct because
    * the index contract is candidates-plus-verification: stale postings for
    * overwritten docs are false candidates the verifier drops
    * ([[graft.TextIndex]] class doc); only a MISSING posting could lose a
    * hit, and the append in the same `foreachBatch` prevents exactly that.
    * Run [[graft.TextIndex.compactPostings]] on a maintenance cadence for
    * size, like Lucene's background merges. Redelivered batches are
    * skipped via the `_graft_batch` marker (see [[lastAppliedBatch]]);
    * the doc `sink` still runs for them — idempotence THERE is the sink's
    * own contract, as in plain [[upsertStream]]. */
  def upsertStreamIndexed(mutations: DataFrame, keyCol: String,
                          versionCols: Seq[String], fields: Seq[String],
                          postingsPath: String, nBuckets: Int,
                          sink: (DataFrame, Long) => Unit,
                          trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val docs = Indexer.latestPerKey(batch, keyCol, versionCols)
        applyOnce(batch.sparkSession, postingsPath, id) { _ =>
          graft.TextIndex.appendPostings(docs, keyCol, fields, postingsPath, nBuckets)
          true
        }
        sink(docs, id)
      }

  /** [[upsertStreamIndexed]] for INSERT-ONLY streams, maintaining the
    * full serving surface: each micro-batch appends its postings AND its
    * norms rows (so index-served BM25 stays current — norms are per-doc
    * facts, exact under insert-only batches), and optionally the phrase-
    * suggester LM delta. CONTRACT: every key is globally NEW — and the
    * contract is ENFORCED, not trusted: [[graft.TextIndex.appendNorms]]'s
    * key-collision probe ([[graft.StoreFs.appendNeeded]]) runs FIRST,
    * before any store is touched, so an in-place edit raises instead of
    * silently leaving duplicate norms rows and stale LM counts. The one
    * norms-store probe covers all three appends — they share the batch's
    * doc set, and the norms store is the store group's doc-key authority
    * (the LM tables carry no doc keys). For streams
    * WITH edits use [[upsertStreamServed]]; deduplicate replays upstream
    * with [[exactlyOnceStream]]. Redelivered batches are skipped via the
    * `_graft_batch` marker (see [[lastAppliedBatch]]), and a replay of a
    * HALF-APPLIED batch (crash before the marker write) converges — the
    * pending marker flags it and each store re-applies idempotently,
    * never the probe-collides-with-its-own-keys poison pill, never a
    * silent double append (see [[applyInsertServedBatch]]). With `segmentCol`
    * set, postings land in the doc's segment partition (the docs must
    * carry that column), so per-segment repair/compaction
    * ([[graft.TextIndex.reindexSegment]] / `dropSegmentDirs`) stays the
    * maintenance unit — the M2 partition story, streamed. StreamingSpec
    * pins that BM25 served from the streamed stores equals an
    * all-at-once batch build. */
  def insertStreamServed(mutations: DataFrame, keyCol: String,
                         versionCols: Seq[String], fields: Seq[String],
                         postingsPath: String, normsPath: String,
                         nBuckets: Int, suggestPath: Option[String] = None,
                         suggestField: Option[String] = None,
                         segmentCol: Option[String] = None,
                         sink: (DataFrame, Long) => Unit = (_, _) => (),
                         trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val docs = Indexer.latestPerKey(batch, keyCol, versionCols)
        applyInsertServedBatch(docs, id, keyCol, fields, postingsPath,
          normsPath, nBuckets, suggestPath, suggestField, segmentCol)
        sink(docs, id)
      }

  /** [[insertStreamServed]]'s per-batch body, factored so the
    * redelivery-skip is directly testable. Returns true when the batch
    * was applied, false when the `_graft_batch` marker says it already
    * was (at-least-once redelivery). The marker binds the store group to
    * ONE streaming query lineage (the recorded queryId): batch ids
    * restart at 0 for a fresh checkpoint, so a NEW query against an
    * existing store group RAISES instead of silently reading its early
    * batches as applied — [[resetBatchMarker]] is the explicit repair. */
  private[graft] def applyInsertServedBatch(docs: DataFrame, id: Long,
      keyCol: String, fields: Seq[String], postingsPath: String,
      normsPath: String, nBuckets: Int, suggestPath: Option[String] = None,
      suggestField: Option[String] = None,
      segmentCol: Option[String] = None): Boolean =
    applyOnce(docs.sparkSession, postingsPath, id) { replay =>
      // crash-window discipline (r13): a fresh batch keeps the strict
      // insert-only probe; a self-replay of a half-applied batch switches
      // each store to its convergent re-apply — content-checked norms and
      // postings ([[graft.StoreFs.appendNeeded]]: same-key-DIFFERENT-
      // content raises, so replay tolerance never becomes edit tolerance),
      // stamp-checked LM merge — so at-least-once redelivery converges
      // instead of wedging the stream on its own half-applied keys.
      if (replay) {
        // probe EVERY store before touching ANY: an edit wearing the
        // replay's batch id must raise with zero half-mutations (the
        // postings probe is the strong edit detector — token-level; the
        // norms probe closes its own store's window)
        val needPostings = graft.TextIndex.postingsReplayNeedsAppend(postingsPath,
          docs.select(col(keyCol).as("doc_id")),
          graft.TextIndex.buildPostings(docs, keyCol, fields, nBuckets, segmentCol))
        val norms = graft.TextIndex.buildNorms(docs, keyCol, fields)
        val needNorms = graft.TextIndex.normsAppendNeeded(normsPath,
          norms.select(col("doc_id")), norms, replay = true)
        // the probe saw no stored row for any batch key: the fresh-mode
        // probe of appendNorms would say the same, so write the delta as is
        if (needNorms) norms.write.mode("append").parquet(normsPath)
        if (needPostings)
          graft.TextIndex.appendPostings(docs, keyCol, fields, postingsPath,
            nBuckets, segmentCol)
      } else {
        // norms first: its insert-only probe is the gate for the whole
        // group — if the batch edits an existing key, NOTHING is written
        graft.TextIndex.appendNorms(docs, keyCol, fields, normsPath)
        graft.TextIndex.appendPostings(docs, keyCol, fields, postingsPath,
          nBuckets, segmentCol)
      }
      // the LM append's atomic delta-dir commit carries the batch id
      // (r14 delta segments), so it is replay-idempotent on both paths
      suggestPath.foreach(p => graft.Search.appendSuggestStore(docs,
        suggestField.getOrElse(fields.head), p, Some(id)))
      true
    }

  /** Streamed serving that SURVIVES EDITS — the upsert twin of
    * [[insertStreamServed]], closing the reference's actual contract:
    * every mutation, including updates, keeps search current
    * (reference: EsSecondaryIndex.java:390-414; ElasticIndex.java:470-621
    * `doc_as_upsert` re-indexes the doc). Per micro-batch, against a
    * VERSIONED store (postings and norms both carry a `gen` column —
    * seed with `buildPostings(..).withColumn("gen", lit(0L))` and
    * `buildNorms(..).withColumn("gen", lit(0L))`):
    *
    *  - postings APPEND, stamped `gen = batchId + 1` (batch ids start at
    *    0, so the +1 keeps every streamed generation newer than the
    *    conventional gen-0 seed) — stale rows for edited docs stay in the
    *    store but die at serve time;
    *  - norms MERGE-BY-KEY ([[graft.TextIndex.upsertNorms]], the
    *    `appendSuggestStore` read-delta-merge shape), stamped with the
    *    same gen — norms are per-doc facts, so the merged store is the
    *    per-doc generation authority;
    *  - serving: [[graft.TextIndex.bm25Indexed]] keeps a postings row iff
    *    its gen equals its doc's current norms gen (Lucene's
    *    doc-generation model), so tf, df, N, and avgdl all see exactly
    *    the latest version of every doc — store-served BM25 equals a
    *    from-scratch rebuild of the current corpus (StreamingSpec pins
    *    hash-equality across a mid-stream edit).
    *
    * The phrase-LM store is NOT maintained here: bigram counts are
    * additive, not per-doc facts — subtracting an edited doc's old tokens
    * needs the old text, which the stream does not carry. Serve
    * suggestions from a periodic [[graft.Search.writeSuggestStore]]
    * rebuild when the corpus takes edits. Redelivered batches are skipped
    * via the `_graft_batch` marker; replay residue inside the residual
    * crash window is absorbed by the merge-by-key norms and the
    * serve-time live-row dedup. Run [[graft.TextIndex.compactPostings]]
    * on a maintenance cadence to reclaim dead generations' rows. */
  def upsertStreamServed(mutations: DataFrame, keyCol: String,
                         versionCols: Seq[String], fields: Seq[String],
                         postingsPath: String, normsPath: String,
                         nBuckets: Int, segmentCol: Option[String] = None,
                         sink: (DataFrame, Long) => Unit = (_, _) => (),
                         trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val docs = Indexer.latestPerKey(batch, keyCol, versionCols)
        applyUpsertServedBatch(docs, id, keyCol, fields, postingsPath,
          normsPath, nBuckets, segmentCol)
        sink(docs, id)
      }

  /** [[upsertStreamServed]]'s per-batch body (see
    * [[applyInsertServedBatch]] on the marker contract). */
  private[graft] def applyUpsertServedBatch(docs: DataFrame, id: Long,
      keyCol: String, fields: Seq[String], postingsPath: String,
      normsPath: String, nBuckets: Int,
      segmentCol: Option[String] = None): Boolean =
    applyOnce(docs.sparkSession, postingsPath, id) { _ =>
      graft.TextIndex.appendPostings(docs, keyCol, fields, postingsPath,
        nBuckets, segmentCol, gen = Some(id + 1))
      graft.TextIndex.upsertNorms(docs, keyCol, fields, normsPath,
        gen = Some(id + 1))
      true
    }

  /** Streamed ANN-index maintenance — [[insertStreamServed]] for the
    * materialized IVF index ([[graft.pipeline.Ivf.writeIndex]] layout,
    * float-vector cells; the code-only IVF-PQ layout is batch-append-only
    * via [[graft.pipeline.Pq.appendToIvfPqIndex]]): each micro-batch of
    * (id, vector) rows is assigned under the store's FROZEN centroids and
    * appended into the `partitionBy(list_id)` cells, so vector search
    * serves partition-pruned from the index while embeddings stream in —
    * the vector-leg twin of the streamed BM25 stores, completing the
    * streamed hybrid-retrieval stack. Centroids are never retrained
    * mid-stream (drift means retrain-and-version, the store's model
    * contract). INSERT-ONLY, enforced by [[graft.pipeline.Ivf
    * .appendToIndex]]'s key-collision probe; ids the stream deletes go
    * through [[graft.pipeline.Ivf.deleteFromIndex]] +
    * [[graft.Maintain.compactAnnIndex]], not edits-in-place.
    *
    * Redelivery discipline (see [[applyInsertServedBatch]]): batches are
    * skipped whole via the `_graft_batch` marker (written next to the
    * cells), the queryId lineage guard raises on a new query against an
    * existing store, and a replay of a HALF-APPLIED batch (crash between
    * the cells append and the marker write) converges through a
    * content-checked probe — assignment under frozen centroids is
    * deterministic, so rows present-and-equal mean converged, and
    * present-but-different raises (an edit wearing a replay's id), never
    * the probe-collides-with-its-own-keys poison pill, never a silent
    * double append. */
  def annStreamServed(mutations: DataFrame, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      sink: (DataFrame, Long) => Unit = (_, _) => (),
                      trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyAnnStreamBatch(batch, id, path, idCol, vecCol)
        sink(batch, id)
      }

  /** [[annStreamServed]]'s per-batch body (see [[applyInsertServedBatch]]
    * on the marker contract). Returns true when the batch was applied. */
  private[graft] def applyAnnStreamBatch(batch: DataFrame, id: Long,
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean =
    applyCellsBatch(batch, id, path, "annStreamServed")(graft.pipeline.Ivf
      .appendRows(batch.sparkSession, path, batch, idCol, vecCol, _))

  /** [[annStreamServed]] for the COMPRESSED layout
    * ([[graft.pipeline.Pq.writeIvfPqIndex]]): each micro-batch is
    * assigned AND PQ-encoded under the store's frozen models, appended as
    * code-only rows — the streamed index stays ~32× smaller than its
    * float twin while probes stay partition-pruned. Same marker
    * discipline, lineage guard, and crash-window convergence (the replay
    * probe compares codes: encoding under frozen models is
    * deterministic). Same retrain coordination contract: a model flip
    * mid-stream follows quiesce/retrain/restart, never silent
    * re-targeting. */
  def ivfPqStreamServed(mutations: DataFrame, path: String,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        sink: (DataFrame, Long) => Unit = (_, _) => (),
                        trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    mutations.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyIvfPqStreamBatch(batch, id, path, idCol, vecCol)
        sink(batch, id)
      }

  /** [[ivfPqStreamServed]]'s per-batch body (see [[applyInsertServedBatch]]
    * on the marker contract). Returns true when the batch was applied. */
  private[graft] def applyIvfPqStreamBatch(batch: DataFrame, id: Long,
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean =
    applyCellsBatch(batch, id, path, "ivfPqStreamServed")(graft.pipeline.Pq
      .appendRows(batch.sparkSession, path, batch, idCol, vecCol, _))

  /** The streamed ANN appliers' one body: `append` is the layout's
    * `appendRows`, told whether the batch is a replay — it probes a
    * replay's content itself. The marker lives next to the cells. */
  private def applyCellsBatch(batch: DataFrame, id: Long, path: String,
      what: String)(append: Boolean => Unit): Boolean = {
    val spark = batch.sparkSession
    requireNotVersionedRoot(spark, path, what)
    applyOnce(spark, s"$path/cells", id) { replay => append(replay); true }
  }

  /** The streamed ANN appenders bind to ONE store directory for the
    * stream's lifetime: a versioned ROOT raises here, because the
    * batch-level verbs resolve the pointer per call and a stream doing
    * the same would silently re-target mid-stream on a retrain's pointer
    * flip (appends landing in a version whose training corpus may or may
    * not include them — the coordination contract on
    * [[graft.pipeline.Ivf.retrainIndex]] is quiesce/retrain/restart,
    * never silent re-targeting). Pass `Ivf.currentIndexPath(spark, root)`
    * resolved at stream START instead. */
  private def requireNotVersionedRoot(spark: org.apache.spark.sql.SparkSession,
                                      path: String, what: String): Unit =
    if (graft.pipeline.Ivf.currentVersion(spark, path).isDefined)
      throw new IllegalArgumentException(
        s"$what: $path is a versioned index root — a streamed appender " +
          "must bind to one version directory for its lifetime. Resolve " +
          "Ivf.currentIndexPath(spark, root) at stream start, and follow " +
          "the quiesce/retrain/restart contract on retrainIndex for " +
          "version flips.")

  /** Streaming boilerplate gate — the incremental-ingest curation shape
    * at 100 TB: each micro-batch is SCORED against the n-gram corpus
    * store as it stood BEFORE the batch
    * ([[graft.pipeline.TextStats.dupNgramFractionFromStore]] — "is this
    * incoming doc boilerplate relative to what we already have"; a doc's
    * own novel repeats don't self-flag, by that method's contract),
    * handed to `sink` with `dup_ngram_frac`/`n_ngrams` columns joined on
    * (null for docs shorter than n tokens), and then folded into the
    * store ([[graft.pipeline.TextStats.appendNgramCounts]] — counts are
    * additive, so the store after the stream equals a batch build over
    * seed + all batches exactly). Seed the store with
    * [[graft.pipeline.TextStats.writeNgramCounts]] over the initial
    * corpus. Redelivered batches are skipped whole via the
    * `_graft_batch` marker, keeping the additive appends idempotent
    * under foreachBatch's at-least-once delivery — including the
    * half-applied crash window, via the count merge's own atomic
    * `_graft_applied` stamp. The scored frame is eagerly checkpointed
    * BEFORE the sink sees it, so a sink that defers evaluation still
    * reads the pre-batch scores (enforced in code, not by contract —
    * the store the plan reads is rewritten right after the sink
    * returns). */
  def ngramGateStream(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, storePath: String,
                      sink: (DataFrame, Long) => Unit,
                      trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyNgramGateBatch(batch, id, idCol, textCol, n, storePath, sink)
        ()
      }

  /** [[ngramGateStream]]'s per-batch body (see [[applyInsertServedBatch]]
    * on the marker contract). */
  private[graft] def applyNgramGateBatch(batch: DataFrame, id: Long,
      idCol: String, textCol: String, n: Int, storePath: String,
      sink: (DataFrame, Long) => Unit): Boolean = {
    val spark = batch.sparkSession
    applyOnce(spark, storePath, id) { replay =>
      // crash window: the count append landed but the marker write didn't —
      // the append's own atomic applied marker (r14: the batch-named delta
      // segment's rename, or the post-compaction `_graft_applied` stamp)
      // says so. Re-scoring now would read a store that already CONTAINS
      // the batch (docs self-flag as boilerplate), and the sink already ran
      // with the correct pre-batch scores before the append — so skip whole.
      val landed = replay &&
        graft.pipeline.TextStats.countStoreHoldsBatch(spark, storePath, id)
      if (!landed) {
        // materialize the scored frame BEFORE the sink sees it (eager local
        // checkpoint): the plan reads the store path that appendNgramCounts
        // rewrites right after the sink returns, so a sink that defers
        // evaluation would otherwise score docs against a corpus that
        // already contains them — each doc silently self-flagging as
        // boilerplate. The checkpoint pins the pre-batch scores no matter
        // when (or how often) the sink's frame is evaluated.
        val scored = batch.join(
            graft.pipeline.TextStats.dupNgramFractionFromStore(
              batch, textCol, idCol, n, storePath),
            Seq(idCol), "left")
          .localCheckpoint(true)
        sink(scored, id) // scored against the corpus BEFORE this batch
        graft.pipeline.TextStats.appendNgramCounts(batch, textCol, n,
          storePath, Some(id))
      }
      !landed
    }
  }

  /** W12 streaming: exactly-once ingest with BOUNDED state. The batch twin
    * ([[Indexer.exactlyOnce]]) and a plain streaming `dropDuplicates`
    * remember every (key, mutation id) forever — at 100 TB/day the state
    * store itself becomes the scale problem. `dropDuplicatesWithinWatermark`
    * keeps a key only until the watermark passes it: duplicate deliveries
    * (retries, replays) arrive within the delivery-delay bound by
    * definition, so expiring state beyond the watermark loses nothing.
    * State is bounded by the duplicate-arrival window, not stream history. */
  def exactlyOnceStream(mutations: DataFrame, keyCol: String, mutationIdCol: String,
                        tsCol: String, watermark: String): DataFrame =
    mutations.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol, mutationIdCol)

  /** Event-time windowed rollup with a watermark — the streaming analog of
    * segment-bucketed counts (M2/M3); late data beyond the watermark is
    * dropped deterministically instead of the reference's wall-clock TTL. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: Option[String] = None,
                     window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val aggs = count(lit(1)).as("n") +:
      valueCol.map(v => sum(col(v)).as("total")).toSeq
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }
}
