package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized inverted text index: the scale path for the read side.
  *
  * The reference IS an index — its entire reason to exist is that scanning
  * every Cassandra row per search is unaffordable, so it mirrors rows into
  * Elasticsearch/Lucene postings and serves queries from those
  * (reference: EsSecondaryIndex.java:91; README.md:55-60). The scan-based
  * [[Search]] executor is exact and pushdown-friendly, but it reads the
  * whole doc store per query; at 100 TB a selective term query must touch
  * data proportional to its RESULT, not the corpus. This module is the
  * Spark-native Lucene analog:
  *
  *  - '''Build''': tokenize indexed fields into `(token, field, doc_id)`
  *    postings — one narrow explode+distinct, no joins. The store is
  *    written `partitionBy(bucket)` where `bucket = xxhash64(token) mod N`,
  *    sorted by `(token, field)` inside each partition, so a term lookup
  *    [[prunes]] to one directory of N and its parquet row-group stats are
  *    tight (the `token=` pushed filter skips most pages).
  *  - '''Query''': a Lucene-lite query is answered as *candidate retrieval +
  *    exact re-verification*. The AST is walked for a "cover": a set of
  *    token probes whose postings union is PROVABLY a superset of the
  *    query's matches (see [[cover]]). Candidate doc ids come from the
  *    pruned postings scan; the full compiled predicate then re-runs on the
  *    candidate rows only — results are bit-identical to the scan executor,
  *    the index can only make the query cheaper, never wrong.
  *  - '''Maintenance is append-only.''' Because verification re-applies the
  *    exact predicate against the CURRENT doc store, stale postings (for
  *    overwritten or deleted docs) are harmless false candidates, and only
  *    MISSING postings could hurt recall. So an upsert batch just appends
  *    its own postings ([[appendPostings]]) — no read-modify-write, no
  *    tombstones, the same cheap contract as a Lucene segment append.
  *    [[compactPostings]] (optional, for size) dedups and rewrites like the
  *    doc store's small-file compaction.
  *
  * Tokenization matches [[QueryCompiler.termMatch]]'s declared semantics
  * exactly: `termMatch` anchors on Java regex `\b` word boundaries, so a
  * term made of word chars (`[a-z0-9_]+` after lowercasing) matches a
  * document iff it equals a MAXIMAL word-char run of the lowered text.
  * Those maximal runs are precisely the tokens this index stores — the
  * equality-probe cover is exact, not just a superset, for such terms.
  * A trailing-`*` wildcard (`filt*`) compiles to `\bfilt[^\s]*`: any match
  * site starts a maximal word run beginning with `filt`, so a
  * `startsWith(token)` probe over-approximates it correctly. Every other
  * leaf shape (fuzzy, regex, ranges, phrases, inner wildcards, non-word
  * chars, unindexed fields) is declared non-coverable and the query falls
  * back to the scan executor — transparently, same results.
  */
object TextIndex {

  import QueryCompiler.LuceneLite
  import LuceneLite._

  /** Maximal-word-run tokenizer, the `\b`-boundary view of the text (see
    * class doc). Split on non-word runs; `split` emits empty edge strings,
    * filtered after the explode. */
  private def tokensOf(c: org.apache.spark.sql.Column) =
    split(lower(c.cast("string")), "[^a-z0-9_]+")

  /** One probe the postings store can answer with a pushed-down filter. */
  private[graft] sealed trait Probe
  private[graft] final case class EqProbe(field: String, token: String) extends Probe
  private[graft] final case class PrefixProbe(field: String, prefix: String) extends Probe

  private val WordTerm = "^[a-z0-9_]+$".r
  private val StarPrefixTerm = "^([a-z0-9_]+)\\*$".r

  /** Build postings for `fields` of `docs`:
    * `(token, field, doc_id, tf, bucket)`, one row per distinct
    * (token, field, doc) with its term frequency — Lucene's postings+freqs.
    * The aggregate is a hash aggregate: duplicate tokens within a doc
    * combine map-side before the one exchange on the grouping key; nothing
    * wider than the 4-column posting ever shuffles.
    *
    * `tf` is exact only in a freshly built (or [[compactPostings]]-rebuilt
    * when nothing changed) store: boolean retrieval tolerates stale appended
    * rows (see class doc), but frequency-based scoring ([[bm25Indexed]])
    * reads tf/df at face value — the same contract as Lucene, where deleted
    * docs pollute collection statistics until segments merge. */
  /** `segmentCol`: carry the doc's time segment into its postings, so the
    * index is partitioned `segment=…/bucket=…` and follows the store's
    * lifecycle — [[Maintain.dropSegmentDirs]] on the postings path expires
    * the index with the data (M5/M8 for the index, a directory op). For
    * segment-rolled immutable data — the reference's deployment shape —
    * this also closes the pure-index staleness window: expired docs'
    * postings leave with their segment. */
  def buildPostings(docs: DataFrame, idCol: String, fields: Seq[String],
                    nBuckets: Int = 64,
                    segmentCol: Option[String] = None): DataFrame = {
    require(fields.nonEmpty, "index at least one field")
    require(nBuckets > 0, "nBuckets must be positive")
    val segSel = segmentCol.map(col).toSeq
    val segNames = segmentCol.toSeq
    // tokenize dominates bytes: raise the scan floor once (guide §2.5) so
    // a single-row-group corpus doesn't tokenize on one task
    val spreadDocs = graft.pipeline.Spread.scanFloor(docs, col(idCol))
    // ONE scan feeds every field (guide §6: read once — r14 unioned one
    // select per field, scanning the doc store `fields.size` times): the
    // fields fan out as an in-row (field, tokens) struct array, and the
    // token explode runs above it. A single-field build keeps the direct
    // one-explode shape — the fan-out's extra Generate is pure per-row
    // overhead when there is nothing to fan out (r15, measured +0.4 s on
    // the index-create query).
    val tokenized =
      if (fields.size == 1)
        spreadDocs.select((Seq(explode(tokensOf(col(fields.head))).as("token"),
          lit(fields.head).as("field"), col(idCol).as("doc_id")) ++ segSel): _*)
      else {
        val ftArr = array(fields.map(f =>
          struct(lit(f).as("field"), tokensOf(col(f)).as("toks"))): _*)
        spreadDocs
          .select((Seq(col(idCol).as("doc_id")) ++ segSel :+
            explode(ftArr).as("_ft")): _*)
          .select((Seq(col("_ft.field").as("field"), col("doc_id")) ++
            segNames.map(col) :+ explode(col("_ft.toks")).as("token")): _*)
      }
    tokenized
      .where(col("token") =!= "")
      .groupBy((Seq("token", "field", "doc_id") ++ segNames).map(col): _*)
      .agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(nBuckets)).cast("int"))
  }

  /** Token-level terms aggregation served from the postings store ALONE —
    * the index-side analog of an ES terms agg over an analyzed text field
    * (fielddata) and of [[graft.pipeline.TextStats.vocabulary]]: top-k
    * tokens with occurrence (`freq` = Σtf) and document (`doc_freq`)
    * counts. The corpus is never scanned — at 100 TB the postings store is
    * the only thing that can answer "most frequent tokens" interactively,
    * and the same staleness contract as [[bm25Indexed]] applies (append-
    * only stores overcount until compaction; exact on fresh/compacted).
    * Tokens follow the INDEX analyzer (`[a-z0-9_]` runs), not the
    * whitespace tokenizer of the corpus-scan vocabulary. */
  def termsAggIndexed(postings: DataFrame, field: String, k: Int): DataFrame =
    postings.where(col("field") === field)
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("doc_freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(k)

  /** [[buildPostings]] plus a `positions` column: the sorted word-run
    * indices of each token occurrence — Lucene's positions. A positional
    * store is a schema superset of the plain one (every query path works on
    * it unchanged); additionally [[prefilter]] tightens PHRASE candidates
    * on it from "contains the longest run" to "contains every run, in
    * order" ([[phraseCandidates]]). Positions index word runs, not the
    * whitespace tokens proximity slop counts, so the in-order check is a
    * proven superset, never an exact answer — verification stays. */
  def buildPostingsPositional(docs: DataFrame, idCol: String, fields: Seq[String],
                              nBuckets: Int = 64,
                              segmentCol: Option[String] = None): DataFrame = {
    require(fields.nonEmpty, "index at least one field")
    require(nBuckets > 0, "nBuckets must be positive")
    val segSel = segmentCol.map(col).toSeq
    val segNames = segmentCol.toSeq
    val spreadDocs = graft.pipeline.Spread.scanFloor(docs, col(idCol))
    // one scan for all fields, as in [[buildPostings]] (same single-field
    // fast path)
    val tokenized =
      if (fields.size == 1)
        spreadDocs.select((Seq(posexplode(
          array_remove(tokensOf(col(fields.head)), "")).as(Seq("pos", "token")),
          lit(fields.head).as("field"), col(idCol).as("doc_id")) ++ segSel): _*)
      else {
        val ftArr = array(fields.map(f =>
          struct(lit(f).as("field"),
            array_remove(tokensOf(col(f)), "").as("toks"))): _*)
        spreadDocs
          .select((Seq(col(idCol).as("doc_id")) ++ segSel :+
            explode(ftArr).as("_ft")): _*)
          .select((Seq(col("_ft.field").as("field"), col("doc_id")) ++
            segNames.map(col) :+ posexplode(col("_ft.toks")).as(Seq("pos", "token"))): _*)
      }
    tokenized
      .groupBy((Seq("token", "field", "doc_id") ++ segNames).map(col): _*)
      .agg(count(lit(1)).cast("int").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(nBuckets)).cast("int"))
  }

  /** Candidate doc ids for a literal phrase over a positional store: every
    * word run of the phrase present in the field AND an increasing position
    * assignment exists (greedy earliest-match over the per-token sorted
    * position arrays — complete for existence). Any true phrase/proximity
    * match satisfies both (its runs appear literally, in text order), so
    * this is a superset — but a far tighter one than the single-run probe:
    * docs containing the tokens only out of order are excluded before
    * verification. Gaps are deliberately NOT bounded: one foreign
    * whitespace token can span many word runs, so a gap cutoff would lose
    * recall. */
  def phraseCandidates(postings: DataFrame, field: String, phrase: String,
                       nBuckets: Int = 64): DataFrame = {
    val toks = "[a-z0-9_]+".r.findAllIn(phrase.toLowerCase).toSeq
    require(toks.nonEmpty, s"phrase has no word runs: '$phrase'")
    val rows = postingsFor(postings,
      toks.distinct.map(EqProbe(field, _)).toSet[Probe], nBuckets)
    val posCols = toks.distinct.zipWithIndex.map { case (t, i) =>
      first(when(col("token") === t, col("positions")), ignoreNulls = true)
        .as(s"_p$i")
    }
    val byDoc = rows.groupBy("doc_id").agg(posCols.head, posCols.tail: _*)
    val idxOf = toks.map(t => toks.distinct.indexOf(t))
    var prev: org.apache.spark.sql.Column = lit(-1)
    val conds = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    for (i <- toks.indices) {
      val cur = prev
      val pi = array_min(filter(col(s"_p${idxOf(i)}"), x => x > cur))
      conds += pi.isNotNull
      prev = pi
    }
    byDoc.where(conds.reduce(_ && _)).select("doc_id")
  }

  /** The tightest safe candidate source for a Lucene AST over a positional
    * store: a phrase/proximity leaf (≥2 word runs, literal) reachable
    * through `AND` bounds every match via [[phraseCandidates]]. */
  private def phraseAware(n: Node, fields: Set[String],
                          postings: DataFrame, nBuckets: Int): Option[DataFrame] = {
    val positional = postings.columns.contains("positions")
    if (!positional) return None
    def literalPhrase(v: String): Boolean =
      !v.exists(c => c == '*' || c == '?' || c == '\\') &&
        "[a-z0-9_]+".r.findAllIn(v.toLowerCase).size >= 2
    n match {
      case t: Term if fields.contains(t.field) && literalPhrase(t.value) =>
        Some(phraseCandidates(postings, t.field, t.value, nBuckets))
      case p: Proximity if fields.contains(p.field) && literalPhrase(p.phrase) =>
        Some(phraseCandidates(postings, p.field, p.phrase, nBuckets))
      case And(l, r) =>
        phraseAware(l, fields, postings, nBuckets)
          .orElse(phraseAware(r, fields, postings, nBuckets))
      case _ => None
    }
  }

  /** Per-doc field lengths `(doc_id, field, dl)` in the index's analyzer
    * view (word-run token count; null → 0) — Lucene's norms file. Norms are
    * O(docs × fields) and join-keyed by doc_id; [[bm25Indexed]] needs them
    * because a doc's length is not recoverable from a TERM-pruned postings
    * scan without reading every token of the doc. */
  def buildNorms(docs: DataFrame, idCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "norms need at least one field")
    // the per-field length is a full tokenize of the text — floor the scan
    // (guide §2.5, r15) so a single-row-group corpus doesn't tokenize on
    // one task; the union over fields stays narrow (norm rows are 3
    // columns, never worth the struct-array fan-out postings need)
    val spreadDocs = graft.pipeline.Spread.scanFloor(docs, col(idCol))
    val perField = fields.map { f =>
      spreadDocs.select(col(idCol).as("doc_id"), lit(f).as("field"),
        size(array_remove(tokensOf(coalesce(col(f).cast("string"), lit(""))), ""))
          .as("dl"))
    }
    perField.reduce(_.union(_))
  }

  /** Incremental maintenance for a written norms table (the doc-length
    * sidecar [[bm25Indexed]] reads): new docs' norms rows append blind —
    * norms are per-(doc, field) FACTS, so for NEW documents
    * `append(A); append(B)` ≡ `write(A ∪ B)` exactly (one row per key
    * either way; pinned by `q_norms_append` and a TextIndexSpec case).
    * Contract: INSERT-only batches, same as [[appendPostings]]'s
    * frequency-stats caveat — an in-place doc EDIT would leave two dl
    * rows for the key and silently skew BM25 length normalization; use
    * [[upsertNorms]] (merge-by-key) or [[reindexSegment]]-style repair
    * for edits. The contract is ENFORCED, not trusted: a key-collision
    * probe (one doc_id-only pruned scan of the store, batch-sized
    * output) raises on an already-present key — a violated contract is
    * a silent wrong answer, so it must be loud. Gate with
    * `graft.append.insertCheck` = `error` (default) | `warn` | `off`
    * (off for ingest paths that guarantee key-freshness upstream and
    * don't want the per-append store scan). */
  def appendNorms(newDocs: DataFrame, idCol: String, fields: Seq[String],
                  path: String): Unit = {
    val delta = buildNorms(newDocs, idCol, fields)
    requireInsertOnly(newDocs.sparkSession, path,
      delta.select(col("doc_id")).distinct(), "appendNorms")
    delta.write.mode("append").parquet(path)
  }

  /** Replay probe for [[appendNorms]] when a batch may be an
    * at-least-once REPLAY of itself (the streamed insert path's crash
    * window: norms landed, the `_graft_batch` marker didn't — see
    * [[graft.streaming.StreamingIndexer.insertStreamServed]]). The strict
    * key-only probe would see the batch's OWN half-applied keys and throw
    * forever — a poison pill. This probe compares CONTENT and WRITES
    * NOTHING (the caller probes every store in the group before touching
    * any, so an edit raises with zero half-mutations): the store's rows
    * for the delta's keys are either absent (crash before the norms job
    * committed → true, append needed), exactly the delta (the append job
    * commits atomically → false, converged), or different — which no
    * crash of this batch can produce, so it is a genuine contract
    * violation (an edited key smuggled into a replay) and raises
    * regardless of `graft.append.insertCheck`: replay tolerance must not
    * become edit tolerance. Cost over the strict probe: one extra
    * batch-keys-restricted store read — paid only on detected replays. */
  private[graft] def normsReplayNeedsAppend(
      newDocs: DataFrame, idCol: String, fields: Seq[String],
      path: String): Boolean = {
    val spark = newDocs.sparkSession
    if (!StoreFs.hasDataFiles(spark, path)) return true
    val delta = buildNorms(newDocs, idCol, fields)
      .select(col("doc_id"), col("field"), col("dl"))
    val keys = delta.select(col("doc_id")).distinct()
    val present = spark.read.parquet(path)
      .join(broadcast(keys), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("field"), col("dl"))
    if (present.isEmpty) return true
    val mismatch = delta.exceptAll(present)
      .unionByName(present.exceptAll(delta)).limit(5)
      .collect().map(r => r.get(0)).distinct.toSeq
    if (mismatch.nonEmpty)
      throw new IllegalArgumentException(
        s"appendNorms (replay): key(s) ${mismatch.mkString(", ")} exist in " +
          s"$path with DIFFERENT content than this batch — an exact " +
          "self-replay would match row-for-row, so this is an edited key, " +
          "not redelivery. Use upsertNorms / reindexSegment for edits.")
    false // store already holds exactly this batch's rows: converged
  }

  /** Replay probe for [[appendPostings]] under the same self-replay crash
    * window as [[normsReplayNeedsAppend]] — and the deeper content check
    * of the pair: norms carry only token COUNTS, so a same-length edit
    * smuggled into a replay sails past the norms compare; the postings
    * rows carry the token multiset, which any edit must change. Writes
    * nothing. Store rows for the batch's keys are absent (true — append
    * needed), exactly the batch's delta on (doc_id, field, token, tf)
    * (atomically-committed append already landed → false, converged), or
    * different → raise: that is an edit wearing a replay's batch id, not
    * redelivery. */
  private[graft] def postingsReplayNeedsAppend(
      newDocs: DataFrame, idCol: String, fields: Seq[String], path: String,
      nBuckets: Int, segmentCol: Option[String] = None): Boolean = {
    val spark = newDocs.sparkSession
    if (!StoreFs.hasDataFiles(spark, path)) return true
    val cols = Seq("doc_id", "field", "token", "tf").map(col)
    val delta = buildPostings(newDocs, idCol, fields, nBuckets, segmentCol)
      .select(cols: _*)
    val keys = newDocs.select(col(idCol).as("doc_id")).distinct()
    val present = spark.read.parquet(path)
      .join(broadcast(keys), Seq("doc_id"), "left_semi")
      .select(cols: _*)
    if (present.isEmpty) return true
    val mismatch = delta.exceptAll(present)
      .unionByName(present.exceptAll(delta)).limit(5)
      .collect().map(_.get(0)).distinct.toSeq
    if (mismatch.nonEmpty)
      throw new IllegalArgumentException(
        s"appendPostings (replay): key(s) ${mismatch.mkString(", ")} exist " +
          s"in $path with DIFFERENT content than this batch — an exact " +
          "self-replay would match row-for-row, so this is an edited key, " +
          "not redelivery. Use the upsert-served path / reindexSegment for " +
          "edits.")
    false // store already holds exactly this batch's postings: converged
  }

  /** Enforcement for the insert-only append contracts: raise (or warn,
    * per `graft.append.insertCheck`) when any delta key already exists in
    * the store — turning the silent BM25 skew of a violated contract into
    * a loud failure. Cost: one single-column scan of the store semi-joined
    * against the (broadcast, batch-sized) delta keys. The suggest/LM
    * stores carry no doc keys, so THEIR contract is enforced where doc
    * identity exists: [[graft.streaming.StreamingIndexer.insertStreamServed]]
    * probes the norms store once per micro-batch before any append. */
  private[graft] def requireInsertOnly(spark: SparkSession, path: String,
                                       deltaKeys: DataFrame,
                                       what: String): Unit =
    requireInsertOnly(spark, path, deltaKeys, what, spark.read.parquet(path))

  /** As above, probing a caller-supplied view of the store instead of the
    * full table — the bucketed keyed ledgers pass their partition-pruned
    * read (r15), so the per-append collision probe stops scanning the
    * whole store. `store` is by-name: nothing is planned when the check
    * is off or the store is empty. */
  private[graft] def requireInsertOnly(spark: SparkSession, path: String,
                                       deltaKeys: DataFrame, what: String,
                                       store: => DataFrame): Unit = {
    val mode = spark.conf.getOption("graft.append.insertCheck").getOrElse("error")
    if (mode == "off" || !StoreFs.hasDataFiles(spark, path)) return
    val collided = store
      .select(col("doc_id"))
      .join(broadcast(deltaKeys.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .limit(5).collect().map(_.get(0)).toSeq
    if (collided.nonEmpty) {
      val msg = s"$what: insert-only contract violated — key(s) " +
        s"${collided.mkString(", ")} already exist in $path. Blind-appending " +
        "an edited doc leaves duplicate rows and silently skews BM25 " +
        "length/frequency stats; use upsertNorms / reindexSegment for edits, " +
        "or set graft.append.insertCheck=off if freshness is guaranteed upstream."
      if (mode == "warn")
        org.slf4j.LoggerFactory.getLogger(TextIndex.getClass).warn(msg)
      else throw new IllegalArgumentException(msg)
    }
  }

  /** Merge-by-key norms maintenance — the EDIT-tolerant twin of
    * [[appendNorms]]: norms are per-(doc, field) facts, so an upsert batch
    * replaces its keys' rows wholesale (read → anti-join the batch's keys
    * out → union the fresh delta → staged rewrite, the
    * [[Search.appendSuggestStore]] swap discipline). One batch-sized delta
    * build plus one norms-store-sized rewrite of SLIM (doc_id, field, dl)
    * rows — never a corpus text pass. With `gen` set, the fresh rows carry
    * a generation stamp: [[bm25Indexed]] uses it as the live-row filter
    * for postings under edits (Lucene's doc-generation model — see
    * [[graft.streaming.StreamingIndexer.upsertStreamServed]]). */
  def upsertNorms(docs: DataFrame, idCol: String, fields: Seq[String],
                  path: String, gen: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val delta0 = buildNorms(docs, idCol, fields)
    val delta = gen.map(g => delta0.withColumn("gen", lit(g))).getOrElse(delta0)
    // a crash-swapped-aside store must be back before the emptiness check
    StoreFs.recover(spark, path)
    if (!StoreFs.hasDataFiles(spark, path)) { delta.write.mode("append").parquet(path); return }
    StoreFs.stagedRewrite(spark, path) { tmp =>
      val store = spark.read.parquet(path)
      val keys = delta.select(col("doc_id")).distinct()
      store.join(broadcast(keys), Seq("doc_id"), "left_anti")
        .unionByName(delta)
        .write.parquet(tmp)
    }
  }

  /** Write the postings store: clustered by bucket (one file per partition
    * dir, not tasks×buckets), sorted by `(token, field)` within files so
    * parquet min/max stats make the pushed token filter skip most
    * row groups. */
  /** Store self-description, persisted as `_graft_index.json` next to the
    * data by [[writePostings]]: a probe computed with the wrong bucket
    * count silently prunes the WRONG partitions (wrong results, not an
    * error), so the store must carry its own parameters rather than trust
    * every caller to repeat them. */
  final case class IndexMeta(nBuckets: Int, fields: Seq[String],
                             positional: Boolean, segmentCol: Option[String])

  private val MetaFile = "_graft_index.json"

  def writePostings(postings: DataFrame, path: String,
                    segmentCol: Option[String] = None): Unit = {
    // segment (when present) leads the partition path so lifecycle ops stay
    // top-level directory ops; bucket pruning filters across segment dirs
    val parts = segmentCol.toSeq :+ "bucket"
    postings.repartition(parts.map(col): _*)
      .sortWithinPartitions("token", "field")
      .write.mode("overwrite").partitionBy(parts: _*).parquet(path)
    // derive the sidecar from the WRITTEN data (not the build plan, which
    // would re-run the tokenize+aggregate): bucket count from the hash
    // domain actually used, fields from the postings rows
    val spark = postings.sparkSession
    // an empty corpus writes no files at all (bootstrap: indexing an empty
    // table) — record an empty-store sidecar; openPostings/searchStore then
    // fall back to the scan executor, since nothing is indexed
    val meta =
      if (!StoreFs.hasDataFiles(spark, path))
        IndexMeta(1, Seq.empty, postings.columns.contains("positions"), segmentCol)
      else {
        val written = spark.read.option("basePath", path).parquet(path)
        val fields = written.select("field").distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        IndexMeta(inferBuckets(written), fields,
          written.columns.contains("positions"), segmentCol)
      }
    val metaJson =
      s"""{"nBuckets":${meta.nBuckets},"fields":[${meta.fields.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""positional":${meta.positional},"segmentCol":${meta.segmentCol.map("\"" + _ + "\"").getOrElse("null")}}"""
    StoreFs.writeMarker(spark, path, MetaFile, metaJson)
  }

  /** The bucket count is recoverable from any non-empty store because
    * `bucket = pmod(xxhash64(token), N)`: verify a candidate N by checking
    * (token, bucket) pairs against [[bucketOf]]. The sample takes ONE
    * token per distinct bucket — a naive `limit(n)` reads a single
    * partition file, sees one bucket value, and would wrongly accept N=1
    * (every hash mod 1 is 0). With per-bucket witnesses, a wrong candidate
    * N must agree with the true N modulo-wise on every sampled hash —
    * vanishingly unlikely past a couple of buckets; candidates scan
    * ascending from maxBucket+1, so empty tail buckets only move the
    * start, not the answer. */
  private def inferBuckets(postings: DataFrame): Int = {
    val sample = postings.groupBy("bucket")
      .agg(first(col("token")).as("token"))
      .collect().map(r => (r.getString(1), r.getInt(0)))
    require(sample.nonEmpty, "cannot infer bucket count of an empty postings store")
    val maxSeen = sample.map(_._2).max
    (maxSeen + 1 to 1 << 20).find { n =>
      sample.forall { case (t, b) => bucketOf(t, n) == b }
    }.getOrElse(throw new IllegalStateException(
      "postings bucket column does not match xxhash64 bucketing"))
  }

  /** Open a written postings store with its own parameters — the
    * mismatch-proof entry point. A data-less store opens as a placeholder
    * with no indexed fields, so every query through it falls back to the
    * scan executor (the placeholder frame is never evaluated). */
  def openPostings(spark: SparkSession, path: String): (DataFrame, IndexMeta) = {
    val df =
      if (StoreFs.hasDataFiles(spark, path))
        spark.read.option("basePath", path).parquet(path)
      else spark.emptyDataFrame
    val meta = StoreFs.readMarker(spark, path, MetaFile) match {
      case Some(raw) =>
        val node = dslMapper.readTree(raw)
        import scala.jdk.CollectionConverters._
        IndexMeta(node.get("nBuckets").asInt,
          node.get("fields").elements.asScala.map(_.asText).toSeq,
          node.get("positional").asBoolean,
          Option(node.get("segmentCol")).filter(!_.isNull).map(_.asText))
      case None if df.columns.isEmpty =>
        // data-less AND sidecar-less: nothing indexed, nothing to infer
        IndexMeta(1, Seq.empty, positional = false, None)
      case None =>
        // stores written before the sidecar (or by hand): reconstruct from
        // the data — exact for nBuckets/fields/positional, unknown segment
        IndexMeta(inferBuckets(df),
          df.select("field").distinct().collect().map(_.getString(0)).sorted.toSeq,
          df.columns.contains("positions"), None)
    }
    (df, meta)
  }

  /** Search through a written store using its own recorded parameters. */
  def searchStore(docs: DataFrame, path: String, query: String,
                  cfg: IndexConfig, pkCols: Seq[String] = Seq("doc_id"),
                  pureIndex: Boolean = false): DataFrame = {
    val (store, meta) = openPostings(docs.sparkSession, path)
    searchIndexed(docs, store, query, cfg, pkCols, meta.fields.toSet,
      meta.nBuckets, pureIndex)
  }

  /** ES `_termvectors` served from a POSITIONAL postings store — term
    * frequency, first position, and corpus document frequency all come
    * from the index; the corpus is never read. This is ES's own execution
    * model (term vectors ARE index data), and the store-amortized twin of
    * [[Search.termVectors]], whose per-call corpus df pass is linear in
    * the corpus. Row-identical to the direct form when the store indexes
    * the same field (same word-run analyzer view; `q_termvectors_store`
    * shares `q_termvectors`' oracle, TextIndexSpec pins a frame compare).
    * Positions in the store are 0-based word-run indices; the `_termvectors`
    * contract is 1-based, hence the +1. */
  def termVectorsFromStore(spark: SparkSession, path: String, field: String,
                           ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, "_termvectors needs at least one doc id")
    val (store, meta) = openPostings(spark, path)
    require(meta.positional, s"store at $path carries no positions")
    require(meta.fields.contains(field),
      s"field '$field' is not indexed in the store (${meta.fields.mkString(", ")})")
    val f = store.where(col("field") === field)
    val sel = f.where(col("doc_id").cast("string").isin(ids: _*))
      .select(col("doc_id").cast("string").as("_tv_id"),
        col("token").as("term"), col("tf").cast("long").as("term_freq"),
        (element_at(col("positions"), 1) + 1).cast("long").as("first_position"))
    // df: one row per (token, doc) in a fresh/compacted store → a count per
    // token IS the document frequency (vocabulary-sized aggregate output)
    val dfStats = f.groupBy(col("token").as("term"))
      .agg(count(lit(1)).as("doc_freq"))
    sel.join(dfStats, Seq("term"), "left")
      .select(col("_tv_id"), col("term"), col("term_freq"),
        col("first_position"), coalesce(col("doc_freq"), lit(0L)).as("doc_freq"))
  }

  /** Append-only incremental maintenance: index an upsert batch's postings
    * into an existing store (see class doc for why append alone preserves
    * correctness). `nBuckets` and `segmentCol` must match the store's.
    * With `gen` set, every appended row carries the generation stamp — the
    * versioned-store layout [[upsertStreamServed]]-style maintenance uses
    * so [[bm25Indexed]] can drop an edited doc's stale rows at serve time
    * (the store's existing rows must already carry `gen`; mixing stamped
    * and unstamped files in one store is a schema error, not a merge). */
  def appendPostings(newDocs: DataFrame, idCol: String, fields: Seq[String],
                     path: String, nBuckets: Int = 64,
                     segmentCol: Option[String] = None,
                     gen: Option[Long] = None): Unit = {
    val parts = segmentCol.toSeq :+ "bucket"
    val built0 = buildPostings(newDocs, idCol, fields, nBuckets, segmentCol)
    val built = gen.map(g => built0.withColumn("gen", lit(g))).getOrElse(built0)
    built
      .repartition(parts.map(col): _*)
      .sortWithinPartitions("token", "field")
      .write.mode("append").partitionBy(parts: _*).parquet(path)
  }

  /** Rebuild ONE segment's postings from the current store — the bounded
    * repair for in-place overwrites (which blind appends tolerate for
    * matching but which poison frequency stats and the pure-index mode):
    * drop the segment's index directory, re-append fresh postings from the
    * segment's current docs. A directory op plus one segment-sized build —
    * never a full-index rewrite, mirroring how the maintenance plane treats
    * data segments (M2-M5). */
  def reindexSegment(spark: SparkSession, docs: DataFrame, idCol: String,
                     fields: Seq[String], path: String, nBuckets: Int,
                     segmentCol: String, segmentValue: String): Unit = {
    Maintain.dropSegmentDirs(spark, path, segmentCol, _ != segmentValue)
    appendPostings(docs.where(col(segmentCol) === segmentValue), idCol, fields,
      path, nBuckets, Some(segmentCol))
  }

  /** Optional size reclaim after many appends: global dedup + rewrite,
    * swapped in whole by [[StoreFs.stagedRewrite]]. Returns (files
    * before, files after). */
  def compactPostings(spark: SparkSession, path: String): (Int, Int) =
    rewritePostings(spark, path)(_.distinct())

  /** S5/M4's data-leaves verb for the BM25 store group: delete docs BY KEY.
    * The norms store is the group's live-docs authority — [[bm25Indexed]]
    * derives N, avgdl, AND df from the norms join — so removing a doc's
    * norms rows makes served scores equal a rebuild without it
    * IMMEDIATELY; its postings rows become dead weight (false candidates
    * the doc-store join already drops, rows the norms join discards),
    * physically reclaimed by [[purgeDeadPostings]] on a maintenance
    * cadence. Lucene's lifecycle exactly: a delete flips live-docs, the
    * merge reclaims space (reference analog: delete_by_query,
    * ElasticIndex.java:825-836). One staged rewrite of the SLIM norms
    * rows — never a corpus text pass.
    *
    * Staleness note: PURE-index serving (`searchIndexed(pureIndex=true)`,
    * postings-only aggregations) reads postings alone and keeps surfacing
    * a deleted doc until the purge runs — the same append-side staleness
    * those paths already declare; the norms-joined and doc-store-joined
    * paths are exact from the moment this returns. */
  def deleteDocs(spark: SparkSession, normsPath: String, ids: DataFrame,
                 idCol: String = "doc_id"): Unit = {
    val keys = ids.select(col(idCol).as("doc_id")).distinct()
    StoreFs.stagedRewrite(spark, normsPath) { tmp =>
      spark.read.parquet(normsPath)
        .join(broadcast(keys), Seq("doc_id"), "left_anti")
        .write.parquet(tmp)
    }
  }

  /** Physically reclaim postings whose doc is no longer live (has no norms
    * row — [[deleteDocs]]' tombstone semantics): the segment-merge half of
    * the delete lifecycle. One norms key scan + one layout-preserving
    * postings rewrite (bucket clustering, token sort, sidecars and the
    * streaming marker survive — the [[compactPostings]] swap). Returns
    * (files before, files after). */
  def purgeDeadPostings(spark: SparkSession, postingsPath: String,
                        normsPath: String): (Int, Int) = {
    val live = spark.read.parquet(normsPath).select(col("doc_id")).distinct()
    rewritePostings(spark, postingsPath)(
      _.join(live, Seq("doc_id"), "left_semi"))
  }

  private def rewritePostings(spark: SparkSession, path: String)(
      transform: DataFrame => DataFrame): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path): Int =
      fs.listStatus(p).toSeq.map { st =>
        if (st.isDirectory) dataFiles(st.getPath)
        else if (!st.getPath.getName.startsWith("_") &&
                 !st.getPath.getName.startsWith(".")) 1 else 0
      }.sum
    // the layout reads below must see a store a crashed swap set aside
    StoreFs.recover(spark, path)
    val before = dataFiles(root)
    // the sidecars travel with the data, written into the staging dir: the
    // schema/options meta, AND the streaming `_graft_batch` marker (r13) —
    // losing it would discard both the redelivery skip (a crash-then-replay
    // right after compaction re-applied its batch) and the queryId lineage
    // guard
    val sidecars = Seq(MetaFile, "_graft_batch")
      .flatMap(n => StoreFs.readMarker(spark, path, n).map(n -> _))
    // a segmented store keeps its segment partition through the rewrite
    val segCol = sidecars.collectFirst { case (MetaFile, raw) => raw }.flatMap { raw =>
      Option(dslMapper.readTree(raw).get("segmentCol")).filter(!_.isNull).map(_.asText)
    }
    val parts = segCol.toSeq :+ "bucket"
    StoreFs.stagedRewrite(spark, path) { tmp =>
      transform(spark.read.option("basePath", path).parquet(path))
        .repartition(parts.map(col): _*)
        .sortWithinPartitions("token", "field")
        .write.mode("overwrite").partitionBy(parts: _*).parquet(tmp)
      sidecars.foreach { case (n, raw) => StoreFs.writeMarker(spark, tmp, n, raw) }
    }
    (before, dataFiles(root))
  }

  /** Probe for one [[QueryCompiler.termMatch]] input — the load-bearing
    * observation: termMatch matches LITERALLY (after unescaping) up to the
    * first unescaped wildcard, and every word-char run of that literal
    * segment appears as a MAXIMAL word run in any matching document (its
    * in-value neighbors are literal non-word chars; value-edge runs are
    * bounded by the compiled `\b` anchors). So:
    *
    *  - a run terminated inside the literal segment (or at its end when no
    *    wildcard follows) is a token of every match → equality probe;
    *  - a run abutting the first wildcard starts a token of every match
    *    (`\b` + word chars open a maximal run) → startsWith probe;
    *  - no word run before the first wildcard (`*ark`, `?ark`, `---`) → no
    *    probe.
    *
    * This covers plain terms, quoted phrases, punctuated literals
    * (`a-b` → probe `a`), and mid-pattern wildcards (`a-filt*` → prefix
    * probe `filt`) in one rule. Longest candidate wins (selectivity);
    * equality beats a same-length prefix (it also prunes partitions). */
  private[graft] def termProbe(field: String, raw: String): Option[Probe] = {
    val t = raw.toLowerCase
    val lit = new StringBuilder
    var i = 0
    var sawWildcard = false
    while (i < t.length && !sawWildcard) {
      t(i) match {
        case '\\' if i + 1 < t.length => lit += t(i + 1); i += 2
        case '*' | '?' => sawWildcard = true
        case c => lit += c; i += 1
      }
    }
    val s = lit.toString
    val runs = "[a-z0-9_]+".r.findAllMatchIn(s).toSeq
    val (complete, prefixRun) = runs.partition(m => m.end < s.length || !sawWildcard)
    val eq = complete.map(_.matched).sortBy(r => (-r.length, r)).headOption
    val pre = prefixRun.map(_.matched).headOption
    (eq, pre) match {
      case (Some(e), Some(p)) =>
        Some(if (p.length > e.length) PrefixProbe(field, p) else EqProbe(field, e))
      case (Some(e), None) => Some(EqProbe(field, e))
      case (None, Some(p)) => Some(PrefixProbe(field, p))
      case _ => None
    }
  }

  /** Probe for literal (never-wildcarded) text — proximity phrases and DSL
    * `term`/`terms` exact values: any word run of the value is a maximal
    * run of every match (same boundary argument as [[termProbe]], minus the
    * wildcard case). */
  private def literalRunProbe(field: String, text: String): Option[Probe] =
    "[a-z0-9_]+".r.findAllIn(text.toLowerCase).toSeq
      .sortBy(r => (-r.length, r)).headOption.map(EqProbe(field, _))

  /** Cover of the Lucene-lite AST: a probe set whose postings union is a
    * superset of the query's matches, or None if no such set exists.
    *
    *  - `AND(l, r)`: matches ⊆ matches(l) and ⊆ matches(r) — either side's
    *    cover suffices; prefer the smaller probe set (fewer postings read).
    *  - `OR(l, r)`: both sides must be covered (union).
    *  - `Term` (incl. quoted phrases and wildcards) via [[termProbe]];
    *    `Proximity` via [[literalRunProbe]] (its tokens are literal).
    *  - `NOT` and the remaining leaves (fuzzy, regex, ranges, exists): no
    *    cover — their matches aren't bounded by any token's postings.
    *
    * By induction every doc matching the query carries at least one probed
    * token, so retrieval recall is exactly 1 and re-verification restores
    * precision. */
  private[graft] def cover(n: Node, fields: Set[String]): Option[Set[Probe]] = n match {
    case t: Term =>
      if (fields.contains(t.field)) termProbe(t.field, t.value).map(Set(_)) else None
    case p: Proximity =>
      if (fields.contains(p.field)) literalRunProbe(p.field, p.phrase).map(Set(_)) else None
    case And(l, r) =>
      (cover(l, fields), cover(r, fields)) match {
        case (Some(a), Some(b)) => Some(if (b.size < a.size) b else a)
        case (a, b) => a.orElse(b)
      }
    case Or(l, r) =>
      for { a <- cover(l, fields); b <- cover(r, fields) } yield a ++ b
    case _ => None
  }

  // ---- ES-DSL cover ----

  private val dslMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Cover walker over the ES-DSL JSON tree, mirroring [[QueryCompiler]]'s
    * DslJson semantics operator by operator (conservative: any shape this
    * walker doesn't recognize → None → scan fallback, so it can lag the
    * compiler without ever being wrong):
    *
    *  - analyzed-text leaves (`match`, `match_phrase`, `prefix`,
    *    `wildcard`, `match_phrase_prefix`) reduce to the exact termMatch
    *    input the compiler builds → [[termProbe]];
    *  - `term`/`terms` (exact value equality, textual values only): the
    *    matching doc's field IS the value, so the value's word runs are its
    *    tokens → [[literalRunProbe]] (numeric values fall back — their
    *    string rendering is cast-dependent);
    *  - `bool`: any covered `must`/`filter` clause bounds the result; when
    *    `minimum_should_match` ≥ 1 (explicit, or the should-only default)
    *    the union of ALL `should` covers does too — smallest option wins;
    *    `must_not` contributes nothing;
    *  - `dis_max` (OR of children) and `multi_match` (OR over fields):
    *    every branch must be covered, union;
    *  - `constant_score`: its filter's cover; `query_string`: the
    *    Lucene-lite cover of the sub-query;
    *  - `match_all`, `ids`, `exists`, `range`, `regexp`, `fuzzy`: None.
    */
  private[graft] def coverDsl(n: com.fasterxml.jackson.databind.JsonNode,
                              fields: Set[String],
                              defaultOr: Boolean = false): Option[Set[Probe]] = {
    import scala.jdk.CollectionConverters._
    if (n == null || !n.isObject || n.size != 1) return None
    val op = n.fieldNames.asScala.next()
    val body = n.get(op)
    def firstField: String = body.fieldNames.asScala.next()
    // the value node in both the short scalar and long object form
    def valueNode(vRaw: com.fasterxml.jackson.databind.JsonNode, key: String) =
      if (vRaw != null && vRaw.isObject) Option(vRaw.get(key)) else Option(vRaw)
    def textValue(key: String): Option[(String, String)] = {
      val f = firstField
      valueNode(body.get(f), key).filter(_.isTextual).map(v => (f, v.asText))
    }
    def clauseList(key: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
      Option(body.get(key)).toSeq.flatMap { c =>
        if (c.isArray) c.elements.asScala.toSeq else Seq(c)
      }
    op match {
      case "match" => textValue("query").flatMap { case (f, v) =>
        // match analyzes to OR'd whitespace terms: every matching doc
        // carries at least one matched term, so the cover is the UNION of
        // per-term probes (for operator=and the union is merely looser —
        // still a superset; re-verification restores precision)
        if (!fields.contains(f)) None
        else {
          val toks = v.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
          val probes = toks.map(t => termProbe(f, QueryCompiler.escapeTerm(t)))
          if (toks.nonEmpty && probes.forall(_.isDefined))
            Some(probes.flatten.toSet[Probe])
          else None
        }
      }
      case "match_phrase" => textValue("query").flatMap { case (f, v) =>
        // slop 0 compiles to termMatch(escaped); slop > 0 to proximity —
        // both are literal text, so the run probe is valid either way
        if (fields.contains(f)) literalRunProbe(f, v).map(Set[Probe](_)) else None
      }
      case "prefix" => textValue("value").flatMap { case (f, v) =>
        if (fields.contains(f)) termProbe(f, QueryCompiler.escapeTerm(v) + "*").map(Set(_)) else None
      }
      case "match_phrase_prefix" => textValue("query").flatMap { case (f, v) =>
        if (fields.contains(f)) termProbe(f, QueryCompiler.escapeTerm(v) + "*").map(Set(_)) else None
      }
      case "match_bool_prefix" => textValue("query").flatMap { case (f, v) =>
        // OR of term matches with a prefixed tail — like `match`, the
        // cover is the union of per-term probes (operator=and only
        // tightens; the union stays a superset)
        if (!fields.contains(f)) None
        else {
          val toks = v.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
          if (toks.isEmpty) None
          else {
            val probes = toks.init.map(t =>
              termProbe(f, QueryCompiler.escapeTerm(t))) :+
              termProbe(f, QueryCompiler.escapeTerm(toks.last) + "*")
            if (probes.forall(_.isDefined)) Some(probes.flatten.toSet[Probe])
            else None
          }
        }
      }
      case "wildcard" => textValue("value").flatMap { case (f, v) =>
        if (fields.contains(f)) termProbe(f, v).map(Set(_)) else None
      }
      case "term" => textValue("value").flatMap { case (f, v) =>
        if (fields.contains(f)) literalRunProbe(f, v).map(Set[Probe](_)) else None
      }
      case "terms" =>
        val f = firstField
        val vs = body.get(f)
        if (!fields.contains(f) || vs == null || !vs.isArray || vs.isEmpty) None
        else {
          val probes = vs.elements.asScala.toSeq.map { v =>
            if (v.isTextual) literalRunProbe(f, v.asText) else None
          }
          if (probes.forall(_.isDefined)) Some(probes.flatten.toSet[Probe]) else None
        }
      case "query_string" =>
        Option(body.get("query")).filter(_.isTextual).flatMap { q =>
          val df = Option(body.get("default_field")).filter(_.isTextual).map(_.asText)
          // the body's default_operator overrides the store-level one,
          // mirroring DslJson.compile — cover and compile must agree on
          // the AST or the candidate superset guarantee breaks
          val dOr = Option(body.get("default_operator")).filter(_.isTextual)
            .map(_.asText.equalsIgnoreCase("OR")).getOrElse(defaultOr)
          try cover(LuceneLite.ast(q.asText, df, dOr), fields)
          catch { case _: Exception => None }
        }
      case "multi_match" =>
        val qv = Option(body.get("query")).filter(_.isTextual)
        val fs = Option(body.get("fields")).filter(_.isArray)
          .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
        qv.flatMap { q =>
          val probes = fs.map { fn =>
            if (!fn.isTextual) None
            else {
              val raw = fn.asText
              val f = raw.lastIndexOf('^') match {
                case -1 => raw
                case i => raw.substring(0, i)
              }
              if (!fields.contains(f)) None
              else {
                // multi-word queries analyze to OR'd terms per field —
                // union of per-term probes, as in the match case
                val toks = q.asText.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
                val tps = toks.map(t => termProbe(f, QueryCompiler.escapeTerm(t)))
                if (toks.nonEmpty && tps.forall(_.isDefined))
                  Some(tps.flatten.toSet[Probe])
                else None
              }
            }
          }
          if (probes.nonEmpty && probes.forall(_.isDefined))
            Some(probes.flatten.flatten.toSet[Probe])
          else None
        }
      case "constant_score" => coverDsl(body.get("filter"), fields, defaultOr)
      // boosting matches exactly what `positive` matches (negative only
      // demotes the score) — positive's cover bounds it
      case "boosting" => coverDsl(body.get("positive"), fields, defaultOr)
      case "dis_max" =>
        val qs = Option(body.get("queries")).filter(_.isArray)
          .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
        val covers = qs.map(coverDsl(_, fields, defaultOr))
        if (covers.nonEmpty && covers.forall(_.isDefined))
          Some(covers.flatten.flatten.toSet)
        else None
      case "bool" =>
        val positive = clauseList("must") ++ clauseList("filter")
        val should = clauseList("should")
        val msm = Option(body.get("minimum_should_match"))
          .filter(_.isIntegralNumber).map(_.asInt)
          .getOrElse(if (positive.nonEmpty) 0 else 1)
        val posCovers = positive.flatMap(coverDsl(_, fields, defaultOr))
        val shouldCover =
          if (should.nonEmpty && msm >= 1) {
            val cs = should.map(coverDsl(_, fields, defaultOr))
            if (cs.forall(_.isDefined)) Some(cs.flatten.flatten.toSet) else None
          } else None
        (posCovers ++ shouldCover).sortBy(_.size).headOption
      case _ => None
    }
  }

  /** Probe set for either query syntax, or None (→ scan fallback). */
  private[graft] def coverQuery(query: String,
                                indexedFields: Set[String],
                                defaultOperator: String = "AND"): Option[Set[Probe]] = {
    val meta = QueryMeta.parse(query)
    val q = meta.query.trim
    try {
      val dOr = QueryCompiler.resolveOperator(meta, defaultOperator) == "OR"
      if (q.startsWith("{"))
        coverDsl(dslMapper.readTree(q).get("query"), indexedFields, dOr)
      else cover(LuceneLite.ast(q, None, dOr), indexedFields)
    } catch { case _: Exception => None }
  }

  /** Can this query (Lucene-lite or ES-DSL) be served from the index (vs
    * falling back to the scan executor)? Malformed queries report false —
    * validation stays [[QueryCompiler.validate]]'s job. */
  def coverable(query: String, indexedFields: Set[String],
                defaultOperator: String = "AND"): Boolean =
    coverQuery(query, indexedFields, defaultOperator).isDefined

  /** Pruned postings scan for a probe set: equality probes pin their
    * `bucket` partition values (directory-level pruning — a term query
    * reads ~1/N of the store) and their `token` values (row-group skips
    * within the directory); prefix probes push a `StartsWith` range over
    * all buckets (the token hash is unknowable from a prefix — still a
    * stats-pruned scan, never a regex). */
  /** Driver-side twin of the write path's `pmod(xxhash64(token), n)` —
    * the same catalyst hash (seed 42) Spark's `xxhash64` evaluates, so no
    * Spark job is needed to turn a probe token into its partition literal
    * (TextIndexSpec pins the two against each other to catch drift). */
  private[graft] def bucketOf(token: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(token),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  private[graft] def postingsFor(postings: DataFrame, probes: Set[Probe],
                                 nBuckets: Int): DataFrame = {
    val eqs = probes.collect { case EqProbe(f, t) => (f, t) }.toSeq.sorted
    val prefixes = probes.collect { case PrefixProbe(f, p) => (f, p) }.toSeq.sorted
    val eqPred = if (eqs.isEmpty) None else {
      val buckets = eqs.map { case (_, t) => bucketOf(t, nBuckets) }.distinct
      Some(col("bucket").isin(buckets: _*) &&
        eqs.map { case (f, t) => col("field") === f && col("token") === t }
          .reduce(_ || _))
    }
    val prePred = if (prefixes.isEmpty) None else
      Some(prefixes.map { case (f, p) =>
        col("field") === f && col("token").startsWith(p)
      }.reduce(_ || _))
    postings.where((eqPred ++ prePred).reduce(_ || _))
  }

  /** Candidate doc ids for a probe set (see [[postingsFor]]). */
  private[graft] def candidateIds(postings: DataFrame, probes: Set[Probe],
                                  nBuckets: Int): DataFrame =
    postingsFor(postings, probes, nBuckets).select("doc_id")

  /** BM25 ranking served ENTIRELY from the index — the doc store is never
    * read. Reads: one term-pruned postings scan (tf and df for the queried
    * terms) and the norms table (dl, plus one broadcast stats row for N and
    * avgdl). At 100 TB this touches data proportional to the matching docs
    * plus one narrow norms pass — vs [[Search.bm25]]'s two full corpus
    * scans.
    *
    * Declared semantics: Okapi BM25 with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`, identical to
    * [[Search.bm25]], over this index's ANALYZER view — tf/dl count maximal
    * word runs, not whitespace splits, so scores differ from the scan
    * executor's exactly where a doc contains hyphenated/punctuated tokens
    * (the two agree on clean single-space text, proven in TextIndexSpec).
    * Returns only docs matching ≥1 term (score > 0); requires either a
    * freshly built / insert-only-appended store (see [[buildPostings]] on
    * appended-store statistics) or a VERSIONED store: when both postings
    * and norms carry a `gen` column (written by [[appendPostings]]/
    * [[upsertNorms]] with a generation stamp), a postings row is live iff
    * its gen equals its doc's current norms gen — Lucene's doc-generation
    * model, Spark-shaped. The norms store (merged by key, one row per
    * (doc, field)) is the per-doc authority: an edited doc's stale rows
    * (old tf, disappeared tokens) carry an older gen and drop out of tf,
    * df, N, and avgdl alike, so served scores equal a from-scratch
    * rebuild. Serve-time cost of versioning: one equality filter inside
    * the norms join the score already pays for, plus a candidate-sized
    * dedup that also absorbs replayed-batch residue
    * (see [[graft.streaming.StreamingIndexer.upsertStreamServed]]).
    * Word-token terms only (anything else cannot be an index probe). */
  def bm25Indexed(postings: DataFrame, norms: DataFrame, field: String,
                  terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                  nBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val uniq = terms.map(_.toLowerCase).distinct
    uniq.foreach(t => require(WordTerm.matches(t),
      s"bm25Indexed terms must be word tokens (index probes): '$t'"))
    val probes: Set[Probe] = uniq.map(EqProbe(field, _)).toSet
    val versioned = postings.columns.contains("gen") &&
      norms.columns.contains("gen")
    val rows0 = postingsFor(postings, probes, nBuckets)
    val rows =
      if (!versioned)
        rows0.select(col("token"), col("doc_id"), col("tf").cast("double").as("tf"))
      else rows0.select(col("token"), col("doc_id"),
        col("tf").cast("double").as("tf"), col("gen").as("_pgen"))
    val fieldNorms0 = norms.where(col("field") === field)
    val fieldNorms1 =
      if (!versioned)
        fieldNorms0.select(col("doc_id"), col("dl").cast("double").as("dl"))
      else fieldNorms0.select(col("doc_id"), col("dl").cast("double").as("dl"),
        col("gen").as("_ngen"))
    // the norms relation feeds TWO plan subtrees (the collection-stats
    // aggregate and the per-doc score join), and when `norms` is an
    // in-query [[buildNorms]] frame each subtree re-runs the full corpus
    // tokenize (no exchange below it for ReuseExchange to dedupe).
    // Materialize the slim (doc_id, dl[, gen]) rows ONCE — localCheckpoint
    // rather than persist, so the blocks are ContextCleaner-freed with the
    // plan instead of pinning the CacheManager until an unpersist nobody
    // can issue on a returned plan (r15; guide §5/§6: read once).
    val fieldNorms = fieldNorms1.localCheckpoint(true)
    val stats = fieldNorms.agg(count(lit(1)).cast("double").as("N"),
      avg(col("dl")).as("avgdl"))
    // norms join BEFORE df: in a versioned store only live rows (postings
    // gen == the doc's current norms gen) may count toward df; the dedup
    // guards against replayed same-gen appends (see scaladoc). In a fresh
    // store rows are unique per (token, doc) and all docs have norms, so
    // the reordering does not change df.
    val live0 = rows.join(fieldNorms, "doc_id")
    val live1 =
      if (!versioned) live0
      else live0.where(col("_pgen") === col("_ngen"))
        .dropDuplicates("token", "doc_id").drop("_pgen", "_ngen")
    // `live` also feeds TWO subtrees (the df aggregate and the score
    // join), and with an in-query postings frame each re-execution pays
    // the probe-filtered corpus tokenize again (~2.9 s of the 9 s total
    // at sf1). Slim (token, doc_id, tf, dl) rows bounded by the probe
    // terms' matches — materialize once, freed with the plan (r15).
    val live = live1.localCheckpoint(true)
    val dfs = live.groupBy("token").agg(count(lit(1)).as("df"))
    live
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .withColumn("_contrib",
        log(lit(1.0) + (col("N") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("_contrib")).as("_bm25"))
  }

  /** Restrict `docs` to index candidates for `query` — the pre-filter the
    * scan executor then verifies. Falls back to `docs` unchanged when the
    * query has no cover, so composing with [[Search.search]] is always
    * safe. The semi join's strategy is Catalyst/AQE's choice: a selective
    * term yields a broadcastable candidate list; a stop-word-ish term
    * degrades to a shuffled semi join, never to a wrong answer. */
  def prefilter(docs: DataFrame, postings: DataFrame, query: String,
                idCol: String = "doc_id", indexedFields: Set[String],
                nBuckets: Int = 64,
                defaultOperator: String = "AND"): DataFrame = {
    val meta = QueryMeta.parse(query)
    val dOr = QueryCompiler.resolveOperator(meta, defaultOperator) == "OR"
    val q = meta.query.trim
    // a positional store upgrades phrase queries to the in-order candidate
    // set; everything else (and non-positional stores) takes the probe cover
    val phraseCands =
      if (q.startsWith("{")) None
      else try phraseAware(LuceneLite.ast(q, None, dOr), indexedFields, postings, nBuckets)
           catch { case _: Exception => None }
    phraseCands.orElse(
      coverQuery(query, indexedFields, defaultOperator)
        .map(candidateIds(postings, _, nBuckets))
    ) match {
      case Some(cands) =>
        docs.join(cands.withColumnRenamed("doc_id", "_cand_id"),
          docs(idCol) === col("_cand_id"), "left_semi")
      case None => docs
    }
  }

  /** Index-served [[Search.searchWithTotal]]: match rows, `hits.total`, and
    * `max_score` are computed over the pruned candidates (a proven match
    * superset, so all three are identical to the scan path); the response
    * envelope's store-describing stats (`shards_total` = segment count)
    * still read the full store. */
  def searchWithTotalIndexed(docs: DataFrame, postings: DataFrame, query: String,
                             cfg: IndexConfig, pkCols: Seq[String] = Seq("doc_id"),
                             segmentCol: Option[String] = None,
                             indexedFields: Set[String] = Set.empty,
                             nBuckets: Int = 64): DataFrame =
    Search.searchWithTotal(docs, query, cfg, pkCols, segmentCol,
      matchDocs = Some(prefilter(docs, postings, query, pkCols.head,
        indexedFields, nBuckets, cfg.defaultOperator)))

  /** Index-served search. Default (`pureIndex = false`): identical results
    * to `Search.search(docs, …)` by construction — candidates are a proven
    * superset and the scan executor re-applies the exact compiled
    * predicate, score, order, and cap on them; stale postings are
    * harmless.
    *
    * `pureIndex = true` additionally enables the Lucene execution model for
    * queries whose EVERY leaf is exactly decidable from postings membership
    * (word terms: `\btok\b` ⟺ token present; trailing-`*` word prefixes:
    * ⟺ a token startsWith): the boolean structure and the score evaluate
    * over per-leaf postings flags, top-k is taken on the index side, and
    * the doc store is touched only to load the returned rows (not at all
    * for `load-rows=false`). This trusts the index as the source of truth
    * for matching — correct for freshly built or append-only-new-docs
    * stores; after in-place overwrites the stale tokens of old versions
    * still match (the same visibility contract as an unmerged Lucene
    * index), so keep the default for stores maintained by blind appends.
    * Queries with any non-exact leaf fall back to verified mode
    * transparently. */
  def searchIndexed(docs: DataFrame, postings: DataFrame, query: String,
                    cfg: IndexConfig, pkCols: Seq[String] = Seq("doc_id"),
                    indexedFields: Set[String], nBuckets: Int = 64,
                    pureIndex: Boolean = false): DataFrame = {
    val meta = QueryMeta.parse(query)
    val q = meta.query.trim
    val dOr = QueryCompiler.resolveOperator(meta, cfg.defaultOperator) == "OR"
    val exact =
      if (!pureIndex || q.startsWith("{") || pkCols.size != 1) None
      else try {
        val ast = LuceneLite.ast(q, None, dOr)
        if (cover(ast, indexedFields).isDefined) exactLeavesOf(ast, indexedFields)
          .map(ls => (ast, ls))
        else None
      } catch { case _: Exception => None }
    exact match {
      case Some((ast, leaves)) =>
        runPureIndex(docs, postings, ast, leaves, meta, cfg, pkCols.head, nBuckets)
      case None =>
        Search.search(
          prefilter(docs, postings, query, pkCols.head, indexedFields, nBuckets,
            cfg.defaultOperator),
          query, cfg, pkCols)
    }
  }

  /** Leaves of the AST in traversal order, IF every leaf is exactly
    * postings-decidable: a word term (Eq probe ⟺ match) or a trailing-`*`
    * word prefix (StartsWith probe ⟺ match). Any other leaf → None. */
  private def exactLeavesOf(n: Node, fields: Set[String]): Option[Seq[Probe]] = n match {
    case t: Term if fields.contains(t.field) =>
      t.value.toLowerCase match {
        case WordTerm() => Some(Seq(EqProbe(t.field, t.value.toLowerCase)))
        case StarPrefixTerm(p) => Some(Seq(PrefixProbe(t.field, p)))
        case _ => None
      }
    case And(l, r) =>
      for { a <- exactLeavesOf(l, fields); b <- exactLeavesOf(r, fields) } yield a ++ b
    case Or(l, r) =>
      for { a <- exactLeavesOf(l, fields); b <- exactLeavesOf(r, fields) } yield a ++ b
    case Not(x) => exactLeavesOf(x, fields)
    case _ => None
  }

  /** Pure-index execution: one tagged, pruned postings scan per leaf; a
    * hash-aggregated per-doc flag row; the compiled boolean/score evaluated
    * over flags (flags are never null, and a missing posting reproduces
    * termMatch-on-null = no-match and NOT-on-null = match); index-side
    * top-k; docs joined back (broadcast — the hit list is capped) only when
    * rows or `_source` are requested. */
  private def runPureIndex(docs: DataFrame, postings: DataFrame, ast: Node,
                           leaves: Seq[Probe], meta: QueryMeta, cfg: IndexConfig,
                           idCol: String, nBuckets: Int): DataFrame = {
    val scans = leaves.zipWithIndex.map { case (p, i) =>
      postingsFor(postings, Set(p), nBuckets)
        .select(col("doc_id"), lit(i).as("_leaf"))
    }
    val flagCols = leaves.indices.map(i =>
      max(when(col("_leaf") === i, 1).otherwise(0)).as(s"_f$i"))
    val flags = scans.reduce(_.union(_))
      .groupBy("doc_id").agg(flagCols.head, flagCols.tail: _*)
    // rebuild predicate + score over flags, mirroring LuceneLite.compile's
    // traversal (leaf order identical to exactLeavesOf)
    var k = -1
    val scoreLeaves = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    def toCol(n: Node, pos: Boolean): org.apache.spark.sql.Column = n match {
      case t: Term =>
        k += 1
        val f = col(s"_f$k") === 1
        if (pos) scoreLeaves += when(f, t.boost).otherwise(0)
        f
      case And(l, r) => toCol(l, pos) && toCol(r, pos)
      case Or(l, r)  => toCol(l, pos) || toCol(r, pos)
      case Not(x)    => !toCol(x, pos = false)
      case other => throw new IllegalStateException(s"non-exact leaf: $other")
    }
    val pred = toCol(ast, pos = true)
    val score = if (scoreLeaves.isEmpty) lit(0) else scoreLeaves.reduce(_ + _)
    val limit = cfg.maxResults
    val hits = flags.where(pred).withColumn("_score", score)
      .select(col("doc_id").as(idCol), col("_score"))
      .orderBy(desc("_score"), col(idCol))
      .limit(limit)
    if (!meta.loadRows && !meta.loadSource) hits
    else {
      val loaded = docs.join(broadcast(hits), Seq(idCol), "inner")
      val cols = docs.columns.map(col).toSeq :+ col("_score")
      val withSrc =
        if (!meta.loadSource) loaded.select(cols: _*)
        else loaded.select(cols: _*).withColumn("_source",
          to_json(struct(docs.columns.toSeq.map(col): _*),
            Map("ignoreNullFields" -> "false")))
      if (meta.loadRows) withSrc
      else withSrc.select(col(idCol), col("_score"), col("_source"))
    }
  }
}
