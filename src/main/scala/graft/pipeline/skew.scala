package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation utilities.
  *
  * AQE's skew-join handles moderate skew at runtime; salting is the
  * explicit tool for pathological keys (a handful of doc-ids or join keys
  * carrying a large share of rows — e.g. boilerplate documents in dedup,
  * or a hot tenant in the search→row-load join). The pattern: widen the
  * hot key space on the large side with a deterministic salt, replicate
  * the small side across all salt values, join on (key, salt).
  */
object Skew {

  private val hotObsId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The degeneracy warnings' test/diagnostic surface: every executed
    * query whose plan carried a [[saltedVerifyJoin]] hot-id observation
    * with a NON-EMPTY hot set records `(hotIds, maxPairs, hotAt)` here
    * (bounded buffer, newest last). Drain the listener bus before reading
    * (listeners fire asynchronously). PROCESS-GLOBAL by design: this is a
    * diagnostic tap (tests and operator triage), not a query result — in a
    * multi-session JVM, observations from all sessions interleave here,
    * exactly like the shared log they mirror. */
  private val recentHot =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  def recentHotObservations: Seq[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    recentHot.asScala.toSeq
  }
  def clearHotObservations(): Unit = recentHot.clear()

  // weakly keyed: the registry must not pin a closed SparkSession in a
  // long-lived multi-session JVM — the session owns the listener, so when
  // the session is collected the listener goes with it and the entry here
  // only exists to make registration once-per-session
  private val listenerSessions = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.lang.Boolean]()))

  /** Register (once per session) the QueryExecutionListener that turns
    * the in-plan hot-id observations into log warnings — LSH bucket
    * degeneracy auto-diagnosis with zero extra jobs: detection resolves
    * inside the plan that runs anyway, and the listener only reads the
    * already-collected metric row. */
  private def ensureHotListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (listenerSessions.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_skew_hot_")) {
              val hotIds = row.getAs[Long]("hot_ids")
              if (hotIds > 0) {
                val maxPairs = row.getAs[Long]("max_pairs")
                val hotAt = row.getAs[Long]("hot_at")
                recentHot.add((hotIds, maxPairs, hotAt))
                while (recentHot.size > 64) recentHot.poll()
                org.slf4j.LoggerFactory.getLogger(Skew.getClass).warn(
                  s"LSH degeneracy: $hotIds doc id(s) exceed $hotAt candidate " +
                    s"pairs (max $maxPairs). Verify joins salted them, but " +
                    "candidate VOLUME is unbounded — run Dedup.lshBucketStats " +
                    "to see the degenerate buckets, remove the exact-dup class " +
                    "with Dedup.exact first, and consider the opt-in " +
                    "graft.lsh.maxBucket cap.")
              }
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  /** Salted equi-join of a skewed large side against a small side.
    *
    * The salt comes from `monotonically_increasing_id()` — partition-layout
    * dependent, NOT stable across retries or repartitioning. Join *output*
    * is unaffected (the small side is replicated across every salt value,
    * so each large-side row meets its match whatever salt it drew); only
    * the internal row→salt assignment varies. The small side is replicated
    * `saltFactor`× via an array explode — acceptable because the small side
    * is small by contract. One shuffle on (key, salt) whose partitions are
    * bounded by the largest key's share / saltFactor.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keyCols: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    // right/full outer would emit saltFactor copies of unmatched small-side
    // rows (it is replicated across salts) — reject join types whose
    // semantics the salting breaks
    val allowed = Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
    require(allowed.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports large-side-preserving join types only, got '$joinType'")
    // salt from a per-row unique id, not row content: identical duplicate
    // rows (the classic hot-key case) must spread across salts, and content
    // hashing would also choke on unhashable types like MapType columns
    val saltedLarge = large.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)).cast("int"))
    val saltedSmall = small.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedLarge.join(saltedSmall, keyCols :+ "_salt", joinType).drop("_salt")
  }

  /** Threshold-gated salting, fully lazy — the 100 TB shape for the LSH
    * verify joins, where skew is DATA-dependent (a boilerplate-heavy crawl
    * makes a few doc-ids carry most candidate pairs) and salting every key
    * would replicate the small side's heavy payload rows for nothing.
    *
    * Hot keys are detected inside the plan: a per-key count over the large
    * side (keys + a long — the cheapest possible aggregate) filtered to
    * `> hotAt`, broadcast onto both sides. ONLY hot keys salt: the large
    * side spreads a hot key's rows across `saltFactor` salt values, the
    * small side replicates a hot key's rows `saltFactor`×; every other key
    * joins on salt 0 exactly as unsalted. No driver-side action, no
    * construction-time job (the hot-key set resolves at execution, where
    * the stats actually exist), and join OUTPUT is salt-invariant — only
    * the row→task placement changes, so a reducer's share of a hot key is
    * bounded by its pair count / saltFactor instead of the whole key.
    * The unskewed-case overhead is one id-only aggregate and an
    * (almost always empty) broadcast. */
  def adaptiveSaltedJoin(large: DataFrame, small: DataFrame, keyCols: Seq[String],
                         hotAt: Long, saltFactor: Int,
                         joinType: String = "inner",
                         hotFrom: DataFrame = null): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(hotAt >= 1, "hotAt must be >= 1")
    val allowed = Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
    require(allowed.contains(joinType.toLowerCase.replace("_", "")),
      s"adaptiveSaltedJoin supports large-side-preserving join types only, got '$joinType'")
    // `hotFrom` lets chained salted joins detect hot keys from a CHEAP
    // equivalent-multiplicity frame (e.g. the persisted candidate-pair ids)
    // instead of re-executing the upstream join: the hot-set broadcast is a
    // job barrier, so its subtree runs once per chain link — detect from
    // the frame whose per-key row counts match `large`'s but whose compute
    // is already paid. Correctness is unaffected (salting is output-
    // invariant; an imperfect hot set only changes WHICH keys spread).
    val basis = Option(hotFrom).getOrElse(large)
    val hot = basis.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_hn")).where(col("_hn") > hotAt)
      .select(keyCols.map(col): _*).withColumn("_hot", lit(true))
    // same per-row-unique salt rationale as [[saltedJoin]]; `_hot` is true
    // or null (left-join miss), so the `when` falls through to salt 0 for
    // every key below the threshold
    val saltedLarge = large.join(broadcast(hot), keyCols, "left")
      .withColumn("_salt", when(col("_hot"),
        pmod(monotonically_increasing_id(), lit(saltFactor.toLong)).cast("int"))
        .otherwise(lit(0)))
      .drop("_hot")
    val saltedSmall = small.join(broadcast(hot), keyCols, "left")
      .withColumn("_salt", explode(when(col("_hot"),
        array((0 until saltFactor).map(lit): _*)).otherwise(array(lit(0)))))
      .drop("_hot")
    saltedLarge.join(saltedSmall, keyCols :+ "_salt", joinType).drop("_salt")
  }

  /** The verify joins' salting parameters, read at plan construction:
    * `graft.skew.saltAt` (an id salts once it is in more candidate pairs
    * than this; default 1M) and `graft.skew.saltFactor` (salts per hot id;
    * default 16). */
  private def saltParams(spark: org.apache.spark.sql.SparkSession): (Long, Int) = (
    spark.conf.getOption("graft.skew.saltAt").fold(1000000L)(_.toLong),
    spark.conf.getOption("graft.skew.saltFactor").fold(16)(_.toInt))

  /** The LSH verify-join specialization of [[adaptiveSaltedJoin]]: join a
    * candidate-pair frame `(id_a, id_b, …)` against per-id payload sides
    * for BOTH ends with ONE shared hot-id detection. The generic form
    * chained two adaptive joins, costing two hot aggregates and two
    * broadcast barriers; here one exploded pass over the (persisted,
    * ids-only) pair frame counts each id's pair multiplicity across both
    * roles, and the single broadcast hot set is reused by all four salt
    * joins (identical subtree → one exchange). A doc hot in either role
    * salts in both joins — more spreading than strictly needed, which is
    * harmless: salting is output-invariant. Overhead on an unskewed corpus
    * is one id-only aggregate and one (almost always empty) broadcast.
    * The threshold and factor are the session's [[saltParams]]. */
  def saltedVerifyJoin(pairs: DataFrame, sideA: DataFrame,
                       sideB: DataFrame): DataFrame = {
    val (hotAt, saltFactor) = saltParams(pairs.sparkSession)
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(hotAt >= 1, "hotAt must be >= 1")
    ensureHotListener(pairs.sparkSession)
    val hotRaw = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("_hid"))
      .groupBy(col("_hid")).agg(count(lit(1)).as("_hn"))
      .where(col("_hn") > hotAt)
    // auto-diagnosis rides the aggregate the salting already pays for: an
    // `observe` over the (tiny, usually empty) hot-id frame costs nothing
    // and resolves at EXECUTION, where the stats exist — the listener logs
    // a degeneracy warning whenever hot ids appear (a doc id hot in the
    // candidate-pair frame IS a member of a degenerate LSH bucket; see
    // Dedup.lshBucketStats / graft.lsh.maxBucket for the follow-ups).
    // The metric name is uniquified per call — CollectMetrics names must
    // be unique within one query, and a plan may verify twice.
    val hot = hotRaw
      .observe(s"graft_skew_hot_${hotObsId.incrementAndGet()}",
        count(lit(1)).as("hot_ids"), max(col("_hn")).as("max_pairs"),
        lit(hotAt).as("hot_at"))
      .select(col("_hid")).withColumn("_hot", lit(true))
    def saltLarge(df: DataFrame, key: String): DataFrame =
      df.join(broadcast(hot), col(key) === col("_hid"), "left")
        .withColumn(s"_salt_$key", when(col("_hot"),
          pmod(monotonically_increasing_id(), lit(saltFactor.toLong)).cast("int"))
          .otherwise(lit(0)))
        .drop("_hid", "_hot")
    def saltSmall(df: DataFrame, key: String): DataFrame =
      df.join(broadcast(hot), col(key) === col("_hid"), "left")
        .withColumn(s"_salt_$key", explode(when(col("_hot"),
          array((0 until saltFactor).map(lit): _*)).otherwise(array(lit(0)))))
        .drop("_hid", "_hot")
    saltLarge(saltLarge(pairs, "id_a")
        .join(saltSmall(sideA, "id_a"), Seq("id_a", "_salt_id_a"))
        .drop("_salt_id_a"), "id_b")
      .join(saltSmall(sideB, "id_b"), Seq("id_b", "_salt_id_b"))
      .drop("_salt_id_b")
  }

  /** Two-phase (partial → final) count per key with an explicit salt —
    * demonstrates the map-side-combine shape for skewed aggregations where
    * a single reducer would otherwise own the hot key. Spark's hash
    * aggregate already partial-aggregates; this forces the split when the
    * combiner alone can't keep up (e.g. high-cardinality payloads). */
  def saltedCount(df: DataFrame, keyCols: Seq[String], saltFactor: Int): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)).cast("int"))
    salted.groupBy((keyCols :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_partial"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_partial")).as("cnt"))
  }
}
