package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism floor for pathologically-unsplittable inputs — the
  * optimization guide's §2.5 "one huge unsplittable file (gzip), or a
  * partitioned table where one partition holds most of the data …
  * otherwise repartition immediately after the read", as a reusable,
  * SCALE-ADAPTIVE helper.
  *
  * Parquet's split granularity is the row group: a table written as one
  * row group (exactly how the bench fixtures arrive at every SF) scans as
  * ONE task, so any operator whose per-row work dominates its byte size —
  * gram explodes, shingle/MinHash sketching, JSON round-trips, hashed
  * feature projections, BPE encoding — serializes on a single core while
  * the other N−1 idle. The fix is one hash exchange of the narrow input
  * right after the read, which costs the input's (small) bytes once and
  * buys N-way parallelism for the compute above it.
  *
  * Adaptivity contract (the round rules forbid constants tuned for one
  * deployment): the repartition fires ONLY when the frame's actual scan
  * parallelism is below the session's default parallelism — on a healthy
  * layout (row groups ≥ cores, i.e. any real corpus at scale) this is a
  * no-op and plans are byte-identical.
  */
object Spread {

  /** The size gate: an exchange's fixed cost (task launch, tiny shuffle
    * files) only amortizes with at least a few hundred KB to spread. */
  private val MinBytes = 256L * 1024

  /** Raise `df`'s partition count to the session's default parallelism by
    * hash-repartitioning on `key` when (and only when) the underlying
    * scan yields fewer partitions. `key` should be a stable, well-spread
    * expression — a unique id column is ideal (hash partitioning on a
    * deterministic key avoids round-robin's sort-before-repartition pass
    * and stays correct under task retries, SPARK-38388).
    *
    * `minDeficit` tunes WHEN the floor is worth its exchange, per call
    * site: the repartition fires only when the scan's parallelism is
    * under `floor / minDeficit`. Sites whose per-row compute dwarfs its
    * bytes (JSON round-trips, hashed-feature projections, gram explodes
    * feeding corpus aggregates) keep the default 1 — any deficit pays;
    * sites with cheap one-pass kernels (native MinHash/SimHash
    * sketching) pass a higher factor so a moderately-parallel scan
    * (e.g. 10 files on 32 cores) is left alone — measured at sf1, the
    * text exchange there cost more than the 3× compute gain bought. */
  def scanFloor(df: DataFrame, key: Column, minDeficit: Int = 1): DataFrame = {
    val sess = df.sparkSession
    val floor = sess.sparkContext.defaultParallelism
    if (floor <= 1) return df
    // size gate ([[MinBytes]]): toy inputs and unit-test literals must keep
    // their narrow no-shuffle plans. Estimated plan stats, not an action.
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < MinBytes) return df
    // The floor exists for SCAN-shaped inputs (one row group = one task).
    // A frame that already carries a shuffle-producing operator is fed by
    // an exchange whose partition count is the session's shuffle
    // parallelism — the floor has nothing to fix there, and probing its
    // partition count via `.rdd` would EXECUTE those upstream query
    // stages eagerly at plan-build time under AQE (they then re-run at
    // the real action — silent double work). Gate on the logical plan:
    // shuffle-bearing inputs return unchanged, and the `.rdd` probe below
    // only ever runs on narrow (scan/project/filter/generate/union)
    // plans, where no query stage exists to execute.
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffled = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Sort | _: Window | _: Distinct |
           _: RepartitionOperation | _: GlobalLimit => true
      case _ => false
    }
    if (shuffled) return df
    val have = df.rdd.getNumPartitions
    if (have >= math.max(1, floor / math.max(1, minDeficit))) df
    else df.repartition(floor, key)
  }
}
