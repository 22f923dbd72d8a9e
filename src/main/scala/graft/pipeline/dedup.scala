package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines.
  *
  * Five strategies, all shuffle-disciplined for 100 TB:
  *  - exact: one hash-aggregate on the content fingerprint;
  *  - MinHash + LSH: candidate generation via banded signature buckets
  *    (shuffle on (band, hash) — no all-pairs join ever materializes);
  *  - SimHash: 64-bit signature + pigeonhole banding for Hamming-ball pairs;
  *  - n-gram Jaccard: exact verification via token-postings join;
  *  - embedding cosine: see [[Similarity]] (random-hyperplane LSH buckets).
  *
  * Everything is `functions._` expressions (codegen'd); no UDFs, no collects.
  */
object Dedup {

  /** Whitespace tokens of normalized text. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Exact dedup: keep the lowest id per identical normalized text.
    * One map-side-combinable hash aggregate — the 100 TB-safe shape.
    * The fingerprint is [[TextStats.fingerprint]] (one shared definition of
    * "same content": lowercased, whitespace-collapsed).
    *
    * No scan floor here (r15): the per-row work is one normalize+md5 whose
    * map-side partial aggregate shrinks the exchange to fingerprint rows,
    * while the floor's exchange would move the FULL text first — measured
    * at both bench scales the floor lost (sf0.1 0.25 → 0.39 s, sf1
    * 0.48 → 0.52 s), exactly the "cheap one-pass kernel" case the
    * minDeficit note in [[Spread.scanFloor]] warns about. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Word k-shingles (contiguous k-grams) of a token-array column.
    *
    * IMPORTANT: pass a *bound column* of tokens, not an inline `tokens(text)`
    * expression — interpreted higher-order lambdas re-evaluate their child
    * expressions per element, so an inline tokenizer would re-split the text
    * once per shingle (quadratic; measured 6.4 s vs 0.2 s on 5k docs). */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Convenience form for ad-hoc use on small inputs. */
  def shingles(text: Column, k: Int): Column = shinglesOfTokens(tokens(text), k)

  /** MinHash signature of a shingle-array column — delegates to the native
    * one-pass expression ([[graft.functions.MinHashSig]]). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.TextSketchFunctions.minhash_sig(shingleCol, numHashes)

  /** MinHash-LSH near-duplicate pairs.
    *
    * bands × rowsPerBand = signature length; docs sharing any band bucket are
    * candidates; candidates are verified with exact Jaccard over shingle sets.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * Scale shape: explode to (doc × bands) rows → shuffle on band bucket →
    * self-join inside buckets only. Bucket skew (a degenerate bucket holding
    * thousands of near-identical docs) is the known hot spot; AQE skew-join
    * handles moderate cases, and the exact-dup class should be removed with
    * [[exact]] first.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
                   threshold: Double = 0.5): DataFrame = {
    // bands=16 (2 rows/band): candidate recall at jaccard 0.5 is
    // 1-(1-0.5²)^16 ≈ 0.99; false candidates are cheap (verified exactly)
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // Sketching is one narrow native projection per row (no explode, no
    // aggregate shuffle) — see [[graft.functions.MinHashSig]]; only
    // (id, band, bucket) ever reaches an exchange.
    import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
    // No corpus-wide materialization at all (r15). The r13 .cache() here
    // (never unpersisted — it leaked a CacheManager entry per call and
    // warmed the bench's repeat runs) existed because the shingle
    // projection fed three subtrees. But only the SIGNATURE pass needs
    // every doc's shingles — and there they collapse INTO the sig
    // expression (column pruning drops `sh`, so the arrays never
    // materialize); the two verification sides need CANDIDATE docs only,
    // and their broadcast semi-join pushes below the shingle projection
    // (PushDownLeftSemiAntiJoin), so re-computing them touches candidate
    // rows, not the corpus. Net: one corpus-wide shingle evaluation plus
    // two candidate-sized ones, zero storage — measured at sf1 this beats
    // both the cache (leak, warm-run bias) and an eager checkpoint
    // (writing corpus-sized arrays to block storage cost ~1 s/run).
    val base = Spread.scanFloor(df, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"), col(textCol).as("_txt"))
    val sketches = base.select(col("id"),
      word_shingles(tokens(col("_txt")), shingleK).as("sh"))
      .select(col("id"), col("sh"), minhash_sig(col("sh"), numHashes).as("sig"))
    pairsFromSketches(sketches, base,
      word_shingles(tokens(col("_txt")), shingleK), numHashes, bands, threshold)
  }

  /** The 100 TB pattern behind [[minhashPairs]], materialized: sketch the
    * corpus ONCE into a `(id, sh, sig)` parquet store, then run every dedup
    * sweep (different bands/thresholds, incremental re-runs) from the store
    * without touching the text again. Shingling+sketching dominate the
    * one-job cost; at corpus scale they should be paid once, not per sweep.
    */
  def writeSketchStore(df: DataFrame, path: String, textCol: String, idCol: String,
                       shingleK: Int = 3, numHashes: Int = 32): Unit = {
    import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
    Spread.scanFloor(df, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"),
        word_shingles(tokens(col(textCol)), shingleK).as("sh"))
      .withColumn("sig", minhash_sig(col("sh"), numHashes))
      // materialized before the sort (r15): the range partitioner's
      // sampling pass otherwise EXECUTES the child once more — the whole
      // shingle+sketch compute ran twice per store write; the sampling now
      // reads checkpoint blocks, and the blocks free with the plan
      .localCheckpoint(true)
      // sorted on id like every other keyed store: AQE coalesces the sort
      // exchange so the file count tracks data size (the spread compute
      // above otherwise fragments a small store into cores-many files,
      // taxing every later read), and id-ordered row groups min/max-prune
      // the delete sweep's and incremental probe's id joins
      .sort("id")
      .write.mode("overwrite").parquet(path)
  }

  /** Data-leaves verb for the sketch store (S5/M4 for the dedup plane,
    * r13): a deleted doc's sketch otherwise keeps emitting candidate
    * pairs forever, steering downstream keep/drop decisions with a doc
    * that no longer exists. Deletes BY KEY via one staged rewrite of the
    * slim (id, sh, sig) rows — the upsertNorms discipline (the store is
    * flat, so there is no partition-scoped shortcut; sketches are
    * numHashes ints + shingle hashes per doc, orders of magnitude slimmer
    * than the corpus). Batch deletes to amortize the rewrite. */
  def deleteFromSketchStore(spark: org.apache.spark.sql.SparkSession,
                            path: String, ids: DataFrame,
                            idCol: String = "id"): Unit = {
    val keys = ids.select(col(idCol).as("id")).distinct()
    graft.StoreFs.stagedRewrite(spark, path) { tmp =>
      spark.read.parquet(path)
        .join(broadcast(keys), Seq("id"), "left_anti")
        .write.parquet(tmp)
    }
  }

  /** Run MinHash-LSH pairs from a [[writeSketchStore]] store — identical
    * output to [[minhashPairs]] on the original corpus. `numHashes` must
    * match the store's signature length (checked at runtime against the
    * first row — a mismatched banding would silently halve recall). */
  def minhashPairsFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                            numHashes: Int = 32, bands: Int = 16,
                            threshold: Double = 0.5): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val store = spark.read.parquet(path)
    // 1-row probe; an empty store legitimately yields an empty pair set
    store.select(size(col("sig"))).head(1).foreach { r =>
      require(r.getInt(0) == numHashes,
        s"store signature length ${r.getInt(0)} != numHashes $numHashes")
    }
    // stored shingles: the verify sides' candidate semi-join lands on the
    // id-sorted parquet scan (row-group pruned), shCol is just the column
    pairsFromSketches(store, store, col("sh"), numHashes, bands, threshold)
  }

  /** Incremental near-dup check against a [[writeSketchStore]] store: pairs
    * where AT LEAST ONE side is in `newDocs` (new↔corpus and new↔new; the
    * corpus is never re-paired against itself). The continuous-ingestion
    * path — per batch, candidate volume scales with the NEW docs' bucket
    * collisions, not with corpus². `appendToStore=true` then adds the new
    * sketches so the next batch sees this one. Ids must be globally unique
    * across store and batch. */
  def minhashPairsIncremental(spark: org.apache.spark.sql.SparkSession, path: String,
                              newDocs: DataFrame, textCol: String, idCol: String,
                              shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
                              threshold: Double = 0.5,
                              appendToStore: Boolean = false): DataFrame = {
    import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // localCheckpoint, not cache (r15): read by the banding, the verify
    // union, and the optional store append — and freed with the plan
    // instead of leaking a CacheManager entry per batch
    val fresh = Spread.scanFloor(newDocs, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"),
        word_shingles(tokens(col(textCol)), shingleK).as("sh"))
      .withColumn("sig", minhash_sig(col("sh"), numHashes))
      .localCheckpoint(true)
    val store = spark.read.parquet(path)
    val out = incrementalPairs(store, fresh, numHashes, bands, threshold)
    if (appendToStore) fresh.sort("id").write.mode("append").parquet(path)
    out
  }

  /** Shared incremental core: pairs touching `fresh` (already sketched as
    * `(id, sh, sig)`) against a sketched `store` — new↔store and new↔new,
    * never store↔store. */
  private[graft] def incrementalPairs(store: DataFrame, fresh: DataFrame,
                                      numHashes: Int, bands: Int,
                                      threshold: Double): DataFrame = {
    val bNew0 = bandedOf(fresh, numHashes, bands)
    val bAll0 = bandedOf(store, numHashes, bands).unionByName(bNew0)
    // the cap (when set) is judged on the UNION's bucket population and
    // applied to both join sides — a bucket degenerate across store+batch
    // can't explode an incremental batch either
    val bNew = capBuckets(bNew0, bAll0)
    val bAll = capBuckets(bAll0, bAll0)
    // one side always new: join the (small) new banding against everything;
    // least/greatest normalizes to the id_a < id_b convention
    val candidates = bNew.select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(bAll.select(col("band"), col("bucket"), col("id").as("id_o")),
        Seq("band", "bucket"))
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val allShingles = store.select(col("id"), col("sh"))
      .unionByName(fresh.select(col("id"), col("sh")))
    verifyPairs(candidates, allShingles, col("sh"), threshold)
  }

  /** Shared LSH core: band the signatures, bucket-join candidates, verify
    * exactly against shingle sets built for CANDIDATE docs only.
    * `sketches` = (id, sh, sig) feeds the banding (column pruning keeps
    * only id+sig there); `shingleSource`/`shCol` build the verification
    * sides — the semi-join on candidate ids is placed BELOW the shingle
    * projection by construction (r15: the optimizer does not push a
    * LeftSemi through a generator-bearing Project, so handing it a
    * pre-projected frame re-shingled the whole corpus on BOTH verify
    * sides; building join-then-project keeps verification ∝ candidates). */
  private def pairsFromSketches(sketches: DataFrame, shingleSource: DataFrame,
                                shCol: Column, numHashes: Int, bands: Int,
                                threshold: Double): DataFrame = {
    val banded = capBuckets(bandedOf(sketches, numHashes, bands))
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, shingleSource, shCol, threshold)
  }

  /** OPT-IN bucket-size cap for the LSH candidate self-join — the
    * volume-side complement to the verify joins' threshold salting. A
    * bucket of B near-identical docs emits B²/2 candidate pairs; salting
    * balances where those pairs land, but nothing bounds HOW MANY there
    * are. With `graft.lsh.maxBucket` = N (conf; 0/unset = off), buckets
    * larger than N are excluded from candidate generation, bounding the
    * join's output at buckets × N² — the standard production cap
    * (oversized buckets are near-identical boilerplate that [[exact]]
    * dedup should have removed first).
    *
    * EXPLICITLY recall-affecting, which is why it is opt-in and never a
    * silent default: pairs whose ONLY collision is an over-cap bucket are
    * not emitted. [[lshBucketStats]] is the companion diagnostic — run it
    * first to see exactly which buckets (and how many docs) a cap would
    * drop. The over-cap bucket list is detected lazily in-plan and
    * broadcast (tiny by construction: buckets above N docs). */
  private[graft] def capBuckets(banded: DataFrame,
                                pop: DataFrame = null): DataFrame = {
    val maxBucket = banded.sparkSession.conf
      .getOption("graft.lsh.maxBucket").map(_.toInt).getOrElse(0)
    if (maxBucket <= 0) banded
    else {
      val basis = Option(pop).getOrElse(banded)
      val over = basis.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("_bn")).where(col("_bn") > maxBucket)
        .select(col("band"), col("bucket")).withColumn("_over", lit(true))
      banded.join(broadcast(over), Seq("band", "bucket"), "left")
        .where(col("_over").isNull).drop("_over")
    }
  }

  /** Per-bucket population of the MinHash banding — the diagnostic to run
    * BEFORE setting `graft.lsh.maxBucket`: shows which (band, bucket)
    * cells are degenerate and how many docs a cap at N would exclude.
    * One id-only aggregate; never touches text. */
  def lshBucketStats(df: DataFrame, textCol: String, idCol: String,
                     shingleK: Int = 3, numHashes: Int = 32,
                     bands: Int = 16): DataFrame = {
    import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val sketches = df.select(col(idCol).as("id"),
      minhash_sig(word_shingles(tokens(col(textCol)), shingleK), numHashes).as("sig"))
    bandedOf(sketches, numHashes, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("docs"))
  }

  /** Band MinHash signatures to (id, band, bucket) rows — the only shape
    * that ever crosses the candidate-join exchange. */
  private def bandedOf(sketches: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sketches.select(col("id"),
      posexplode(array(Seq.tabulate(bands) { b =>
        // hash the signature longs directly — no string materialization
        xxhash64((1 to rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r)) :+ lit(b): _*)
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Exact-Jaccard verification: join shingle sets back per candidate side.
    *
    * The array-carrying side is first reduced to candidate docs with an
    * ids-only semi-join. Without this, whenever `shingled` is a cached
    * relation (any second dedup query in a session — the cache registry
    * matches by plan) its stats are the LARGE in-memory size, the static
    * planner picks sort-merge, and every doc's shingle array crosses the
    * exchange: measured 232 MB / 8.6 s vs 0.27 MB / 0.7 s for dedupCorpus
    * on the 10× gate corpus. The candidate-id set is AQE-broadcastable at
    * runtime, so corpus arrays never shuffle and verification stays
    * ∝ candidate docs at any corpus size.
    *
    * `candidates` is materialized once (ids only — tiny next to the
    * arrays) so deriving the id set doesn't re-run the bucket self-join;
    * localCheckpoint rather than persist (r15) so the blocks free with
    * the plan instead of pinning the CacheManager. `shingleSource` must
    * carry `id` plus whatever `shCol` reads: the shingle projection is
    * applied ABOVE the candidate semi-join (see [[pairsFromSketches]]). */
  private def verifyPairs(candidates: DataFrame, shingleSource: DataFrame,
                          shCol: Column, threshold: Double): DataFrame = {
    val cand = candidates.localCheckpoint(true)
    // explicit broadcast: waiting for AQE to convert would still WRITE the
    // array side's exchange before replanning (measured 78 MB of wasted
    // shuffle). Candidate ids being ≪ corpus is the LSH design invariant
    // (bounded by bucket-collision volume); a corpus degenerate enough to
    // break it needs its exact-dup class removed with [[exact]] first.
    val candIds = broadcast(
      cand.select(col("id_a").as("id"))
        .unionAll(cand.select(col("id_b").as("id")))
        .distinct())
    val candSh = shingleSource.join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shCol.as("sh"))
    // skew-hardened verify joins: a boilerplate-heavy corpus can put one
    // doc-id in millions of candidate pairs (every bucket it collides
    // with), and when the shingle side outgrows broadcast the sort-merge
    // reducer owning that id gets the whole load. Threshold-gated salting
    // ([[Skew.adaptiveSaltedJoin]]) spreads only such hot ids — keys below
    // `graft.skew.saltAt` (default 1M pairs) join exactly as before, so
    // the common-case plan cost is one id-only count + an empty broadcast,
    // with no driver-side action. Output is salt-invariant.
    val sess = shingleSource.sparkSession
    val saltAt = sess.conf.getOption("graft.skew.saltAt")
      .map(_.toLong).getOrElse(1000000L)
    val saltF = sess.conf.getOption("graft.skew.saltFactor")
      .map(_.toInt).getOrElse(16)
    Skew.saltedVerifyJoin(cand,
        candSh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        candSh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        saltAt, saltF)
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash of the token multiset: bit i is the sign of
    * Σ_tokens (bit i of xxhash64(token) ? +1 : −1). Native one-pass
    * expression ([[graft.functions.SimHash64]]). */
  def simhash(text: Column): Column =
    graft.functions.TextSketchFunctions.simhash64(tokens(text))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxDist.
    *
    * Candidate generation by pigeonhole banding: split the 64-bit signature
    * into `maxDist + 1` chunks — any pair within the Hamming ball agrees on
    * at least one chunk, so an equi-join per chunk finds all candidates
    * without an all-pairs comparison. Verification = `bit_count(a ^ b)`.
    */
  /** SimHash signatures for a whole corpus — one narrow native projection
    * per row ([[graft.functions.SimHash64]]): no explode, no shuffle. */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import graft.functions.TextSketchFunctions.simhash64
    Spread.scanFloor(df, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("sig"))
  }

  /** Shuffle note: unlike the embedding-LSH paths (which shuffle ids only
    * and join vectors back — see [[Similarity.cosinePairs]]), the banded
    * rows here carry the 8-byte signature through the exchange: the carry
    * costs less than the two extra verification joins it would replace.
    * The id-only discipline pays off when the payload is wide (vectors,
    * shingle sets), not for one long. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1 && maxDist <= 31, "maxDist must be in [1, 31]")
    val chunks = maxDist + 1
    val width = 64 / chunks
    val sigs = simhashSignatures(df, textCol, idCol)
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(Seq.tabulate(chunks) { c =>
        shiftright(col("sig"), c * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "piece")
    val a = banded.select(col("chunk"), col("piece"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk"), col("piece"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "piece"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Connected components over a near-duplicate pair list: every doc gets
    * the minimum id of its duplicate cluster as `cluster_id`.
    *
    * Each round combines min-label propagation (adopt the smallest label
    * among self and neighbors) with pointer jumping (then adopt the label
    * of your label), which makes convergence logarithmic in cluster
    * diameter, not linear — a 1000-doc boilerplate chain converges in ~10
    * rounds. Non-convergence within `maxIters` throws: silently returning
    * partial labels would make [[dedupCorpus]] keep duplicate "canonical"
    * docs.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 15,
               driverThreshold: Long = 2000000): DataFrame = {
    // The duplicate-pair graph is model-sized, not data-sized (it holds
    // only docs with at least one near-dup). Below the threshold a
    // driver-side union-find beats ~5 Spark stages per propagation round
    // by two orders of magnitude; above it, the distributed loop takes over.
    // ONE bounded collect makes the decision AND feeds the local path —
    // the previous count()-then-collect() pair executed the (expensive)
    // pair pipeline twice; threshold+1 rows of two ids bound the driver
    // cost at ~50 MB, far under any realistic pair payload (r14).
    val probeCap = math.min(driverThreshold, Int.MaxValue - 2L).toInt + 1
    val probe = pairs.select(col("id_a"), col("id_b")).limit(probeCap).collect()
    if (probe.length < probeCap) return clustersLocal(pairs, probe)
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(true) // freed with the plan; read every round below
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "id_b")
          .withColumnRenamed("cluster_id", "nb_label"), Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("nb_label")).as("nb_min"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: label := label(label) — labels are always node ids
      val parents = propagated
        .select(col("id").as("p_id"), col("cluster_id").as("p_label"))
      // localCheckpoint (eager) materializes the round AND truncates the
      // plan lineage — without it the nested-join plan doubles every round
      // and planning itself OOMs after ~8 rounds
      val next = propagated
        .join(parents, propagated("cluster_id") === parents("p_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("p_label"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("cluster_id", "prev"), Seq("id"))
        .where(col("cluster_id") =!= col("prev")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds — " +
          "raise maxIters (pathologically deep duplicate chains)")
    labels
  }

  /** Driver-side union-find (path compression + size union) with a min-id
    * pass so every member labels to its cluster's smallest id. Exact same
    * contract as the distributed loop. `edges` is the already-collected
    * pair set ([[clusters]]'s decision probe — collected once, used once). */
  private def clustersLocal(pairs: DataFrame,
                            edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val parent = scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    edges.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: java.lang.Number, b: java.lang.Number) => a.longValue < b.longValue
      case (a, b) => String.valueOf(a) < String.valueOf(b)
    }
    val minOfRoot = scala.collection.mutable.HashMap[Any, Any]()
    parent.keys.foreach { m =>
      val r = find(m)
      minOfRoot.get(r) match {
        case Some(cur) if !lt(m, cur) => ()
        case _ => minOfRoot(r) = m
      }
    }
    val rows = parent.keys.toSeq.map(m =>
      org.apache.spark.sql.Row(m, minOfRoot(find(m))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000 + 1)),
      schema)
  }

  /** Corpus-level near-duplicate removal: MinHash-LSH pairs → clusters →
    * keep only the canonical (minimum-id) member of each cluster. The
    * "dedup the training set" operation end-to-end. */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
                  threshold: Double = 0.5): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, shingleK, numHashes, bands, threshold)
    val losers = clusters(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate n-gram SPAN detection — exact-substring dedup in the style
    * of "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2021), re-shaped for Spark: instead of a corpus suffix array
    * (inherently sequential to build), duplicated regions are found as runs
    * of duplicated fixed-width token windows.
    *
    * A window = `n` contiguous tokens. A window is *duplicated* when its
    * exact token sequence occurs ≥ `minCount` times across the corpus
    * (including repeats within one document). Overlapping/adjacent
    * duplicated windows merge into maximal spans, so any duplicated
    * substring of ≥ `n` tokens is recovered in full; substrings shorter
    * than `n` are below the detection floor by design (Lee et al. use a
    * 50-BPE-token floor for the same reason — short repeats are natural
    * language, not crawl duplication).
    *
    * Scale shape (the whole point vs. a suffix array):
    *  1. one narrow projection computes per-window hashes
    *     ([[graft.functions.GramHashes]] — token bytes hashed once, windows
    *     fold token hashes; no per-window strings);
    *  2. the duplicated-window aggregate shuffles only `(hash, id, start)`
    *     — 20 bytes/window, corpus text never crosses an exchange;
    *  3. candidates (windows whose HASH repeats — a tiny, skew-free slice
    *     of the corpus) are re-verified against the exact gram text,
    *     sliced from the token arrays of candidate docs only, so a hash
    *     collision costs a false candidate, never a false span — the same
    *     candidates-then-verify discipline as [[minhashPairs]];
    *  4. span merge is a per-document gaps-and-islands window — bounded by
    *     doc length, never a global window.
    *
    * Output: `(id, span_start, span_end, span_len, n_windows)` — 1-based
    * token positions, inclusive; `n_windows` = duplicated windows merged
    * into the span. Positions index the NORMALIZED token stream
    * ([[tokens]]: lowercased, whitespace-split) — one shared definition of
    * "same content" across the dedup suite. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 8, minCount: Int = 2): DataFrame = {
    require(n >= 1, "window width must be >= 1")
    require(minCount >= 2, "minCount below 2 would mark every window")
    import graft.functions.TextSketchFunctions.gram_hashes
    val toks = Spread.scanFloor(df, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
    val windows = toks
      .select(col("id"), posexplode(gram_hashes(col("tk"), n)))
      .select(col("id"), (col("pos") + 1).as("st"), col("col").as("h"))
    // hash-level duplicate filter: over-approximates (collisions), so the
    // count threshold must re-apply after exact verification below
    val dupHashes = windows.groupBy("h")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select("h")
    val candWindows = windows.join(dupHashes, Seq("h"), "left_semi")
    // exact verification: re-slice the gram text for candidate docs only
    // (ids-only semi-join keeps non-candidate token arrays out of the join,
    // same reasoning as verifyPairs), then re-count by the true gram
    val candIds = broadcast(candWindows.select("id").distinct())
    val candToks = toks.join(candIds, Seq("id"), "left_semi")
    val verified = candWindows
      .join(candToks, Seq("id"))
      .withColumn("gram", concat_ws(" ", slice(col("tk"), col("st"), lit(n))))
      .select("id", "st", "gram")
    val dupGrams = verified.groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select("gram")
    val marked = verified.join(dupGrams, Seq("gram"), "left_semi")
      .select("id", "st")
    spansFromMarked(marked, n, idCol)
  }

  /** Shared span-merge core: `(id, st)` marked window starts → maximal
    * spans, by per-doc gaps-and-islands (a window starts a new span when it
    * leaves the previous one's coverage `[lag_st, lag_st + n - 1]`). Used
    * by [[duplicateSpans]] and [[graft.pipeline.Curate.contaminationSpans]]
    * — anything that can mark windows can report spans. */
  private[pipeline] def spansFromMarked(marked: DataFrame, n: Int,
                                        idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("st")
    marked
      .withColumn("brk",
        when(col("st") > lag(col("st"), 1).over(w) + n, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("st")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("st")).as("span_start"),
        (max(col("st")) + n - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** Remove every duplicated span found by [[duplicateSpans]] from the
    * corpus: tokens inside ANY duplicate span are dropped (all occurrences
    * — deterministic with no global tie-break; keeping one canonical copy
    * would need a corpus-wide ordering of occurrences) and the surviving
    * tokens are re-joined with single spaces. Output text is therefore the
    * NORMALIZED token stream — the same normalization every other dedup
    * strategy compares under.
    *
    * Output: `(id, clean_text, n_tokens, removed_tokens)`; docs without
    * duplicate spans pass through with `removed_tokens = 0` (clean_text
    * still normalized, so the column is self-consistent).
    *
    * Scale: spans-per-doc is bounded by doc length, so the `collect_list`
    * is a per-doc aggregate (never corpus-wide) and the token filter is a
    * bounded per-row lambda over a BOUND tokens column (the interpreted-
    * lambda rule: `tk`/`_spans` are materialized columns, so the lambda
    * never re-evaluates the tokenizer per element). */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 8, minCount: Int = 2): DataFrame =
    removeSpans(df, duplicateSpans(df, textCol, idCol, n, minCount),
      textCol, idCol)

  /** Shared removal core: drop every token inside any of `spans`
    * (`(idCol, span_start, span_end, …)` rows) and re-join survivors —
    * output `(id, clean_text, n_tokens, removed_tokens)` in the normalized
    * token stream. Spans-per-doc is doc-length-bounded, so the
    * `collect_list` is a per-doc aggregate and the token filter a bounded
    * per-row lambda over BOUND columns. */
  private[pipeline] def removeSpans(df: DataFrame, spans: DataFrame,
                                    textCol: String, idCol: String): DataFrame = {
    val spanSets = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val toks = df.select(col(idCol), tokens(col(textCol)).as("tk"))
    toks
      .join(spanSets, Seq(idCol), "left")
      .withColumn("kept",
        when(col("_spans").isNull, col("tk")).otherwise(
          filter(col("tk"), (t, i) => !exists(col("_spans"),
            sp => i + 1 >= sp("span_start") && i + 1 <= sp("span_end")))))
      .select(col(idCol),
        concat_ws(" ", col("kept")).as("clean_text"),
        size(col("kept")).as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).as("removed_tokens"))
  }

  /** Exact n-gram (word-set) Jaccard similarity pairs via a token-postings
    * self-join: shuffle on token, intersection counts per pair, set sizes
    * joined back. Exact but quadratic in posting-list length — at scale this
    * is the *verifier* behind [[minhashPairs]]'s candidate generation, not a
    * standalone all-corpus pass. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("w"))
    val sizes = words.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = words.as("x").join(words.as("y"),
        col("x.w") === col("y.w") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Bloom-prefiltered incremental dedup — the 100 TB ingest shape. ONE
    * compact bloom sketch builds over the existing corpus' content
    * fingerprints (Spark's native `BloomFilterAggregate`, the same sketch
    * its runtime row-level join filtering uses), rides to executors as a
    * literal, and the codegen'd `might_contain` splits the incoming batch
    * BEFORE any join: definite-new rows (~1−fpp of the genuinely new)
    * skip the shuffle entirely; only might-contain candidates reach the
    * exact fingerprint anti-join that removes bloom false positives. The
    * returned new-content rows are EXACT — the bloom only ever
    * over-admits, and the join corrects it. Sketch size is `numBits/8`
    * bytes regardless of corpus size. */
  def bloomNewContent(corpus: DataFrame, incoming: DataFrame,
                      textCol: String, idCol: String,
                      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    def fpHash(c: Column) = xxhash64(TextStats.fingerprint(c))
    val sketchCol = Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          Bridge.expression(fpHash(col(textCol))), expectedItems)
        .toAggregateExpression())
    val sketch = corpus.agg(sketchCol.as("bf")).head.getAs[Array[Byte]](0)
    // empty corpus → the aggregate yields null, and a null sketch would
    // null-propagate through might_contain and drop EVERYTHING: nothing
    // to collide with means every incoming row is new
    if (sketch == null) return incoming
    val mightContain = Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        Bridge.expression(lit(sketch)),
        Bridge.expression(fpHash(col(textCol)))))
    val marked = incoming.withColumn("_bf_maybe", mightContain)
    val definiteNew = marked.where(!col("_bf_maybe"))
    val candidates = marked.where(col("_bf_maybe"))
    val corpusFps = corpus
      .select(TextStats.fingerprint(col(textCol)).as("_fp")).distinct()
    val confirmedNew = candidates
      .withColumn("_fp", TextStats.fingerprint(col(textCol)))
      .join(corpusFps, Seq("_fp"), "left_anti")
      .drop("_fp")
    definiteNew.unionByName(confirmedNew).drop("_bf_maybe")
  }

  /** SemDeDup (semantic dedup over embeddings, Abbas et al. 2023): cluster
    * the corpus, then WITHIN each cluster drop every vector that has a
    * lower-id neighbor above the cosine threshold (keep-lowest-id — the
    * deterministic stand-in for the paper's keep-one-per-near-dup-group).
    *
    * The cluster column is an INPUT: feed it from [[Ivf.train]]/
    * [[Ivf.assign]] (k-means, the paper's choice) or any partition that
    * bounds cluster size. The pairwise join never crosses clusters —
    * shuffle on cluster id — and the quadratic-within-cluster shape (the
    * paper's own, GPU-pairwise in the original) is GATED: clusters up to
    * `graft.semdedup.escapeAt` (default 1024) take the exact all-pairs
    * join; above the gate, candidates come from RHP-LSH banding WITHIN
    * the cluster ([[Similarity.cosinePairs]]' machinery, keyed on
    * (cluster, band, bucket)) and are verified with the exact cosine
    * predicate through [[Skew.saltedVerifyJoin]], so candidate volume
    * tracks bucket collisions — not cluster² — and a skew-funneled hot
    * vector spreads across reducers instead of straggling one task.
    *
    * The escape is RECALL-GATED, never silently lossy: banded RHP recall
    * at the exact threshold is analytic ([[lshEscapeRecall]] — with the
    * defaults `graft.semdedup.bands`=16 / `bitsPerBand`=8 it is 99.6% at
    * cos 0.9, 99.99% at 0.95, and exactly 1 for identical vectors), and
    * the escape only engages when that recall meets
    * `graft.semdedup.minRecall` (default 0.99). In the SemDeDup regime
    * (near-identical vectors, threshold ≥~0.9 — the paper dedups at
    * eps≈0.95) the gate passes; at LOW thresholds banding is
    * recall-unsound (23% at cos 0.3 under the defaults — and no
    * sub-quadratic exact escape exists there: a 0.3-cosine pair in
    * high dimensions is barely outside the random-pair distribution, so
    * candidate generation cannot separate it from background), so the
    * EXACT path is kept for every cluster and a warning names the only
    * real control: re-cluster with a larger k, SemDeDup's own knob.
    *
    * Exact-path shape: vectors are L2-normalized ONCE per row
    * ([[graft.functions.VecFunctions.vec_normalize]]), so the pair
    * predicate is a codegen'd dot product (`vec_dot ≥ threshold` — one
    * multiply-add per element, vs three plus two sqrt for the fused
    * per-pair cosine; cosine ≡ dot of unit vectors, and zero vectors
    * normalize to zero → dot 0 < threshold, the same exclusion as
    * cosine's NULL — hence the `threshold > 0` requirement). Below the
    * gate the output is exact — and the gate poll itself is one
    * cluster-cardinality-sized aggregate (bounded by the clustering
    * contract), collected at plan-construction time so an all-small
    * input builds exactly the ungated plan. Returns every input row
    * with `is_dup` (and the witness neighbor) attached. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, threshold: Double): DataFrame = {
    import graft.functions.VecFunctions.{vec_dot, vec_normalize}
    require(threshold > 0,
      s"semanticDedup threshold must be > 0, got $threshold — at 0 or below " +
        "every within-cluster pair matches and the operator is a cluster-id " +
        "grouping, not a similarity dedup")
    val sess = df.sparkSession
    val escapeAt = sess.conf.getOption("graft.semdedup.escapeAt")
      .map(_.toLong).getOrElse(1024L)
    val base = df.select(col(idCol).as("id"), col(clusterCol).as("cl"),
      vec_normalize(col(vecCol).cast("array<double>")).as("v"))
    val bigClusters = base.groupBy(col("cl"))
      .agg(count(lit(1)).as("_cn")).where(col("_cn") > escapeAt)
      .select(col("cl")).collect().map(_.get(0)).toSeq
    def exactPairs(part: DataFrame) = part.as("a").join(part.as("b"),
        col("a.cl") === col("b.cl") && col("b.id") < col("a.id") &&
          vec_dot(col("a.v"), col("b.v")) >= threshold)
      .select(col("a.id").as("id"), col("b.id").as("dup_id"))
    val bands = sess.conf.getOption("graft.semdedup.bands")
      .map(_.toInt).getOrElse(16)
    val bits = sess.conf.getOption("graft.semdedup.bitsPerBand")
      .map(_.toInt).getOrElse(8)
    val minRecall = sess.conf.getOption("graft.semdedup.minRecall")
      .map(_.toDouble).getOrElse(0.99)
    val analyticRecall = lshEscapeRecall(threshold, bands, bits)
    // the analytic formula assumes GAUSSIAN hyperplanes; rhp_buckets draws
    // a deterministic Rademacher (±1) sign matrix, so for low-dimensional
    // or axis-aligned embeddings the true recall can sit below the
    // formula (see [[lshEscapeRecall]]). `graft.semdedup.recallSample` > 0
    // spot-checks the gate empirically on that many big-cluster rows and
    // gates on min(analytic, measured) — the measured value catches
    // exactly the degenerate-geometry regimes the expectation misses.
    val sampleN = sess.conf.getOption("graft.semdedup.recallSample")
      .map(_.toInt).getOrElse(0)
    val escRecall =
      if (bigClusters.isEmpty || sampleN <= 0 || analyticRecall < minRecall)
        analyticRecall
      else empiricalLshRecall(
          base.where(col("cl").isin(bigClusters: _*)),
          threshold, bands, bits, sampleN) match {
        case Some(emp) =>
          if (emp < analyticRecall)
            org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
              f"semanticDedup: measured escape recall $emp%.3f on a " +
                f"$sampleN-row sample sits BELOW the analytic " +
                f"$analyticRecall%.3f (Rademacher sign matrix vs the " +
                "Gaussian-hyperplane formula — low-dim or axis-aligned " +
                "embeddings); gating on the measured value")
          math.min(analyticRecall, emp)
        case None => analyticRecall // no qualifying sample pairs to measure
      }
    val allPairs =
      if (bigClusters.isEmpty) exactPairs(base)
      else if (escRecall < minRecall) {
        org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
          s"semanticDedup: ${bigClusters.size} cluster(s) exceed escapeAt=" +
            s"$escapeAt but the RHP-LSH escape is recall-unsound at " +
            f"threshold=$threshold (banded recall ≈ $escRecall%.3f with " +
            s"bands=$bands bits=$bits < minRecall=$minRecall) — keeping the " +
            "EXACT quadratic-within-cluster path. Low-threshold semantic " +
            "dedup has no sound sub-quadratic escape; re-cluster with a " +
            "larger k (SemDeDup's own control) to bound cluster size.")
        exactPairs(base)
      } else {
        val small = base.where(!col("cl").isin(bigClusters: _*))
        // materialized once (r15): the big-cluster rows feed THREE plan
        // subtrees — the LSH banding and both sides of the salted verify —
        // and each re-execution re-read and re-normalized the engaged
        // clusters' vectors (§2: shuffle/compute once, reuse). Same
        // localCheckpoint discipline as the candidate set below.
        val big = base.where(col("cl").isin(bigClusters: _*))
          .localCheckpoint(true)
        // LSH candidates within (cluster, band, bucket); ids-only through
        // the self-join and pair dedup (the cosinePairs shuffle
        // discipline). Materialized ONCE via an eager localCheckpoint (the
        // salted verify reads the pair set once per hot-set barrier and
        // again at execution): unlike Dataset.persist — whose CacheManager
        // entry holds the plan strongly and leaks cached blocks across
        // calls in a long-lived session until someone unpersists — the
        // checkpoint's blocks are RDD-level-persisted (MEMORY_AND_DISK,
        // spill-safe) and the ContextCleaner frees them when the returned
        // plan is dropped. Eager: lazy localCheckpoint still runs its
        // sampling at construction, and the hot-set barrier needs the
        // pairs anyway.
        val cand = semanticLshCandidates(big, sess).localCheckpoint(true)
        val saltAt = sess.conf.getOption("graft.skew.saltAt")
          .map(_.toLong).getOrElse(1000000L)
        val saltF = sess.conf.getOption("graft.skew.saltFactor")
          .map(_.toInt).getOrElse(16)
        val verified = Skew.saltedVerifyJoin(cand,
            big.select(col("id").as("id_a"), col("v").as("v_a")),
            big.select(col("id").as("id_b"), col("v").as("v_b")),
            saltAt, saltF)
          .where(vec_dot(col("v_a"), col("v_b")) >= threshold)
          .select(col("id_a").as("id"), col("id_b").as("dup_id"))
        exactPairs(small).unionByName(verified)
      }
    val pairs = allPairs
      .groupBy(col("id")).agg(min(col("dup_id")).as("dup_of"))
    df.join(pairs.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Analytic recall of the banded-RHP escape for a pair AT the
    * threshold (pairs above it only do better — recall is monotone in
    * cosine): per-bit collision `1 − θ/π`, a pair survives if all `bits`
    * bits of SOME band agree. This is what makes the escape's recall gate
    * checkable instead of hoped-for.
    *
    * APPROXIMATION, stated honestly: `1 − θ/π` is the collision
    * probability for a RANDOM GAUSSIAN hyperplane; [[graft.functions
    * .VecFunctions.rhp_buckets]] projects onto a FIXED deterministic
    * Rademacher (±1) sign matrix. In high dimension a ±1 projection is
    * Gaussian to CLT accuracy and the formula holds; in LOW dimension or
    * for axis-aligned/structured embeddings the ±1 family has few
    * distinct directions (2-d has exactly two), bits within a band are
    * perfectly correlated, and true recall can fall WELL below this
    * expectation (DedupSpec constructs a 2-d corpus where it is ~0 while
    * the formula says 0.996). When operating near `minRecall`, set
    * `graft.semdedup.recallSample` to spot-check the gate empirically —
    * [[empiricalLshRecall]] — instead of trusting the expectation. */
  private[graft] def lshEscapeRecall(threshold: Double, bands: Int,
                                     bits: Int): Double = {
    val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(pBit, bits), bands)
  }

  /** Measured banded-RHP recall on a bounded sample: take `sampleN` rows
    * of the (normalized `(id, v, …)`) frame, enumerate the sample's exact
    * above-threshold pairs (sample² work — bounded by construction, and
    * the sample side broadcasts), and return the fraction whose
    * [[graft.functions.VecFunctions.rhp_buckets]] codes agree in SOME
    * band — i.e. the fraction the escape's candidate join would have
    * found. None when the sample holds no qualifying pair (nothing to
    * measure — fall back to the analytic gate). This is the empirical
    * check for the regimes where [[lshEscapeRecall]]'s Gaussian
    * assumption breaks on the deterministic ±1 sign matrix. */
  private[graft] def empiricalLshRecall(vecs: DataFrame, threshold: Double,
                                        bands: Int, bits: Int,
                                        sampleN: Int): Option[Double] = {
    import graft.functions.VecFunctions.{rhp_buckets, vec_dot}
    val s = vecs.select(col("id"), col("v"),
        rhp_buckets(col("v"), bands, bits).as("bk"))
      .limit(sampleN).localCheckpoint(true)
    val row = s.as("a").join(broadcast(s.as("b")),
        col("b.id") < col("a.id") &&
          vec_dot(col("a.v"), col("b.v")) >= threshold)
      .select(exists(zip_with(col("a.bk"), col("b.bk"),
        (x, y) => x === y), c => c).as("hit"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("found"))
      .head()
    val n = row.getLong(0)
    if (n == 0L) None else Some(row.getLong(1).toDouble / n)
  }

  /** [[semanticDedup]]'s escape-path candidate generation, factored so
    * DedupSpec can pin candidate volume ≪ pairs² directly: RHP-LSH
    * banding of the big-cluster rows, self-joined on
    * (cluster, band, bucket) — a candidate pair must share a bucket in
    * SOME band of ITS OWN cluster. Output is `(id_a, id_b)` with
    * `id_b < id_a` (the dup_of direction), deduplicated across bands. */
  private[graft] def semanticLshCandidates(
      big: DataFrame, sess: org.apache.spark.sql.SparkSession): DataFrame = {
    import graft.functions.VecFunctions.rhp_buckets
    val bands = sess.conf.getOption("graft.semdedup.bands")
      .map(_.toInt).getOrElse(16)
    val bits = sess.conf.getOption("graft.semdedup.bitsPerBand")
      .map(_.toInt).getOrElse(8)
    val bb = big.select(col("cl"), col("id"),
        posexplode(rhp_buckets(col("v"), bands, bits)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select(col("cl"), col("band"), col("bucket"), col("id"))
    // Bucket cap, SEMANTIC-escape edition — deliberately NOT [[capBuckets]]:
    // that one counts per (band, bucket) ACROSS clusters and reads the
    // MinHash text-dedup knob `graft.lsh.maxBucket`, so a conf set for text
    // dedup would silently drop candidate pairs here based on populations
    // the within-cluster join never sees — outside the lshEscapeRecall
    // gate's accounting. This cap counts within (cl, band, bucket) — the
    // actual join key — engages only on its own `graft.semdedup.maxBucket`
    // conf (default off: the escape is recall-gated, so any cap is an
    // explicit recall trade the caller opts into), and LOGS the loss.
    val semMax = sess.conf.getOption("graft.semdedup.maxBucket")
      .map(_.toInt).getOrElse(0)
    val capped =
      if (semMax <= 0) bb
      else {
        val over = bb.groupBy(col("cl"), col("band"), col("bucket"))
          .agg(count(lit(1)).as("_bn")).where(col("_bn") > semMax)
          .select(col("cl"), col("band"), col("bucket"))
          .withColumn("_over", lit(true))
        val nOver = over.count()
        if (nOver > 0)
          org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
            s"semanticDedup escape: graft.semdedup.maxBucket=$semMax drops " +
              s"$nOver (cluster, band, bucket) cell(s) — candidate recall " +
              "below the analytic lshEscapeRecall gate for pairs whose only " +
              "shared buckets were capped. This is an explicit opt-in " +
              "recall trade; unset the conf for gated-recall candidates.")
        bb.join(broadcast(over), Seq("cl", "band", "bucket"), "left")
          .where(col("_over").isNull).drop("_over")
      }
    capped.select(col("cl"), col("band"), col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("cl"), col("band"), col("bucket"),
        col("id").as("id_b")), Seq("cl", "band", "bucket"))
      .where(col("id_b") < col("id_a"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-dup pairs by EDIT DISTANCE — the character-level complement of
    * [[jaccardPairs]] (word sets miss transposed/typo'd variants; edit
    * distance catches them). Candidate generation blocks on the length
    * window: `maxDist` edits change length by at most `maxDist`, so every
    * qualifying pair shares a length bucket or borders one — each doc
    * joins into its own bucket and the one above, never all-pairs across
    * the corpus. Verification is thresholded `levenshtein(a, b, maxDist)`
    * (early-exit O(len·maxDist), not the full O(len²) table). Quadratic
    * WITHIN a length class by construction — like [[jaccardPairs]] and
    * [[Similarity.cosinePairsExact]] this is the bounded-slice verifier:
    * at corpus scale, generate candidates with [[minhashPairs]]/banding
    * first and verify those pairs here. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        maxDist: Int, bucketWidth: Int = 20): DataFrame = {
    import graft.functions.TextSketchFunctions.{char_hist, hist_l1}
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(bucketWidth > maxDist,
      s"bucketWidth ($bucketWidth) must exceed maxDist ($maxDist) or " +
        "cross-bucket pairs at distance maxDist get missed")
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    // r11 scale shape: the length window alone went superlinear on the
    // scale corpus (10× rows → 66× length-class pairs → 22× time), and
    // carrying the TEXT through that join made the join output itself the
    // cost (tens of GB of wide candidate rows). Two changes, output
    // provably identical:
    //  - candidates join SLIM rows only (id, len, bucket, 16-int
    //    code-point histogram — ~100 bytes), never the text;
    //  - the histogram L1 bound (see [[graft.functions.CharHist]]: any
    //    pair within distance d has L1 ≤ 2d — an exact necessary
    //    condition) prunes candidates with codegen'd integer math
    //    (24× fewer on the scale corpus), and only the survivors re-join
    //    the text for the O(len·maxDist) levenshtein verification — the
    //    same candidates-then-verify shape as the LSH paths.
    val base = Spread.scanFloor(df, col(idCol), minDeficit = 4)
      .select(col(idCol).as("id"),
      length(col(textCol)).as("len"),
      floor(length(col(textCol)) / lit(bucketWidth)).as("b"),
      char_hist(col(textCol)).as("h"))
    // the probe side (always the smaller id) visits its own bucket and
    // BOTH neighbors — id order says nothing about bucket order, so a
    // one-sided probe would miss pairs where the smaller id sits in the
    // higher bucket; |len diff| <= maxDist < bucketWidth guarantees a
    // qualifying pair is at most one bucket apart, and exactly one of the
    // three probes lands on the partner's bucket (no double-count)
    val probes = base.select(col("id"), col("len"), col("h"),
      explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    val candidates = probes.as("x").join(base.as("y"),
        col("x.b") === col("y.b") && col("x.id") < col("y.id") &&
          abs(col("x.len") - col("y.len")) <= maxDist &&
          hist_l1(col("x.h"), col("y.h")) <= lit(2 * maxDist))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(texts.select(col("id").as("id_a"), col("t").as("_ta")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("_tb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("_ta"), col("_tb"), maxDist))
      .where(col("dist") >= 0) // threshold form: -1 = above maxDist
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
