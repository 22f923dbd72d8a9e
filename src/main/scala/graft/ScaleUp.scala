package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic dataset scale-up: replicate an sf directory N× with
  * key-space shifts, for bench sanity points above the largest driver-
  * provided scale (a quadratic term invisible at sf0.1 shows at sf1).
  *
  * Replica `i` shifts every key column by `i * (max_key + 1)` so
  * intra-replica joins stay valid (lineitem↔orders↔customer, etc.) and key
  * cardinality scales with volume — sessions stay session-sized, doc ids
  * stay unique. Two structure-preserving tweaks keep the scaled corpus
  * REALISTIC instead of a clone farm that would quadratically explode
  * every dedup query:
  *
  *  - `documents.text`: every token gets a replica suffix (`_rI`) — a
  *    bijective token rename, so per-replica shingle/Jaccard structure is
  *    EXACTLY the original's, while cross-replica similarity is zero;
  *  - `embeddings.embedding`: replica vectors are rotated by `i`
  *    positions — norm and coordinate distribution preserved,
  *    cross-replica cosine decorrelated.
  *
  * `region`/`nation` stay single-copy (TPC-H does not scale fixed dims).
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> <factor>`
  */
object ScaleUp {

  /** Shift each key column by `i × stride(column)`. Strides are passed in,
    * keyed by the key's DOMAIN (computed once from the owning dimension
    * table): deriving a FK's stride from the fact table's own max would
    * silently desynchronize joins whenever the top dimension key is
    * unreferenced (max(o_custkey) < max(c_custkey) on real TPC-H data). */
  private def shifted(df: DataFrame, keys: Map[String, Long], factor: Int)
                     (tweak: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map { i =>
      val shiftedKeys = keys.foldLeft(df) { case (d, (k, stride)) =>
        d.withColumn(k, col(k) + lit(i * stride))
      }
      tweak(shiftedKeys, i)
    }.reduce(_.unionByName(_))

  private def strideOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  private val identity: (DataFrame, Int) => DataFrame = (d, _) => d

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = SparkEntry.localSession(SparkEntry.envCpus, "WARN")
    // raw tables, not SparkEntry.tbl: its events.ts rewrite would change
    // the written bytes and the manifest digests
    def read(t: String) = StoreFs.read(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // one stride per key DOMAIN, from the owning (dimension) table — the
    // fact tables' FK columns reuse these so joins stay aligned per replica
    val custStride  = strideOf(read("customer"), "c_custkey")
    val suppStride  = strideOf(read("supplier"), "s_suppkey")
    val partStride  = strideOf(read("part"), "p_partkey")
    val orderStride = strideOf(read("orders"), "o_orderkey")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(shifted(read("customer"), Map("c_custkey" -> custStride), factor)(identity), "customer")
    write(shifted(read("supplier"), Map("s_suppkey" -> suppStride), factor)(identity), "supplier")
    write(shifted(read("part"), Map("p_partkey" -> partStride), factor)(identity), "part")
    write(shifted(read("orders"),
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride), factor)(identity), "orders")
    write(shifted(read("lineitem"),
      Map("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride), factor)(identity), "lineitem")
    write(shifted(read("events"),
      Map("event_id" -> strideOf(read("events"), "event_id"),
        "user_id" -> strideOf(read("events"), "user_id")), factor)(identity), "events")
    write(shifted(read("documents"),
      Map("doc_id" -> strideOf(read("documents"), "doc_id")), factor) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_r$i"))
    }, "documents")
    write(shifted(read("embeddings"),
      Map("vec_id" -> strideOf(read("embeddings"), "vec_id")), factor) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
          s"slice(embedding, 1, $i))"))
    }, "embeddings")
    // fixture identity (see FixtureManifest): the manifest rides with the
    // generated data; Bench compares it against the checked-in contract
    // (fixtures/<basename>.manifest.json) so round-over-round numbers are
    // provably same-data, not same-path
    FixtureManifest.write(spark, out, s"$out/manifest.json")
    FixtureManifest.checkedInManifest(out).foreach { m =>
      FixtureManifest.check(spark, out, m.toString)
      System.err.println(s"[scaleup] fixture matches checked-in manifest $m")
    }
    spark.stop()
  }
}
