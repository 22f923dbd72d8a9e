package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixture identity for round-over-round comparability: the sf1 bench
  * fixture (`/tmp/graft-sf1`) is regenerated by [[ScaleUp]] whenever the
  * sandbox recycles it, so nothing previously PROVED that two rounds'
  * sf1 numbers measured the same bytes. This records per-table row
  * counts and an order-independent content digest in a small JSON
  * manifest; the checked-in copy (`fixtures/<dirname>.manifest.json`)
  * is the contract, and [[Bench]] refuses to time a fixture that does
  * not match it.
  *
  * Digest = XOR-aggregate of `xxhash64(to_json(struct(cols sorted)))`
  * per row: one distributed pass per table, independent of row order and
  * partition layout (XOR is commutative), sensitive to any value change.
  * `to_json` omits null fields, so rows differing only in WHICH column
  * is null could collide — fine for drift detection, where the threat is
  * a regenerated/perturbed fixture, not an adversary. */
object FixtureManifest {

  /** The driver's table set; a fixture dir may hold any subset. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** (rows, digest) per table present in `dir`, insertion-ordered. */
  def compute(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    tables.flatMap { t =>
      val path = s"$dir/$t.parquet"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) None
      else {
        val df = StoreFs.read(spark, path) // raw, as ScaleUp writes it
        val rowHash = xxhash64(to_json(struct(df.columns.sorted.map(col): _*)))
        val row = df.agg(count(lit(1)).as("n"),
          coalesce(bit_xor(rowHash), lit(0L)).as("h")).head()
        Some((t, row.getLong(0), row.getLong(1)))
      }
    }

  def toJson(entries: Seq[(String, Long, Long)]): String =
    entries.map { case (t, n, h) =>
      s"""  "$t": {"rows": $n, "xxh64_xor": $h}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def parse(json: String): Seq[(String, Long, Long)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      (e.getKey, e.getValue.get("rows").asLong,
        e.getValue.get("xxh64_xor").asLong)
    }.toSeq
  }

  def write(spark: SparkSession, dir: String, outPath: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      toJson(compute(spark, dir)))

  /** Raise unless `dir`'s content matches the manifest at `manifestPath`
    * exactly (same tables, same counts, same digests) — the loud failure
    * that turns "compared two different fixtures" from a silent bench
    * artifact into an aborted run. */
  def check(spark: SparkSession, dir: String, manifestPath: String): Unit = {
    val expected = parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(manifestPath)))
    val actual = compute(spark, dir)
    val exp = expected.map(e => e._1 -> (e._2, e._3)).toMap
    val act = actual.map(e => e._1 -> (e._2, e._3)).toMap
    val problems =
      (exp.keySet -- act.keySet).toSeq.sorted.map(t => s"$t: missing from $dir") ++
      (act.keySet -- exp.keySet).toSeq.sorted.map(t => s"$t: not in manifest") ++
      (exp.keySet & act.keySet).toSeq.sorted.flatMap { t =>
        if (exp(t) == act(t)) None
        else Some(s"$t: manifest rows=${exp(t)._1} digest=${exp(t)._2}, " +
          s"fixture rows=${act(t)._1} digest=${act(t)._2}")
      }
    require(problems.isEmpty,
      s"fixture $dir does not match manifest $manifestPath — bench numbers " +
        s"would not be comparable across rounds. Regenerate the fixture with " +
        s"graft.ScaleUp (or refresh the manifest if the change is deliberate):\n  " +
        problems.mkString("\n  "))
  }

  /** The checked-in manifest for a fixture dir, by naming convention:
    * `fixtures/<basename>.manifest.json` under the working directory
    * (= repo root under sbt). None when no contract has been recorded —
    * e.g. the driver's own `/root/testdata/sf0.1`, which the driver owns. */
  def checkedInManifest(dir: String): Option[java.nio.file.Path] = {
    val base = new java.io.File(dir).getName
    val p = java.nio.file.Paths.get("fixtures", s"$base.manifest.json")
    if (java.nio.file.Files.exists(p)) Some(p) else None
  }

  /** Record (or, with a third argument `check`, verify) a fixture's
    * manifest: `runMain graft.FixtureManifest <fixtureDir> <manifestPath>
    * [check]`. A mismatch fails with the per-table differences. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FixtureManifest <fixtureDir> <manifestPath> [check]")
    val spark = SparkEntry.localSession(SparkEntry.envCpus, "ERROR")
    try {
      if (args.length > 2 && args(2) == "check") {
        check(spark, args(0), args(1))
        println(s"MANIFEST_OK ${args(0)} matches ${args(1)}")
      } else {
        write(spark, args(0), args(1))
        println(s"MANIFEST_WRITTEN ${args(1)}")
      }
    } finally spark.stop()
  }
}
