package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev fast path)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = SparkEntry.localSession(SparkEntry.envCpus, "WARN")
    new java.io.File(outDir).mkdirs()
    // a failing query must leave a LOUD trace: stderr alone vanishes from
    // the correctness artifact (the r7 NTZ breakage left 5 queries absent
    // from CORRECTNESS with no error row) — so failures also accumulate
    // into errors.json alongside the result dirs
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Full runs dump everything. A FILTERED dev run MERGES its entries into
    // whatever is already in the outDir (stale SQL for re-filtered queries
    // is replaced; other entries survive so existing result dirs keep being
    // hash-compared) — neither overwriting the full dump with one entry nor
    // leaving a later filtered query unvalidated.
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    val manifestPath = Paths.get(s"$outDir/manifest.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def existingObj(p: java.nio.file.Path): Map[String, String] =
      if (!Files.exists(p)) Map.empty
      else {
        val node = mapper.readTree(Files.readString(p))
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }
    def existingArr(p: java.nio.file.Path): Set[String] =
      if (!Files.exists(p)) Set.empty
      else {
        import scala.jdk.CollectionConverters._
        mapper.readTree(Files.readString(p)).elements().asScala.map(_.asText).toSet
      }
    val oracleOut = existingObj(oraclePath) ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(oraclePath, oracleOut.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // manifest of every query attempted (oracle AND rows-only): check.py
    // counts any attempted query with no result dir as a failure
    val manifestOut = existingArr(manifestPath) ++
      SparkEntry.queries.keys.filter(k => only.forall(_.contains(k)))
    Files.writeString(manifestPath,
      manifestOut.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // merge semantics match the oracle map: a filtered re-run replaces its
    // own entries (a now-green query drops out) and leaves others intact
    val errorsPath = Paths.get(s"$outDir/errors.json")
    val errorsOut = (existingObj(errorsPath) --
      SparkEntry.queries.keys.filter(k => only.forall(_.contains(k)))) ++ errors
    Files.writeString(errorsPath, errorsOut.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errorsOut.nonEmpty)
      System.err.println(s"[verify] ${errorsOut.size} quer${
        if (errorsOut.size == 1) "y" else "ies"} failed — see errors.json")
    spark.stop()
  }
}
