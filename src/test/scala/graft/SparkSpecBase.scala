package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites. */
object SparkSpecBase {
  lazy val spark: SparkSession = SparkEntry.localSession(4, "ERROR")

  /** Every parquet data file under `dir`, recursively, in path order
    * (markers, staging and checksum files skipped). */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".parquet"))
    new java.io.File(dir).listFiles.toSeq.sortBy(_.getName).flatMap(walk)
  }

  /** One data file's `cols`, in file order, as strings — for asserting
    * the order a store's writer promises inside each file. */
  def fileRows(file: java.io.File, cols: String*): Seq[Seq[String]] =
    spark.read.parquet(file.getPath).select(cols.map(c =>
        org.apache.spark.sql.functions.col(c).cast("string")): _*)
      .collect().map(r => cols.indices.map(r.getString)).toSeq

  /** Whether `rows` ascend on every column in turn, `numeric` columns
    * compared as numbers and the rest as strings. */
  def ascending(rows: Seq[Seq[String]], numeric: Set[Int] = Set.empty): Boolean = {
    def cmp(a: Seq[String], b: Seq[String]): Int =
      a.indices.iterator.map { i =>
        if (numeric(i)) java.lang.Long.compare(a(i).toLong, b(i).toLong)
        else a(i).compareTo(b(i))
      }.find(_ != 0).getOrElse(0)
    rows.sliding(2).forall { case Seq(a, b) => cmp(a, b) <= 0; case _ => true }
  }

  /** The encodings of `column`'s chunks over every row group of a parquet
    * file, from its footer. */
  def chunkEncodings(file: java.io.File, column: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == column))
      .flatMap(_.getEncodings.asScala.map(_.name)).toSet
    finally reader.close()
  }

  /** The logger of a streaming query's driver loop, which logs the full
    * trace of a query that terminates with an error. */
  val MicroBatchLogger = "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution"

  /** `body` with the ERROR logs of failed tasks off — the executor's
    * stack trace and the scheduler's abort line, plus any `extraLoggers`
    * — for calls that fail on purpose, whose traces would bury real
    * errors in the test log. The loggers are restored after. */
  def quietFailedTasks[T](extraLoggers: String*)(body: => T): T = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val names = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager") ++ extraLoggers
    val before = names.map(n =>
      n -> Option(ctx.getConfiguration.getLoggers.get(n)).map(_.getLevel))
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try body finally {
      before.foreach {
        case (n, Some(level)) => Configurator.setLevel(n, level)
        case (n, None) => ctx.getConfiguration.removeLogger(n)
      }
      ctx.updateLoggers()
    }
  }
}
