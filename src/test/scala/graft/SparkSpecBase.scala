package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites. */
object SparkSpecBase {
  lazy val spark: SparkSession = SparkEntry.localSession(4, "ERROR")

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
