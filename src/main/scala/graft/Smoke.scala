package graft

/** t1 smoke: run [[SparkEntry.entry]] exactly as the driver does and print
  * the row count (driver gate: rows > 0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(4, "ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    println("VALIDATE_BAD=" + QueryCompiler.validate("text:spark AND ("))
    println("QM_FIXTURE=" + QueryMeta.parse("#options:load-rows=false,number=42#plop=42###"))
    GraftExtensions.register(spark)
    println("SQL_FN=" + spark.sql(
      """SELECT json_get('{"k":7}', 'k'), vec_dot(array(1.0d,2.0d), array(3.0d,4.0d))""")
      .head.toSeq.mkString(","))
    spark.stop()
  }
}
