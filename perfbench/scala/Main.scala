package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String, scale: Double, corrupt: Boolean,
                      cores: Int)

/** One timed operation of the closed loop; `tag` names its request shape. */
final case class Op(kind: String, ms: Double, ok: Boolean, request: Int, docs: Long,
                    tag: String = "")

/** What a workload reports after its measured window. */
final case class Summary(storeBytes: Long, liveDocs: Long,
                         layer: Map[String, Double] = Map.empty)

trait Workload {
  /** Generate inputs under `dir` and build every store. Runs several times
    * in one JVM, into fresh directories; each run starts from scratch. */
  def setup(dir: String): Unit
  /** Compute expected answers once, after the timed set-ups. */
  def prepare(): Unit = ()
  /** A fixed sequence of requests; the closed loop runs whole rounds. */
  def round(): Unit
  /** Rounds every run measures, however long they take. */
  def minRounds: Int
  /** Directory holding the generated base inputs as `<table>.parquet`. */
  def inputsDir: String
  /** Seeded batch stream content, digested for input identity. */
  def batchDigest: Long = 0L
  def finish(): Summary
}

/** Session, tracer and op/check bookkeeping shared by the workloads. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val opts: Opts) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var measuring = false
  /** Rows an op returned, when that is its size (searches). */
  var lastHits = -1L
  private var opFailed = false

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Record a wrong answer against the current op. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      opFailed = true
      if (failures.size < 20) failures += what
    }

  /** Run one op: `timed` under the clock, then `check` on its result
    * with the clock stopped. A throw in either counts as a failed op. */
  def op[T](kind: String, docs: Long = 0L, tag: String = "")(timed: => T)(check: T => Unit): Unit = {
    val req = if (measuring) tracer.newRequest() else 0
    opFailed = false
    lastHits = -1L
    val t0 = System.nanoTime()
    val ms = try {
      val r = span("op." + kind)(timed)
      val dt = (System.nanoTime() - t0) / 1e6
      check(r)
      dt
    } catch {
      case e: Exception =>
        expect(false, s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        (System.nanoTime() - t0) / 1e6
    }
    ops += Op(if (measuring) kind else "setup." + kind, ms, !opFailed, req,
      if (lastHits >= 0) lastHits else docs, tag)
  }

  /** Bytes of every regular file under `path`. */
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  /** Parquet data files under `path`. */
  def dataFiles(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(c => dataFiles(c.getPath)).sum).getOrElse(0L)
  }
}

object Main {
  val setupRuns = 3

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("out"), m.getOrElse("scale", "1").toDouble,
      m.getOrElse("corrupt", "0") == "1", req("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, o, sessionS) finally spark.stop()
  }

  private def run(spark: SparkSession, o: Opts, sessionS: Double): Unit = {
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val h = new Harness(spark, tracer, o)
    val wl: Workload = o.workload match {
      case "search_mix" => new SearchMix(h)
      case "write_mix" => new WriteMix(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set up three times from the same seed, each into fresh directories,
    // and keep the last stores; setup_s is the median, so the first
    // set-up's class loading and JIT warm-up do not decide it
    val setups = (1 to Main.setupRuns).map { i =>
      if (i > 1) deleteTree(new java.io.File(s"${o.work}/stores${i - 1}"))
      tracer.setupRun(i)
      val t = System.nanoTime()
      wl.setup(s"${o.work}/stores$i")
      (System.nanoTime() - t) / 1e9
    }
    tracer.setupRun(0)
    val tp = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - tp) / 1e9
    val stall0 = Host.cpuStallUs(); val thr0 = Host.throttledUs()
    val wall0 = System.nanoTime()
    h.measuring = true
    // whole rounds, so every run weighs the request shapes alike
    val deadline = wall0 + (o.seconds * 1e9).toLong
    var rounds = 0
    while (rounds < wl.minRounds || System.nanoTime() < deadline) { wl.round(); rounds += 1 }
    h.measuring = false
    val wallMs = (System.nanoTime() - wall0) / 1e6
    val stallMs = (Host.cpuStallUs() - stall0) / 1000.0
    val thrMs = (Host.throttledUs() - thr0) / 1000.0
    val load1 = Host.loadAvg1()
    val summary = wl.finish()
    val manifest = graft.FixtureManifest.compute(spark, wl.inputsDir)
    if (o.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val rss = Host.peakRssMb()
    // the context cleaner frees broadcasts and shuffle files of collected
    // plans asynchronously after a GC; give it a moment, then collect again
    System.gc(); Thread.sleep(1000); System.gc()
    val liveMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Report.write(o, h, wl, summary, setups, sessionS, prepareS, wallMs, stallMs, thrMs, load1,
      rss, liveMb, rounds, manifest)
  }
}
