package perfbench

/** Turns one run's ops and spans into metrics and writes them as JSON. */
object Report {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Span names whose per-request self time is a per-layer `_ms` metric. */
  val timedSpans: Seq[String] = Seq("query.compile", "search.construct", "textindex.open",
    "search.plan", "search.exec", "aggs.exec", "indexer.build_docs", "indexer.write",
    "textindex.postings_build", "textindex.norms_build", "indexer.upsert", "textindex.append",
    "textindex.upsert_norms", "indexer.delete", "textindex.delete", "maintain.compact",
    "dedup.incremental", "text.ngram_append", "text.ngram_score", "bpe.encode",
    "dedup.delete", "text.ngram_subtract")

  /** Spans of the bulk builds, which run in set-up. */
  val setupSpans: Set[String] = Set("indexer.build_docs", "indexer.write",
    "textindex.postings_build", "textindex.norms_build")

  /** Per-layer metrics of a traced run. */
  def layers(h: Harness, s: Summary, wallMs: Double, stallMs: Double,
             thrMs: Double): Map[String, Double] = {
    val t = h.tracer
    val spans = t.spans.filter(_.request > 0).toIndexedSeq
    val byReq = spans.groupBy(_.request)
    val children = spans.groupBy(_.parent)
    def subtree(sp: Span): Seq[Span] = sp +: children.getOrElse(sp.id, Nil).flatMap(subtree)
    def sumC(ss: Iterable[Span])(f: Counters => Long): Double =
      ss.iterator.map(x => f(t.counters(x)).toDouble).sum
    /** Median over the requests holding span `name` of a per-request sum.
      * Bulk builds happen in the set-up runs (negative requests), so they
      * are read there, one value per set-up run. */
    def perReq(name: String)(f: Span => Double): Double =
      median((if (Report.setupSpans(name)) t.spans.filter(_.request < 0).groupBy(_.request)
              else byReq).values.flatMap { rs =>
        val hit = rs.filter(_.name == name)
        if (hit.isEmpty) None else Some(hit.map(f).sum)
      }.toSeq)
    val measured = h.ops.filter(_.request > 0)
    val nOps = math.max(1, measured.size).toDouble
    val searchReqs = measured.filter(_.kind == "search")
    val searchSpans = searchReqs.flatMap(o => byReq.getOrElse(o.request, Nil))
    val upserts = measured.filter(_.kind == "upsert")
    val timed = timedSpans.map(n => s"${n}_ms" -> perReq(n)(t.selfMs)).toMap
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    // store-shape metrics a workload reports for itself; 0 where it has none
    val shapes = Seq("textindex.candidates_per_hit", "textindex.store_files", "indexer.files_written",
      "textindex.postings_rows_per_doc", "dedup.candidates_per_true_pair").map(_ -> 0.0).toMap
    timed ++ shapes ++ s.layer ++ Map(
      "search.construct_jobs" -> perReq("search.construct")(sp => sumC(subtree(sp))(_.jobs)),
      "search.rows_read_per_hit" -> ratio(sumC(searchSpans)(_.inputRecords), searchReqs.map(_.docs).sum.toDouble),
      "search.bytes_read" -> median(searchReqs.map(o => sumC(byReq.getOrElse(o.request, Nil))(_.inputBytes)).toSeq),
      "spark.task_cpu_ms" -> sumC(spans)(_.taskCpuMs) / nOps,
      "spark.core_util" -> ratio(sumC(spans)(_.taskRunMs), wallMs * h.opts.cores),
      "indexer.upsert_shuffle_bytes" -> perReq("indexer.upsert")(sp => sumC(subtree(sp))(_.shuffleBytes)),
      "indexer.bytes_rewritten_per_changed_doc" -> ratio(
        sumC(spans.filter(_.name == "indexer.upsert").flatMap(subtree))(_.outputBytes),
        upserts.map(_.docs).sum.toDouble),
      "maintain.bytes_rewritten" -> perReq("maintain.compact")(sp => sumC(subtree(sp))(_.outputBytes)),
      "dedup.delete_bytes_rewritten" -> perReq("dedup.delete")(sp => sumC(subtree(sp))(_.outputBytes)),
      "spark.jobs" -> sumC(spans)(_.jobs) / nOps,
      "spark.stages" -> sumC(spans)(_.stages) / nOps,
      "spark.tasks" -> sumC(spans)(_.tasks) / nOps,
      "spark.gc_ms" -> sumC(spans)(_.gcMs) / nOps,
      "spark.shuffle_bytes" -> sumC(spans)(_.shuffleBytes) / nOps,
      "spark.spill_bytes" -> sumC(spans)(_.spillBytes) / nOps,
      "host.cpu_stall_ms" -> stallMs,
      "host.throttled_ms" -> thrMs)
  }

  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case x => json(x.toString)
  }

  /** Per request shape: latency, and when traced the median self time of
    * the floor (open + construct + plan) and of the execution, to show
    * which shapes are floor-bound and which scan-bound. */
  def shapes(h: Harness): Map[String, Map[String, Double]] = {
    val t = h.tracer
    val byReq = t.spans.filter(_.request > 0).groupBy(_.request)
    def self(o: Op, names: Set[String]) =
      byReq.getOrElse(o.request, Nil).filter(sp => names(sp.name)).map(t.selfMs).sum
    h.ops.filter(o => o.request > 0 && o.tag.nonEmpty).groupBy(_.tag).map { case (tag, os) =>
      val base = Map("n" -> os.size.toDouble, "p50_ms" -> median(os.map(_.ms).toSeq),
        "hits" -> os.head.docs.toDouble)
      tag -> (if (!t.on) base else base ++ Map(
        "floor_ms" -> median(os.map(self(_, Set("textindex.open", "search.construct", "search.plan"))).toSeq),
        "exec_ms" -> median(os.map(self(_, Set("search.exec", "aggs.exec"))).toSeq)))
    }
  }

  def write(o: Opts, h: Harness, wl: Workload, s: Summary, setups: Seq[Double],
            sessionS: Double, prepareS: Double, wallMs: Double, stallMs: Double, thrMs: Double,
            load1: Double, rss: Double, liveMb: Double, rounds: Int,
            manifest: Seq[(String, Long, Long)]): Unit = {
    val measured = h.ops.filter(!_.kind.startsWith("setup."))
    val failed = h.ops.count(!_.ok)
    val byKind = measured.groupBy(_.kind).map { case (k, os) =>
      val ms = os.map(_.ms).toSeq
      k -> Map("n" -> os.size, "p50_ms" -> median(ms), "p90_ms" -> quantile(ms, 0.9),
        "mean_ms" -> ms.sum / ms.size, "docs" -> os.map(_.docs).sum)
    }
    val all = measured.map(_.ms).toSeq
    val e2e = Map(
      "setup_s" -> median(setups),
      "search_p50_ms" -> median(measured.filter(_.kind == "search").map(_.ms).toSeq),
      "op_mean_ms" -> (if (all.isEmpty) 0.0 else all.sum / all.size),
      "store_bytes_per_doc" -> (if (s.liveDocs > 0) s.storeBytes.toDouble / s.liveDocs else 0.0),
      "peak_rss_mb" -> rss,
      "heap_live_mb" -> liveMb,
      "failed_frac" -> failed.toDouble / math.max(1, h.ops.size))
    val layer = if (o.trace) layers(h, s, wallMs, stallMs, thrMs) else Map.empty[String, Double]
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "scale" -> o.scale, "cores" -> o.cores,
      "attempted" -> h.ops.size, "failed" -> failed, "failures" -> h.failures.toSeq,
      "inputs" -> Map("tables" -> manifest.map { case (tb, n, d) => Map("table" -> tb, "rows" -> n, "xxh64_xor" -> d) },
        "batch_digest" -> wl.batchDigest),
      "e2e" -> e2e, "layer" -> layer, "ops" -> byKind, "shapes" -> shapes(h),
      "setup_runs_s" -> setups,
      "session_start_s" -> sessionS, "prepare_s" -> prepareS, "measured_wall_ms" -> wallMs,
      "rounds" -> rounds,
      "host" -> Map("cpu_stall_ms" -> stallMs, "throttled_ms" -> thrMs, "loadavg_1m" -> load1,
        "nproc" -> Runtime.getRuntime.availableProcessors),
      "spans" -> (if (o.trace) h.tracer.spans.size else 0))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), json(out) + "\n")
    if (o.trace) {
      val lines = h.tracer.spans.iterator.map { sp =>
        val c = h.tracer.counters(sp)
        json(Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name, "request" -> sp.request,
          "start_ms" -> sp.startNs / 1e6, "ms" -> sp.ms, "jobs" -> c.jobs, "tasks" -> c.tasks,
          "task_cpu_ms" -> c.taskCpuMs, "shuffle_bytes" -> c.shuffleBytes,
          "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes))
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out + ".spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
  }
}
