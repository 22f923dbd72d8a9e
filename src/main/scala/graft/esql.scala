package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES|QL-lite: the modern Elasticsearch piped query language compiled to
  * DataFrame transforms — each `|` stage is one declarative Spark
  * operation, so Catalyst sees the whole pipe as a single logical plan
  * (filters push into the scan, KEEP prunes the read schema, SORT+LIMIT
  * fuses to TakeOrderedAndProject; `.explain` proven in EsqlSpec).
  *
  * DECLARED SUBSET of the ES|QL surface (fail-loud beyond it):
  *   - `FROM idx[, idx2…]`        union of catalog tables by column name
  *   - `| WHERE <bool expr>`      predicate pushdown territory
  *   - `| EVAL n = expr, …`       computed columns (overwrite allowed)
  *   - `| KEEP f, …` / `| DROP f, …` / `| RENAME old AS new, …`
  *   - `| STATS n = AGG(expr), … [BY k, …]`
  *       aggs: COUNT(*|expr), COUNT_DISTINCT, SUM, AVG, MIN, MAX,
  *       MEDIAN (exact — ES approximates), PERCENTILE(expr, p) (exact)
  *   - `| SORT f [ASC|DESC], …`
  *   - `| LIMIT n`
  *   - `| MV_EXPAND f`            explode a multi-value column
  *   - `| DISSECT f "%{a}-%{b}"`  literal-separator pattern extraction
  *   - `| LOOKUP JOIN idx ON f`   left equi-join against a catalog table
  *       (the 8.18 lookup-join / ENRICH face; broadcast when small —
  *       AQE decides, dimension tables always qualify)
  *
  * Expression grammar: field refs (dotted ok), `"strings"`, numbers,
  * TRUE/FALSE/NULL, `+ - * / %`, comparisons, AND/OR/NOT, `IN (…)`,
  * `LIKE "wild*card?"` (ES|QL wildcards → SQL LIKE), and the function set
  * ABS, ROUND, LENGTH, TO_LOWER, TO_UPPER, SUBSTRING, CONCAT, COALESCE,
  * GREATEST, LEAST, SPLIT, STARTS_WITH, ENDS_WITH, TO_LONG, TO_DOUBLE,
  * TO_STRING, MV_COUNT. Everything compiles to built-in `functions._`
  * columns — codegen'd, no UDFs.
  *
  * The reference serves verbatim ES DSL (ElasticIndex.java:663); ES|QL is
  * the successor surface its users migrate to, hence first-class here.
  */
object Esql {

  /** Pinned `NOW()` anchor, scoped per run — ES|QL's NOW() reads the
    * coordinator clock; a deterministic distributed engine pins it
    * explicitly (same rule as the search body's top-level "now"). */
  private[graft] val nowAnchor =
    new scala.util.DynamicVariable[java.time.Instant](null)

  /** Parse and execute a pipe query against named tables. `now` pins
    * NOW() (absent → wall clock at compile). */
  def run(query: String, catalog: Map[String, DataFrame],
          now: Option[java.time.Instant] = None): DataFrame =
    nowAnchor.withValue(now.orNull) { runPinned(query, catalog) }

  private def runPinned(query: String, catalog: Map[String, DataFrame]): DataFrame = {
    val stages = splitStages(query)
    require(stages.nonEmpty, "empty ES|QL query")
    val head = stages.head
    if (head.toUpperCase.startsWith("ROW")) {
      // `ROW a = 1, b = "x" | …` — a one-row literal source (the ES|QL
      // scratch-pad form); assignments share EVAL's expression grammar
      val spark = org.apache.spark.sql.SparkSession.active
      val cols = Expr.assignments(head.drop(3)).map { case (n, e) => e.as(n) }
      require(cols.nonEmpty, "ROW needs at least one assignment")
      val base = spark.range(1).select(cols: _*)
      return stages.tail.foldLeft(base)(applyStage(_, _, catalog))
    }
    require(head.toUpperCase.startsWith("FROM"),
      s"ES|QL must start with FROM, got: $head")
    // `FROM idx[, …] [METADATA _index]` — the metadata clause tags every
    // row with its source index name (the ES|QL _index metadata field)
    val metaRx = "(?i)\\s+METADATA\\s+_index\\s*$".r
    val withMeta = metaRx.findFirstIn(head).isDefined
    val fromList = metaRx.replaceAllIn(head.drop(4), "")
    val names = fromList.split(',').map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "FROM needs at least one index name")
    val sources = names.map { n =>
      val df = catalog.getOrElse(n, throw new IllegalArgumentException(
        s"unknown index '$n' (catalog: ${catalog.keys.toSeq.sorted.mkString(", ")})"))
      if (withMeta) df.withColumn("_index", lit(n)) else df
    }
    val base = sources.reduce(_.unionByName(_, allowMissingColumns = true))
    stages.tail.foldLeft(base)(applyStage(_, _, catalog))
  }

  /** Validate without executing: Left(error) on a malformed pipe. */
  def validate(query: String, catalog: Map[String, DataFrame]): Either[String, Unit] =
    try { run(query, catalog).queryExecution.analyzed; Right(()) }
    catch { case e: Exception => Left(Option(e.getMessage).getOrElse(e.toString)) }

  /** Split on TOP-LEVEL pipes only — a `|` inside a string literal or a
    * paren group (a FORK branch sub-pipe) belongs to the stage. */
  private def splitStages(q: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var inStr = false
    var depth = 0
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (inStr) {
        cur += c
        if (c == '\\' && i + 1 < q.length) { cur += q(i + 1); i += 1 }
        else if (c == '"') inStr = false
      } else if (c == '"') { inStr = true; cur += c }
      else if (c == '(') { depth += 1; cur += c }
      else if (c == ')') { depth -= 1; cur += c }
      else if (c == '|' && depth == 0) { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    require(!inStr, "unterminated string literal")
    require(depth == 0, "unbalanced parentheses")
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toList
  }

  private def applyStage(df: DataFrame, stage: String,
                         catalog: Map[String, DataFrame]): DataFrame = {
    val (kw, rest) = keyword(stage)
    kw match {
      case "WHERE" => df.where(Expr.compile(rest))
      case "EVAL" =>
        Expr.assignments(rest).foldLeft(df) { case (d, (n, e)) =>
          d.withColumn(n, e)
        }
      case "KEEP" =>
        // names or ES|QL wildcard patterns; each pattern must hit at
        // least one column (fail-loud on a typo'd pattern); KEEP order is
        // projection order, first-match-wins on overlap
        val fields = rest.split(',').map(_.trim)
        require(fields.forall(_.nonEmpty), s"bad KEEP list: $rest")
        val picked = scala.collection.mutable.LinkedHashSet[String]()
        fields.foreach { f =>
          if (f.contains("*")) {
            val rx = f.split("\\*", -1).map(java.util.regex.Pattern.quote)
              .mkString(".*")
            val hits = df.columns.filter(_.matches(rx))
            require(hits.nonEmpty, s"KEEP pattern '$f' matches no column")
            picked ++= hits
          } else picked += f
        }
        df.select(picked.toSeq.map(col): _*)
      case "DROP" =>
        val fields = rest.split(',').map(_.trim)
        require(fields.forall(_.nonEmpty), s"bad DROP list: $rest")
        val dropped = fields.toSeq.flatMap { f =>
          if (f.contains("*")) {
            val rx = f.split("\\*", -1).map(java.util.regex.Pattern.quote)
              .mkString(".*")
            val hits = df.columns.filter(_.matches(rx)).toSeq
            require(hits.nonEmpty, s"DROP pattern '$f' matches no column")
            hits
          } else Seq(f)
        }
        df.drop(dropped.toSeq: _*)
      case "RENAME" =>
        rest.split(',').map(_.trim).foldLeft(df) { (d, spec) =>
          spec.split("(?i)\\s+AS\\s+") match {
            case Array(o, n) => d.withColumnRenamed(o.trim, n.trim)
            case _ => throw new IllegalArgumentException(
              s"RENAME needs 'old AS new', got: $spec")
          }
        }
      case "SORT" =>
        val keys = rest.split(',').map(_.trim).map { k =>
          val up = k.toUpperCase
          if (up.endsWith(" DESC")) col(k.dropRight(5).trim).desc
          else if (up.endsWith(" ASC")) col(k.dropRight(4).trim).asc
          else col(k).asc
        }
        df.orderBy(keys.toSeq: _*)
      case "LIMIT" =>
        val n = rest.trim.toInt
        require(n >= 0, s"LIMIT must be >= 0, got $n")
        df.limit(n)
      case "STATS" => stats(df, rest)
      case "MV_EXPAND" =>
        val f = rest.trim
        require(f.nonEmpty, "MV_EXPAND needs a field")
        df.withColumn(f, explode(col(f)))
      case "DISSECT" => dissect(df, rest)
      case "GROK" => grok(df, rest)
      case "LOOKUP" => lookupJoin(df, rest, catalog)
      case "FORK" =>
        // `FORK (sub-pipe) (sub-pipe) …` — run each parenthesized branch
        // against the CURRENT frame and union the results, `_fork`
        // discriminating the branch (fork1, fork2, … — the ES|QL 8.18
        // column). Branches may project different shapes; the union is
        // by-name with missing columns null-filled, like ES|QL's.
        val branches = scala.collection.mutable.ListBuffer[String]()
        var depth = 0; var inStr = false
        val cur = new StringBuilder
        rest.foreach {
          case '"' => inStr = !inStr; cur += '"'
          case '(' if !inStr =>
            depth += 1; if (depth > 1) cur += '(' // outer paren opens a branch
          case ')' if !inStr =>
            depth -= 1
            if (depth == 0) { branches += cur.toString; cur.clear() }
            else cur += ')'
          case c =>
            if (depth >= 1) cur += c
            else require(c.isWhitespace,
              s"FORK expects only parenthesized branches, got: '$c'")
        }
        require(depth == 0 && !inStr, "FORK: unbalanced branch")
        require(branches.size >= 2, "FORK needs at least two branches")
        branches.zipWithIndex.map { case (b, i) =>
          val sub = splitStages(b)
          require(sub.nonEmpty, s"FORK branch ${i + 1} is empty")
          sub.foldLeft(df)(applyStage(_, _, catalog))
            .withColumn("_fork", lit(s"fork${i + 1}"))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      case "SAMPLE" =>
        // `SAMPLE <probability> [<seed>]` — deterministic Bernoulli keep:
        // xxhash64 over the whole row with the seed, kept when the hash
        // lands under probability·2^63 scaled into the non-negative half.
        // Stateless map-side filter (no shuffle), reproducible across
        // runs and partitionings — same contract as the random_sampler
        // agg. DIVERGENCE from ES|QL: seeded hashing, not true RNG (a
        // deterministic engine cannot re-sample per execution).
        val parts = rest.trim.split("\\s+").filter(_.nonEmpty)
        require(parts.length == 1 || parts.length == 2,
          s"SAMPLE expects <probability> [<seed>], got: $rest")
        val p = parts(0).toDouble
        require(p > 0 && p < 1, s"SAMPLE probability must be in (0, 1), got $p")
        val seed = if (parts.length == 2) parts(1).toLong else 0L
        val h = abs(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*),
          lit(seed)))
        df.where(h < lit((p * Long.MaxValue).toLong))
      case "CHANGE_POINT" =>
        // `CHANGE_POINT <value> ON <key>` — the mean-shift scan over the
        // key-ordered rows: emits the first new-regime key + the CUSUM
        // statistic as a 1-row frame (`type`/`pvalue` of ES|QL's ML
        // command are out of the declared subset; the frame is expected
        // to be a pre-aggregated series, same bound as pipeline aggs).
        val m = "(?i)^\\s*(\\S+)\\s+ON\\s+(\\S+)\\s*$".r
        rest match {
          case m(valueCol, keyCol) =>
            require(df.columns.contains(valueCol),
              s"CHANGE_POINT: unknown value column '$valueCol'")
            require(df.columns.contains(keyCol),
              s"CHANGE_POINT: unknown key column '$keyCol'")
            val w = org.apache.spark.sql.expressions.Window.orderBy(asc(keyCol))
            val whole = org.apache.spark.sql.expressions.Window.partitionBy()
            // bounded-frame contract ENFORCED in-plan (same guard as the
            // pipeline aggs): the series must be pre-aggregated, never
            // corpus rows
            Aggs.boundedFrame(df, "CHANGE_POINT")
              .withColumn("_t", row_number().over(w))
              .withColumn("_next_key", lead(col(keyCol), 1).over(w))
              .withColumn("_cum", sum(col(valueCol).cast("double")).over(
                w.rowsBetween(
                  org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
              .withColumn("_n", count(lit(1)).over(whole))
              .withColumn("_tot", sum(col(valueCol).cast("double")).over(whole))
              .where(col("_t") >= 2 && col("_t") <= col("_n") - 2)
              .withColumn("_stat",
                abs(col("_cum") / col("_t") -
                  (col("_tot") - col("_cum")) / (col("_n") - col("_t"))) *
                  sqrt(col("_t") * (col("_n") - col("_t")) / col("_n")))
              .orderBy(desc("_stat"), asc(keyCol))
              .limit(1)
              .select(col("_next_key").as(keyCol), col("_stat").as("stat"))
          case _ => throw new IllegalArgumentException(
            s"CHANGE_POINT expects '<value> ON <key>', got: $rest")
        }
      case "ENRICH" =>
        // `ENRICH <policy> ON <field>` — the pre-8.18 enrichment syntax;
        // a policy resolves to a catalog table (our declared analog of
        // the enrich-policy store), then behaves exactly like LOOKUP JOIN
        val m = ("(?i)^([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)" +
          "(?:\\s+WITH\\s+(.+?))?\\s*$").r
        rest.trim match {
          case m(policy, f, withList) =>
            val joined = lookupJoin(df, s"JOIN $policy ON $f", catalog)
            if (withList == null) joined
            else {
              // `WITH a, b` keeps only the listed enrich fields — drop
              // every other column the policy table brought in
              val wanted = withList.split(',').map(_.trim).toSeq
              require(wanted.forall(_.nonEmpty),
                s"bad ENRICH WITH list: $withList")
              val added = catalog.get(policy).map(_.columns.toSet - f)
                .getOrElse(Set.empty)
              val missing = wanted.filterNot(added.contains)
              require(missing.isEmpty,
                s"ENRICH WITH field(s) not in policy '$policy': ${missing.mkString(", ")}")
              joined.drop((added -- wanted.toSet).toSeq: _*)
            }
          case _ => throw new IllegalArgumentException(
            s"ENRICH needs '<policy> ON <field> [WITH f, ...]', got: $rest")
        }
      case "INLINESTATS" =>
        // `INLINESTATS n = AGG(expr), … [BY k, …]` — the STATS aggregates
        // computed per group and JOINED BACK onto every row instead of
        // collapsing (ES|QL tech-preview semantics). The grouped frame is
        // group-cardinality-sized, so the join back broadcasts; no window
        // function, no per-key skew.
        val byIdx = findTopLevel(rest, "BY")
        val grouped = stats(df, rest)
        if (byIdx < 0) df.crossJoin(broadcast(grouped))
        else {
          val keys = rest.drop(byIdx + 2).split(',').map(_.trim)
          require(keys.forall(_.matches("[A-Za-z_][A-Za-z0-9_.]*")),
            "INLINESTATS BY keys must be plain fields (declared subset)")
          df.join(broadcast(grouped), keys.toSeq, "left")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported ES|QL command '$other' (declared subset: WHERE, EVAL, " +
          "KEEP, DROP, RENAME, SORT, LIMIT, STATS, INLINESTATS, MV_EXPAND, " +
          "DISSECT, GROK, LOOKUP JOIN, ENRICH)")
    }
  }

  private def keyword(stage: String): (String, String) = {
    val t = stage.trim
    val sp = t.indexWhere(_.isWhitespace)
    if (sp < 0) (t.toUpperCase, "") else (t.take(sp).toUpperCase, t.drop(sp).trim)
  }

  /** `STATS n = AGG(expr), … [BY k, …]` — one hash aggregate; aggregate
    * names are REQUIRED (ES|QL's default name is the verbatim source text,
    * which is hostile to downstream column refs — declared divergence). */
  private def stats(df: DataFrame, rest: String): DataFrame = {
    val byIdx = findTopLevel(rest, "BY")
    val (aggPart0, byPart) =
      if (byIdx < 0) (rest, "") else (rest.take(byIdx), rest.drop(byIdx + 2))
    // MEDIAN_ABSOLUTE_DEVIATION pre-pass: MAD needs each group's median
    // BEFORE the aggregate runs, which no single-pass aggregate can see.
    // Rewrite MAD(x) → MEDIAN(ABS((x) - _graft_mad_med_i)) and join the
    // per-group medians in first (group-cardinality-sized, broadcast) —
    // exact ES semantics in two aggregates, the same shape as the
    // ES-DSL median_absolute_deviation agg. Identical inner expressions
    // share one median column.
    val (aggPart, madInners) = rewriteMad(aggPart0)
    val aggs = Expr.splitTopLevel(aggPart, ',').map { a =>
      val eq = findTopLevel(a, "=")
      require(eq > 0,
        s"STATS aggregate needs a name ('n = AGG(...)'), got: ${a.trim}")
      val name = a.take(eq).trim
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"bad STATS column name '$name'")
      Expr.aggregate(a.drop(eq + 1).trim).as(name)
    }
    require(aggs.nonEmpty, "STATS needs at least one aggregate")
    // BY entries are plain fields or `name = expr` (the ES|QL grouped-
    // expression form, e.g. `BY d = DATE_TRUNC("day", ts)`)
    val keys = Expr.splitTopLevel(byPart, ',').filter(_.trim.nonEmpty).map { k =>
      val eq = findTopLevel(k, "=")
      if (eq < 0) { val f = k.trim; require(f.nonEmpty, s"bad BY key: $k")
        (f, col(f)) }
      else {
        val name = k.take(eq).trim
        require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"bad BY column name '$name'")
        (name, Expr.compile(k.drop(eq + 1)).as(name))
      }
    }
    val base =
      if (madInners.isEmpty) df
      else {
        val medExprs = madInners.map { case (src, name) =>
          percentile(Expr.compile(src), lit(0.5)).as(name) }.toSeq
        if (keys.isEmpty)
          df.crossJoin(broadcast(df.agg(medExprs.head, medExprs.tail: _*)))
        else {
          // materialize the keys so the median pre-agg and the main
          // aggregate group on the same named columns
          val withKeys = keys.foldLeft(df) { case (d, (n, c)) =>
            d.withColumn(n, c) }
          val meds = withKeys.groupBy(keys.map(k => col(k._1)): _*)
            .agg(medExprs.head, medExprs.tail: _*)
          // null-SAFE join: the main groupBy keeps a null-key group (ES|QL
          // emits one), so the meds attach must too — a using-columns join
          // would silently drop every null-key row from EVERY aggregate in
          // this STATS, not just the MAD. Rename the meds' key columns and
          // join on <=> so the null group gets its median like any other.
          val medsR = keys.foldLeft(meds) { case (d, (n, _)) =>
            d.withColumnRenamed(n, s"_graft_mad_k_$n") }
          val cond = keys.map(k =>
            col(k._1) <=> col(s"_graft_mad_k_${k._1}")).reduce(_ && _)
          return withKeys.join(broadcast(medsR), cond)
            .groupBy(keys.map(k => col(k._1)): _*)
            .agg(aggs.head, aggs.tail: _*)
        }
      }
    if (keys.isEmpty) base.agg(aggs.head, aggs.tail: _*)
    else base.groupBy(keys.map(_._2): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Replace every top-level-or-nested `MEDIAN_ABSOLUTE_DEVIATION(inner)`
    * in an aggregate source with `MEDIAN(ABS((inner) - <medCol>))`,
    * returning the rewritten source and the (inner → medCol) map for the
    * pre-aggregate. Per-aggregate WHERE is refused alongside MAD: the
    * median pre-pass cannot see that filter, and a silently unfiltered
    * median would be a wrong answer, not a degraded one. */
  private def rewriteMad(aggSrc: String): (String, Seq[(String, String)]) = {
    val MAD = "MEDIAN_ABSOLUTE_DEVIATION"
    if (!aggSrc.toUpperCase.contains(MAD)) return (aggSrc, Nil)
    Expr.splitTopLevel(aggSrc, ',').foreach { entry =>
      require(!(entry.toUpperCase.contains(MAD) &&
          findTopLevel(entry, "WHERE") >= 0),
        s"$MAD with a per-aggregate WHERE is unsupported (the median " +
          "pre-pass would not see the filter); filter with | WHERE first")
    }
    val inners = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < aggSrc.length) {
      val c = aggSrc(i)
      if (c == '"') { inStr = !inStr; sb += c; i += 1 }
      else if (!inStr && aggSrc.regionMatches(true, i, MAD, 0, MAD.length) &&
          (i == 0 || (!aggSrc(i - 1).isLetterOrDigit && aggSrc(i - 1) != '_'))) {
        var j = i + MAD.length
        while (j < aggSrc.length && aggSrc(j).isWhitespace) j += 1
        require(j < aggSrc.length && aggSrc(j) == '(',
          s"$MAD expects (field)")
        var depth = 0; var k = j; var s2 = false
        while ({
          val ch = aggSrc(k)
          if (ch == '"') s2 = !s2
          else if (!s2 && ch == '(') depth += 1
          else if (!s2 && ch == ')') depth -= 1
          depth != 0
        }) { k += 1; require(k < aggSrc.length, s"$MAD: unbalanced parens") }
        val inner = aggSrc.substring(j + 1, k).trim
        require(inner.nonEmpty, s"$MAD expects a non-empty argument")
        val medCol = inners.getOrElseUpdate(inner,
          s"_graft_mad_med_${inners.size}")
        sb ++= s"MEDIAN(ABS(($inner) - $medCol))"
        i = k + 1
      } else { sb += c; i += 1 }
    }
    (sb.toString, inners.toSeq)
  }

  private def dissect(df: DataFrame, rest: String): DataFrame = {
    val (f, pattern) = fieldAndPattern("DISSECT", rest)
    dissectOn(f, pattern, "DISSECT")(df)
  }

  /** `DISSECT f "%{a}<sep>%{b}…"` and the ingest `dissect` processor:
    * one regex with a capture group per key, literal separators only (no
    * modifiers — declared subset); non-matching rows yield null fields,
    * like ES. Keys are checked eagerly; `what` names the caller in errors. */
  private[graft] def dissectOn(f: String, pattern: String,
                               what: String): DataFrame => DataFrame = {
    val key = "%\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
    val names = key.findAllMatchIn(pattern).map(_.group(1)).toList
    require(names.nonEmpty, s"$what pattern has no %{key}: $pattern")
    require(names.distinct == names, s"duplicate $what keys in: $pattern")
    // one lazy capture group per key (the final group still reaches the
    // anchor)
    val regex = anchored(pattern, key)(_ => "(.*?)")
    df => extractOrNull(df, f, regex, names)
  }

  /** `<field> "<pattern>"` of a DISSECT/GROK command. */
  private def fieldAndPattern(what: String, rest: String): (String, String) = {
    val m = "^\\s*([A-Za-z_][A-Za-z0-9_.]*)\\s+\"(.*)\"\\s*$".r
    rest match {
      case m(field, p) => (field, p)
      case _ => throw new IllegalArgumentException(
        s"$what needs '<field> \"<pattern>\"', got: $rest")
    }
  }

  /** The anchored regex of a DISSECT/GROK pattern: quoted literal runs
    * between the `key` references, each reference replaced by
    * `group(reference)`. */
  private def anchored(pattern: String, key: scala.util.matching.Regex)(
      group: scala.util.matching.Regex.Match => String): String = {
    val sb = new StringBuilder("^")
    var last = 0
    for (mt <- key.findAllMatchIn(pattern)) {
      if (mt.start > last)
        sb ++= java.util.regex.Pattern.quote(pattern.substring(last, mt.start))
      sb ++= group(mt)
      last = mt.end
    }
    if (last < pattern.length)
      sb ++= java.util.regex.Pattern.quote(pattern.substring(last))
    sb += '$'
    sb.toString
  }

  /** Column `names(i)` = capture group i+1 of `regex` over field `f`;
    * non-matching rows yield null fields, like ES dissect/grok. */
  private def extractOrNull(df: DataFrame, f: String, regex: String,
                            names: Seq[String]): DataFrame =
    names.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      d.withColumn(n,
        when(col(f).rlike(regex), regexp_extract(col(f), regex, i + 1)))
    }

  /** The GROK pattern library (declared subset of the logstash set —
    * the workhorses; %{PATTERN:name} references compile to named capture
    * groups). */
  private val GrokPatterns: Map[String, String] = Map(
    "WORD" -> "\\w+",
    "NOTSPACE" -> "\\S+",
    "DATA" -> ".*?",
    "GREEDYDATA" -> ".*",
    "INT" -> "[+-]?\\d+",
    "NUMBER" -> "[+-]?\\d+(?:\\.\\d+)?",
    "IP" -> "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}",
    "LOGLEVEL" -> "(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)")

  /** `GROK f "%{PATTERN:name}…"` — like [[dissect]] but each key carries a
    * library pattern instead of matching lazily to the next literal. Null
    * fields on non-match, like ES. */
  private def grok(df: DataFrame, rest: String): DataFrame = {
    val (f, pattern) = fieldAndPattern("GROK", rest)
    val key = "%\\{([A-Z0-9_]+):([A-Za-z_][A-Za-z0-9_]*)\\}".r
    val caps = key.findAllMatchIn(pattern).map(mt => (mt.group(1), mt.group(2))).toList
    require(caps.nonEmpty, s"GROK pattern has no %{PATTERN:name}: $pattern")
    val names = caps.map(_._2)
    require(names.distinct == names, s"duplicate GROK names in: $pattern")
    val regex = anchored(pattern, key) { mt =>
      val lib = GrokPatterns.getOrElse(mt.group(1),
        throw new IllegalArgumentException(
          s"unknown GROK pattern '${mt.group(1)}' " +
            s"(library: ${GrokPatterns.keys.toSeq.sorted.mkString(", ")})"))
      s"($lib)"
    }
    extractOrNull(df, f, regex, names)
  }

  /** `LOOKUP JOIN idx ON f` — left equi-join with the catalog table on the
    * shared field name. One row per left row preserved even on multiple
    * matches? No: ES|QL lookup joins multiply on multi-match, and so does
    * a left join — semantics align. */
  private def lookupJoin(df: DataFrame, rest: String,
                         catalog: Map[String, DataFrame]): DataFrame = {
    // `JOIN <index> ON f1[, f2, …]` — composite keys join on every listed
    // field (ES|QL 8.18 multi-key lookup)
    val m = ("(?i)^JOIN\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*(?:\\s*,\\s*[A-Za-z_][A-Za-z0-9_.]*)*)\\s*$").r
    rest.trim match {
      case m(idx, fs) =>
        val right = catalog.getOrElse(idx, throw new IllegalArgumentException(
          s"LOOKUP JOIN: unknown index '$idx'"))
        val keys = fs.split(',').map(_.trim).toSeq
        require(keys.distinct.size == keys.size,
          s"LOOKUP JOIN: duplicate key in '$fs'")
        df.join(right, keys, "left")
      case _ => throw new IllegalArgumentException(
        s"LOOKUP needs 'JOIN <index> ON <field>[, <field>...]', got: $rest")
    }
  }

  /** Index of a top-level (not in string/parens) occurrence of `tok`
    * (word-bounded, case-insensitive for letters; `=` exact, skipping
    * `==`, `!=`, `>=`, `<=`). −1 when absent. */
  private def findTopLevel(s: String, tok: String): Int = {
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s(i)
      if (inStr) { if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 =>
          if (tok == "=") {
            if (c == '=' && (i == 0 || !"=!<>".contains(s(i - 1))) &&
                (i + 1 >= s.length || s(i + 1) != '=')) return i
          } else {
            val end = i + tok.length
            if (end <= s.length && s.substring(i, end).equalsIgnoreCase(tok) &&
                (i == 0 || s(i - 1).isWhitespace) &&
                (end == s.length || s(end).isWhitespace)) return i
          }
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Expression compiler: tokenizer + precedence-climbing descent, every
    * node a built-in `Column` (codegen'd). */
  private[graft] object Expr {

    def compile(src: String): Column = {
      val (c, rest) = orE(tokenize(src))
      require(rest.isEmpty, s"trailing tokens in expression: ${rest.mkString(" ")}")
      c
    }

    /** `name = expr, …` with top-level comma/`=` splitting. */
    def assignments(src: String): Seq[(String, Column)] =
      splitTopLevel(src, ',').map { a =>
        val eq = findTopLevel(a, "=")
        require(eq > 0, s"EVAL needs 'name = expr', got: ${a.trim}")
        val name = a.take(eq).trim
        require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"bad EVAL column name '$name'")
        name -> compile(a.drop(eq + 1))
      }

    /** One STATS aggregate expression: scalar functions may wrap the
      * aggregate calls (`ROUND(SUM(x) / COUNT(*), 2)`) — aggMode descent
      * turns COUNT/SUM/… calls into aggregate columns in place; at least
      * one aggregate call is required (enforced by requiring the text to
      * contain an agg function — a pure scalar over grouped data is an
      * EVAL, not a STATS). */
    /** The active per-aggregate filter (`AGG(x) WHERE cond` — ES|QL 8.16
      * filtered aggregates). Parsing is synchronous, so a dynamic scope
      * carries the compiled condition down to every [[aggCall]] inside
      * this aggregate's expression tree (scalar-wrapped aggregates
      * included) without threading a parameter through the whole parser;
      * DynamicVariable keeps concurrent Esql.run calls isolated. */
    private val aggFilter = new scala.util.DynamicVariable[Option[Column]](None)

    def aggregate(src: String): Column = {
      val wIdx = findTopLevel(src, "WHERE")
      val (aggSrc, filt) =
        if (wIdx < 0) (src, None)
        else (src.take(wIdx), Some(compile(src.drop(wIdx + 5))))
      val hasAgg = ("(?i)\\b(COUNT|COUNT_DISTINCT|SUM|AVG|MIN|MAX|MEDIAN|" +
        "PERCENTILE|TOP|VALUES|WEIGHTED_AVG|STD_DEV)\\s*\\(").r
        .findFirstIn(aggSrc).isDefined
      require(hasAgg,
        s"STATS needs an aggregate call (COUNT, COUNT_DISTINCT, SUM, AVG, " +
          s"MIN, MAX, MEDIAN, PERCENTILE, TOP, VALUES, WEIGHTED_AVG, " +
          s"STD_DEV), got: ${aggSrc.trim}")
      aggFilter.withValue(filt) {
        val (c, rest) = orE(tokenize(aggSrc), aggMode = true)
        require(rest.isEmpty, s"trailing tokens in aggregate: ${rest.mkString(" ")}")
        c
      }
    }

    /** Rows failing the aggregate's WHERE become null inputs — every
      * aggregate here skips nulls natively, which IS filter semantics. */
    private def flt(c: Column): Column =
      aggFilter.value.map(f => when(f, c)).getOrElse(c)

    private def aggCall(fn: String, args: IndexedSeq[Column],
                        star: Boolean): Option[Column] = fn match {
      case "COUNT" =>
        Some(if (star) count(flt(lit(1))) else { require(args.length == 1,
          "COUNT expects one argument or *"); count(flt(args(0))) })
      case "COUNT_DISTINCT" => require(args.length == 1,
        "COUNT_DISTINCT expects one argument"); Some(count_distinct(flt(args(0))))
      case "SUM" => require(args.length == 1, "SUM expects one argument")
        Some(sum(flt(args(0))))
      case "AVG" => require(args.length == 1, "AVG expects one argument")
        Some(avg(flt(args(0))))
      case "MIN" => require(args.length == 1, "MIN expects one argument")
        Some(min(flt(args(0))))
      case "MAX" => require(args.length == 1, "MAX expects one argument")
        Some(max(flt(args(0))))
      case "MEDIAN" => require(args.length == 1, "MEDIAN expects one argument")
        Some(percentile(flt(args(0)), lit(0.5)))
      case "STD_DEV" =>
        // ES|QL STD_DEV is the POPULATION standard deviation
        require(args.length == 1, "STD_DEV expects one argument")
        Some(stddev_pop(flt(args(0))))
      case "VALUES" =>
        // distinct group values as a multivalue — sorted for determinism
        // (ES|QL leaves the order unspecified; a fixed order is a superset
        // contract)
        require(args.length == 1, "VALUES expects one argument")
        Some(sort_array(collect_set(flt(args(0)))))
      case "WEIGHTED_AVG" =>
        require(args.length == 2, "WEIGHTED_AVG expects (value, weight)")
        Some(sum(flt(args(0) * args(1))) / sum(flt(args(1))))
      case _ => None // PERCENTILE/TOP handled by the caller (literal args)
    }

    def splitTopLevel(s: String, sep: Char): Seq[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      val cur = new StringBuilder
      var depth = 0; var inStr = false; var i = 0
      while (i < s.length) {
        val c = s(i)
        if (inStr) { cur += c; if (c == '"') inStr = false }
        else if (c == '"') { inStr = true; cur += c }
        else if (c == '(') { depth += 1; cur += c }
        else if (c == ')') { depth -= 1; cur += c }
        else if (c == sep && depth == 0) { out += cur.toString; cur.clear() }
        else cur += c
        i += 1
      }
      out += cur.toString
      out.filter(_.trim.nonEmpty).toSeq
    }

    // ---- tokenizer ----
    private sealed trait Tok
    private case class TId(s: String) extends Tok
    private case class TNum(s: String) extends Tok
    private case class TStr(s: String) extends Tok
    private case class TOp(s: String) extends Tok

    private def tokenize(src: String): List[Tok] = {
      val out = scala.collection.mutable.ListBuffer[Tok]()
      var i = 0
      while (i < src.length) {
        val c = src(i)
        if (c.isWhitespace) i += 1
        else if (c == '"') {
          val sb = new StringBuilder
          i += 1
          while (i < src.length && src(i) != '"') {
            if (src(i) == '\\' && i + 1 < src.length) { sb += src(i + 1); i += 2 }
            else { sb += src(i); i += 1 }
          }
          require(i < src.length, s"unterminated string in: $src")
          i += 1
          out += TStr(sb.toString)
        } else if (c.isDigit || (c == '.' && i + 1 < src.length && src(i + 1).isDigit)) {
          val j0 = i
          while (i < src.length && (src(i).isDigit || src(i) == '.')) i += 1
          out += TNum(src.substring(j0, i))
        } else if (c.isLetter || c == '_') {
          val j0 = i
          while (i < src.length &&
            (src(i).isLetterOrDigit || src(i) == '_' || src(i) == '.')) i += 1
          out += TId(src.substring(j0, i))
        } else if ("=!<>".contains(c)) {
          val two = if (i + 1 < src.length) src.substring(i, i + 2) else ""
          if (Set("==", "!=", ">=", "<=").contains(two)) { out += TOp(two); i += 2 }
          else { out += TOp(c.toString); i += 1 }
        } else if ("+-*/%(),".contains(c)) { out += TOp(c.toString); i += 1 }
        else throw new IllegalArgumentException(
          s"unexpected character '$c' in expression: $src")
      }
      out.toList
    }

    // ---- precedence descent: OR < AND < NOT < cmp/IN/LIKE < add < mul < unary ----
    private def orE(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = {
      var (l, rest) = andE(t, aggMode)
      while (rest.headOption.exists(isKw(_, "OR"))) {
        val (r, rr) = andE(rest.tail, aggMode); l = l || r; rest = rr
      }
      (l, rest)
    }

    private def andE(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = {
      var (l, rest) = notE(t, aggMode)
      while (rest.headOption.exists(isKw(_, "AND"))) {
        val (r, rr) = notE(rest.tail, aggMode); l = l && r; rest = rr
      }
      (l, rest)
    }

    private def notE(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = t match {
      case h :: tail if isKw(h, "NOT") =>
        val (c, rest) = notE(tail, aggMode); (!c, rest)
      case _ => cmp(t, aggMode)
    }

    private def cmp(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = {
      val (l, rest) = add(t, aggMode)
      rest match {
        case TOp(op) :: tail if Set("==", "!=", ">", ">=", "<", "<=").contains(op) =>
          val (r, rr) = add(tail)
          (op match {
            case "==" => l === r
            case "!=" => l =!= r
            case ">" => l > r
            case ">=" => l >= r
            case "<" => l < r
            case _ => l <= r
          }, rr)
        case h :: tail if isKw(h, "IS") =>
          tail match {
            case n :: rr if isKw(n, "NULL") => (l.isNull, rr)
            case n :: m :: rr if isKw(n, "NOT") && isKw(m, "NULL") =>
              (l.isNotNull, rr)
            case _ => throw new IllegalArgumentException(
              "IS must be followed by NULL or NOT NULL")
          }
        case h :: tail if isKw(h, "LIKE") =>
          tail match {
            case TStr(p) :: rr =>
              // ES|QL wildcards: * → %, ? → _ (escape existing SQL wilds)
              val sql = p.replace("%", "\\%").replace("_", "\\_")
                .replace('*', '%').replace('?', '_')
              (l.like(sql), rr)
            case _ => throw new IllegalArgumentException("LIKE needs a string pattern")
          }
        case h :: TOp("(") :: tail if isKw(h, "IN") =>
          var vals = List.empty[Column]
          var cur = tail
          var done = false
          while (!done) {
            val (v, rr) = add(cur)
            vals ::= v
            rr match {
              case TOp(",") :: more => cur = more
              case TOp(")") :: more => cur = more; done = true
              case _ => throw new IllegalArgumentException("bad IN list")
            }
          }
          (l.isin(vals.reverse: _*), cur)
        case _ => (l, rest)
      }
    }

    private def add(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = {
      var (l, rest) = mul(t, aggMode)
      var done = false
      while (!done) rest match {
        case TOp("+") :: tail => val (r, rr) = mul(tail, aggMode); l = l + r; rest = rr
        case TOp("-") :: tail => val (r, rr) = mul(tail, aggMode); l = l - r; rest = rr
        case _ => done = true
      }
      (l, rest)
    }

    private def mul(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = {
      var (l, rest) = unary(t, aggMode)
      var done = false
      while (!done) rest match {
        case TOp("*") :: tail => val (r, rr) = unary(tail, aggMode); l = l * r; rest = rr
        case TOp("/") :: tail => val (r, rr) = unary(tail, aggMode); l = l / r; rest = rr
        case TOp("%") :: tail => val (r, rr) = unary(tail, aggMode); l = l % r; rest = rr
        case _ => done = true
      }
      (l, rest)
    }

    private def unary(t: List[Tok], aggMode: Boolean = false): (Column, List[Tok]) = t match {
      case TOp("-") :: tail => val (c, rest) = unary(tail, aggMode); (-c, rest)
      case TOp("(") :: tail =>
        val (c, rest) = orE(tail, aggMode)
        rest match {
          case TOp(")") :: rr => (c, rr)
          case _ => throw new IllegalArgumentException("unclosed '('")
        }
      case TNum(n) :: rest =>
        (if (n.contains('.')) lit(n.toDouble) else lit(n.toLong), rest)
      case TStr(s) :: rest => (lit(s), rest)
      case TId(id) :: TOp("(") :: tail => function(id.toUpperCase, tail, aggMode)
      case TId(id) :: rest => id.toUpperCase match {
        case "TRUE" => (lit(true), rest)
        case "FALSE" => (lit(false), rest)
        case "NULL" => (lit(null), rest)
        case _ => (col(id), rest)
      }
      case other => throw new IllegalArgumentException(
        s"expected a value, got: ${other.headOption.getOrElse("end of input")}")
    }

    private def function(fn: String, t: List[Tok],
                         aggMode: Boolean = false): (Column, List[Tok]) = {
      // parse comma-separated args to the closing paren; single-token
      // literal args also surface their raw value (ROUND's scale and
      // SPLIT's separator must be compile-time constants)
      // COUNT(*) star form (aggregate context only)
      if (aggMode && fn == "COUNT" && t.headOption.contains(TOp("*")) &&
          t.drop(1).headOption.contains(TOp(")")))
        return (count(flt(lit(1))), t.drop(2))
      var args = List.empty[(Column, Option[Any])]
      var cur = t
      if (cur.headOption.contains(TOp(")"))) cur = cur.tail
      else {
        var done = false
        while (!done) {
          // NB: annotate the branches to Any — a bare if/else of
          // Double/Long weak-lubs to Double and silently widens the Long
          val litVal: Option[Any] = cur match {
            case TNum(n) :: (TOp(",") | TOp(")")) :: _ =>
              if (n.contains('.')) Some(n.toDouble) else Some(n.toLong)
            case TStr(s) :: (TOp(",") | TOp(")")) :: _ => Some(s)
            case _ => None
          }
          val (v, rr) = orE(cur, aggMode)
          args ::= (v, litVal)
          rr match {
            case TOp(",") :: more => cur = more
            case TOp(")") :: more => cur = more; done = true
            case _ => throw new IllegalArgumentException(s"bad argument list for $fn")
          }
        }
      }
      val argInfo = args.reverse.toIndexedSeq
      val a = argInfo.map(_._1)
      def arity(n: Int): Unit = require(a.length == n,
        s"$fn expects $n argument(s), got ${a.length}")
      if (aggMode) {
        aggCall(fn, a, star = false) match {
          case Some(c0) => return (c0, cur)
          case None =>
        }
        if (fn == "TOP") {
          // TOP(field, limit, "asc"|"desc") — the first `limit` values in
          // the given order as a multivalue (dups kept, like ES|QL)
          arity(3)
          val n = litInt(argInfo(1)._2, "TOP")
          require(n >= 1, s"TOP limit must be >= 1, got $n")
          val ord = litStr(argInfo(2)._2, "TOP").toLowerCase
          require(ord == "asc" || ord == "desc",
            s"TOP order must be asc or desc, got '$ord'")
          return (slice(
            sort_array(collect_list(flt(a(0))), asc = ord == "asc"),
            1, n), cur)
        }
        if (fn == "PERCENTILE") {
          arity(2)
          val pct = argInfo(1)._2 match {
            case Some(l: Long) => l.toDouble
            case Some(d: Double) => d
            case other => throw new IllegalArgumentException(
              s"PERCENTILE needs a literal percent, got: $other")
          }
          require(pct >= 0 && pct <= 100, s"PERCENTILE percent out of range: $pct")
          return (percentile(flt(a(0)), lit(pct / 100.0)), cur)
        }
      }
      val c = fn match {
        case "ABS" => arity(1); abs(a(0))
        case "ROUND" =>
          require(a.length == 1 || a.length == 2, "ROUND expects 1 or 2 arguments")
          if (a.length == 1) round(a(0))
          else round(a(0), litInt(argInfo(1)._2, "ROUND"))
        case "LENGTH" => arity(1); length(a(0))
        case "TO_LOWER" => arity(1); lower(a(0))
        case "TO_UPPER" => arity(1); upper(a(0))
        case "SUBSTRING" =>
          require(a.length == 2 || a.length == 3, "SUBSTRING expects 2 or 3 arguments")
          if (a.length == 2) a(0).substr(a(1), length(a(0)))
          else a(0).substr(a(1), a(2))
        case "CONCAT" => concat(a: _*)
        case "COALESCE" => coalesce(a: _*)
        case "GREATEST" => greatest(a: _*)
        case "LEAST" => least(a: _*)
        case "SPLIT" => arity(2)
          split(a(0), java.util.regex.Pattern.quote(litStr(argInfo(1)._2, "SPLIT")))
        case "STARTS_WITH" => arity(2); a(0).startsWith(a(1))
        case "ENDS_WITH" => arity(2); a(0).endsWith(a(1))
        case "TO_LONG" => arity(1); a(0).cast("long")
        case "TO_DOUBLE" => arity(1); a(0).cast("double")
        case "TO_STRING" => arity(1); a(0).cast("string")
        case "TO_INTEGER" => arity(1); a(0).cast("int")
        case "TO_IP" =>
          // ES|QL's ip conversion as validate-to-null: the engine's ip
          // fields are dotted-quad strings (same model as the ip_range /
          // ip_prefix aggs), so TO_IP keeps a valid IPv4 literal and
          // nulls anything else — ES's invalid-value-becomes-null-with-
          // warning contract, minus the warning header. IPv6 declared out
          // (nothing else in the engine speaks v6).
          arity(1)
          val octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
          when(a(0).rlike(s"^$octet(\\.$octet){3}$$"), a(0))
        case "TO_BOOLEAN" => arity(1); a(0).cast("boolean")
        case "TO_DATETIME" => arity(1); Tsx.ltz(a(0).cast("timestamp"))
        case "MV_COUNT" => arity(1); size(a(0))
        case "TRIM" => arity(1); trim(a(0))
        case "FLOOR" => arity(1); floor(a(0))
        case "CEIL" => arity(1); ceil(a(0))
        case "REPLACE" => arity(3)
          regexp_replace(a(0),
            java.util.regex.Pattern.quote(litStr(argInfo(1)._2, "REPLACE")),
            litStr(argInfo(2)._2, "REPLACE"))
        case "CASE" =>
          // CASE(cond1, v1[, cond2, v2…][, default]) — ES|QL's conditional
          require(a.length >= 2, "CASE expects at least (condition, value)")
          val pairs = a.grouped(2).toSeq
          val default = if (a.length % 2 == 1) a.last else lit(null)
          pairs.takeWhile(_.length == 2).foldRight(default) {
            case (Seq(c0, v0), acc) => when(c0, v0).otherwise(acc)
            case (_, acc) => acc
          }
        case "DATE_TRUNC" => arity(2)
          // unit first like ES|QL's span argument; the input normalizes
          // through Tsx so NTZ parquet timestamps work (UTC session)
          val unit = litStr(argInfo(0)._2, "DATE_TRUNC")
          require(Set("year", "quarter", "month", "week", "day", "hour",
            "minute", "second").contains(unit.toLowerCase),
            s"DATE_TRUNC: unsupported unit '$unit'")
          date_trunc(unit, Tsx.ltz(a(1)))
        case "TO_UNIX_MICROS" => arity(1); Tsx.micros(a(0))
        case "NOW" =>
          arity(0)
          lit(java.sql.Timestamp.from(
            Option(nowAnchor.value).getOrElse(java.time.Instant.now())))
        case "BUCKET" =>
          // numeric span bucketing: floor(x / span) * span (the ES|QL
          // numeric BUCKET form; date bucketing is DATE_TRUNC). The
          // 4-arg target-count form BUCKET(x, count, min, max) uses the
          // EXACT span (max−min)/count — DECLARED DIVERGENCE from ES|QL's
          // human-friendly width rounding, which is presentation sugar.
          require(a.length == 2 || a.length == 4,
            "BUCKET expects (x, span) or (x, count, min, max)")
          if (a.length == 2) floor(a(0) / a(1)) * a(1)
          else {
            def num(i: Int): Double = argInfo(i)._2 match {
              case Some(l: Long) => l.toDouble
              case Some(d: Double) => d
              case other => throw new IllegalArgumentException(
                s"BUCKET needs literal count/min/max, got: $other")
            }
            val (n, lo, hi) = (num(1), num(2), num(3))
            require(n >= 1 && hi > lo,
              s"BUCKET: count >= 1 and max > min required")
            val span = (hi - lo) / n
            floor((a(0) - lo) / span) * span + lo
          }
        // ---- math
        case "POW" => arity(2); pow(a(0), a(1))
        case "SQRT" => arity(1); sqrt(a(0))
        case "EXP" => arity(1); exp(a(0))
        case "LOG" =>
          // LOG(x) = natural log; LOG(base, x) = log_base(x)
          require(a.length == 1 || a.length == 2, "LOG expects 1 or 2 arguments")
          if (a.length == 1) log(a(0)) else log(a(1)) / log(a(0))
        case "LOG10" => arity(1); log10(a(0))
        case "SIGNUM" => arity(1); signum(a(0))
        case "PI" => arity(0); lit(math.Pi)
        case "E" => arity(0); lit(math.E)
        case "SIN" => arity(1); sin(a(0))
        case "COS" => arity(1); cos(a(0))
        case "TAN" => arity(1); tan(a(0))
        case "ASIN" => arity(1); asin(a(0))
        case "ACOS" => arity(1); acos(a(0))
        case "ATAN" => arity(1); atan(a(0))
        case "ATAN2" => arity(2); atan2(a(0), a(1))
        // ---- strings
        case "LEFT" => arity(2); a(0).substr(lit(1), a(1))
        case "RIGHT" => arity(2)
          when(length(a(0)) <= a(1), a(0))
            .otherwise(a(0).substr(length(a(0)) - a(1) + 1, a(1)))
        case "REVERSE" => arity(1); reverse(a(0))
        case "LTRIM" => arity(1); ltrim(a(0))
        case "RTRIM" => arity(1); rtrim(a(0))
        case "LOCATE" =>
          // LOCATE(string, substring[, start]) — 1-based, 0 = not found
          require(a.length == 2 || a.length == 3, "LOCATE expects 2 or 3 arguments")
          val sub = litStr(argInfo(1)._2, "LOCATE")
          if (a.length == 2) locate(sub, a(0))
          else locate(sub, a(0), litInt(argInfo(2)._2, "LOCATE"))
        // ---- multivalue
        case "MV_MIN" => arity(1); array_min(a(0))
        case "MV_MAX" => arity(1); array_max(a(0))
        case "MV_SUM" => arity(1)
          org.apache.spark.sql.functions.aggregate(
            a(0), lit(0.0), (acc, x) => acc + x.cast("double"))
        case "MV_AVG" => arity(1)
          org.apache.spark.sql.functions.aggregate(
            a(0), lit(0.0), (acc, x) => acc + x.cast("double")) / size(a(0))
        case "MV_CONCAT" => arity(2)
          array_join(a(0), litStr(argInfo(1)._2, "MV_CONCAT"))
        case "MV_DEDUPE" => arity(1); array_distinct(a(0))
        case "MV_SORT" =>
          require(a.length == 1 || a.length == 2, "MV_SORT expects 1 or 2 arguments")
          val descOrder = a.length == 2 &&
            litStr(argInfo(1)._2, "MV_SORT").equalsIgnoreCase("DESC")
          sort_array(a(0), asc = !descOrder)
        case "MV_FIRST" => arity(1); element_at(a(0), 1)
        case "MV_LAST" => arity(1); element_at(a(0), -1)
        case "MV_MEDIAN" => arity(1)
          // numeric multivalue median: sorted middle, even sizes average
          // the two central values (the ES|QL contract)
          val s = sort_array(a(0))
          val n = size(a(0))
          when(n === 0, lit(null)).otherwise(
            when(n % 2 === 1,
              element_at(s, ((n + 1) / 2).cast("int")).cast("double"))
            .otherwise(
              (element_at(s, (n / 2).cast("int")).cast("double") +
                element_at(s, (n / 2 + 1).cast("int")).cast("double")) / 2))
        case "MV_PERCENTILE" => arity(2)
          // MV_PERCENTILE(values, p) — p in [0,100], may be a per-row
          // expression; linear interpolation between the two closest
          // ranks of the sorted values (the ES|QL contract, matching
          // PERCENTILE's continuous interpolation). Out-of-range p and
          // empty multivalues yield null, like ES.
          val sp = sort_array(a(0))
          val np = size(a(0))
          val pf = a(1).cast("double") / 100.0
          val rank = (np - 1).cast("double") * pf // 0-based fractional
          val lo = floor(rank).cast("int")
          val frac = rank - lo.cast("double")
          when(np === 0 || pf < 0.0 || pf > 1.0, lit(null)).otherwise(
            element_at(sp, lo + 1).cast("double") * (lit(1.0) - frac) +
              element_at(sp, ceil(rank).cast("int") + 1).cast("double") * frac)
        case "MV_ZIP" =>
          // MV_ZIP(a, b[, delim]) — pairwise string join, "," default
          require(a.length == 2 || a.length == 3, "MV_ZIP expects 2 or 3 arguments")
          val delim = if (a.length == 3) litStr(argInfo(2)._2, "MV_ZIP") else ","
          zip_with(a(0), a(1), (x, y) =>
            concat_ws(delim, x.cast("string"), y.cast("string")))
        case "MV_APPEND" => arity(2); concat(a(0), a(1))
        case "MV_SLICE" =>
          // MV_SLICE(field, start[, end]) — 0-based inclusive, like ES|QL
          require(a.length == 2 || a.length == 3, "MV_SLICE expects 2 or 3 arguments")
          val start = litInt(argInfo(1)._2, "MV_SLICE")
          require(start >= 0, "MV_SLICE start must be >= 0 (declared subset)")
          val end =
            if (a.length == 3) litInt(argInfo(2)._2, "MV_SLICE") else start
          require(end >= start, s"MV_SLICE end ($end) must be >= start ($start)")
          slice(a(0), start + 1, end - start + 1)
        // ---- dates
        case "DATE_FORMAT" =>
          // DATE_FORMAT("pattern", ts) — Spark datetime patterns
          // (declared subset of ES|QL's Java-time patterns)
          arity(2)
          date_format(Tsx.ltz(a(1)), litStr(argInfo(0)._2, "DATE_FORMAT"))
        case "DATE_PARSE" => arity(2)
          to_timestamp(a(1), litStr(argInfo(0)._2, "DATE_PARSE"))
        case "DATE_DIFF" =>
          // DATE_DIFF("unit", start, end) — whole units, truncated toward
          // zero (exact long micros arithmetic)
          arity(3)
          val unitUs: Long = litStr(argInfo(0)._2, "DATE_DIFF").toLowerCase match {
            case "microseconds" => 1L
            case "milliseconds" => 1000L
            case "seconds" => 1000000L
            case "minutes" => 60000000L
            case "hours" => 3600000000L
            case "days" => 86400000000L
            case u => throw new IllegalArgumentException(
              s"DATE_DIFF: unsupported unit '$u'")
          }
          ((Tsx.micros(a(2)) - Tsx.micros(a(1))) / unitUs).cast("long")
        case "DATE_EXTRACT" =>
          arity(2)
          val part = litStr(argInfo(0)._2, "DATE_EXTRACT").toLowerCase
          val ts = Tsx.ltz(a(1))
          part match {
            case "year" => year(ts).cast("long")
            case "month_of_year" | "month" => month(ts).cast("long")
            case "day_of_month" | "day" => dayofmonth(ts).cast("long")
            case "day_of_week" => dayofweek(ts).cast("long")
            case "day_of_year" => dayofyear(ts).cast("long")
            case "hour_of_day" | "hour" => hour(ts).cast("long")
            case "minute_of_hour" | "minute" => minute(ts).cast("long")
            case "second_of_minute" | "second" => second(ts).cast("long")
            case p => throw new IllegalArgumentException(
              s"DATE_EXTRACT: unsupported part '$p'")
          }
        // ---- ip
        case "CIDR_MATCH" =>
          // CIDR_MATCH(ip, "a.b.c.d/n"[, ...]) — IPv4 numeric containment
          // per block, OR across blocks (same long math as ip_range)
          require(a.length >= 2, "CIDR_MATCH expects (ip, block, ...)")
          val parts4 = split(a(0), "\\.")
          val ipNum = parts4.getItem(0).cast("long") * 16777216L +
            parts4.getItem(1).cast("long") * 65536L +
            parts4.getItem(2).cast("long") * 256L +
            parts4.getItem(3).cast("long")
          (1 until a.length).map { i =>
            val block = litStr(argInfo(i)._2, "CIDR_MATCH")
            val Array(ip, bits) = block.split("/")
            val n = bits.toInt
            require(n >= 0 && n <= 32, s"CIDR_MATCH: bad block '$block'")
            val ps = ip.split("\\.")
            require(ps.length == 4 && ps.forall(p =>
              p.nonEmpty && p.forall(_.isDigit) && p.toInt <= 255),
              s"CIDR_MATCH: bad IPv4 '$ip'")
            val span = 1L << (32 - n)
            val base = ps.map(_.toLong).reduce(_ * 256L + _) / span * span
            ipNum >= base && ipNum < base + span
          }.reduce(_ || _)
        case "IP_PREFIX" =>
          // IP_PREFIX(ip, v4Len, v6Len) — the masked IPv4 network as a
          // dotted quad (v6 length accepted, IPv4-only declared subset)
          require(a.length == 2 || a.length == 3, "IP_PREFIX expects 2 or 3 arguments")
          val n = litInt(argInfo(1)._2, "IP_PREFIX")
          require(n >= 0 && n <= 32, s"IP_PREFIX length out of range: $n")
          val parts4 = split(a(0), "\\.")
          val ipNum = parts4.getItem(0).cast("long") * 16777216L +
            parts4.getItem(1).cast("long") * 65536L +
            parts4.getItem(2).cast("long") * 256L +
            parts4.getItem(3).cast("long")
          val net = shiftrightunsigned(ipNum, 32 - n) * (1L << (32 - n))
          when(a(0).isNotNull, concat_ws(".",
            (shiftrightunsigned(net, 24) % 256L).cast("string"),
            (shiftrightunsigned(net, 16) % 256L).cast("string"),
            (shiftrightunsigned(net, 8) % 256L).cast("string"),
            (net % 256L).cast("string")))
        // ---- full text (ES|QL 8.17)
        case "MATCH" =>
          // MATCH(field, "query text") — match-query semantics: analyzed
          // terms OR'd, evaluated with the SAME term pattern the search
          // compiler uses (one definition of "term matches")
          arity(2)
          val mToks = litStr(argInfo(1)._2, "MATCH")
            .split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
          require(mToks.nonEmpty, "MATCH needs a non-empty query string")
          mToks.map(t => QueryCompiler.termMatch(a(0), QueryCompiler.escapeTerm(t)))
            .reduce(_ || _)
        case "QSTR" =>
          // QSTR("field:term AND other:x") — the full Lucene-lite grammar
          // compiled to a predicate over this frame's columns
          arity(1)
          QueryCompiler.compile(litStr(argInfo(0)._2, "QSTR"),
            Int.MaxValue).predicate
        // ---- hashes / encodings
        case "MD5" => arity(1); md5(a(0))
        case "SHA1" => arity(1); sha1(a(0))
        case "SHA256" => arity(1); sha2(a(0), 256)
        case "HASH" =>
          // HASH(algorithm, input) — the algorithm must be a literal, so
          // an unsupported name fails at compile, not per row
          arity(2)
          litStr(argInfo(0)._2, "HASH").toLowerCase match {
            case "md5" => md5(a(1))
            case "sha1" => sha1(a(1))
            case "sha256" => sha2(a(1), 256)
            case "sha512" => sha2(a(1), 512)
            case other => throw new IllegalArgumentException(
              s"HASH: unsupported algorithm '$other' " +
                "(md5, sha1, sha256, sha512)")
          }
        case "REPEAT" => arity(2); repeat(a(0), a(1).cast("int"))
        case "SPACE" => arity(1); repeat(lit(" "), a(0).cast("int"))
        case "TO_BASE64" => arity(1); base64(a(0).cast("binary"))
        case "FROM_BASE64" => arity(1); unbase64(a(0)).cast("string")
        case other => throw new IllegalArgumentException(
          s"unsupported function '$other'")
      }
      (c, cur)
    }

    /** A literal-int argument (ROUND scale must be compile-time). */
    private def litInt(v: Option[Any], fn: String): Int = v match {
      case Some(l: Long) => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn needs a literal integer argument, got: $other")
    }

    private def litStr(v: Option[Any], fn: String): String = v match {
      case Some(s: String) => s
      case other => throw new IllegalArgumentException(
        s"$fn needs a literal string argument, got: $other")
    }

    private def isKw(t: Tok, kw: String): Boolean = t match {
      case TId(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
  }
}
