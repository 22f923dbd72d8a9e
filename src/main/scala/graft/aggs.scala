package graft

import graft.functions.WordRuns
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** ES-DSL aggregations compiled to Spark aggregate plans.
  *
  * The reference has no aggregation engine of its own (SURVEY §2.5): ES
  * computes `hits.total`/`max_score`, and users run real aggregations
  * against the backing Elasticsearch alias directly — the reference even
  * leaves its index type un-enforced to allow "cross-table aggregations"
  * (reference README.md:680-683). This module is that user surface,
  * re-expressed Spark-first: the search body's `query` compiles to the
  * same predicate the search executor uses ([[QueryCompiler]]), and each
  * entry under `aggs`/`aggregations` becomes one `groupBy` plan — hash
  * aggregates with map-side partial combine, the 100 TB shape (one shuffle
  * of group keys per agg; never a window, never a collect).
  *
  * Supported subset (declared):
  *  - bucket aggs: `terms` (size, default 10; ES default order `_count`
  *    desc then key asc), `date_histogram` (`calendar_interval`: year /
  *    month / week / day / hour / minute), `histogram` (fixed `interval`),
  *    `range` (`from` inclusive, `to` exclusive, ES label format
  *    `from-to` with `*` for open ends). Buckets drop null keys and — like
  *    ES histograms — empty buckets are absent (no `min_doc_count: 0`
  *    zero-fill).
  *  - metric aggs: `avg`, `sum`, `min`, `max`, `value_count`,
  *    `cardinality`, `stats`. `stats` flattens to
  *    `<name>_count/_min/_max/_avg/_sum` columns. DECLARED DIVERGENCE:
  *    `cardinality` is EXACT count-distinct where ES answers with
  *    approximate HyperLogLog++ — exactness is a superset contract, and
  *    Spark's hash aggregate pays the same one shuffle either way.
  *  - one level of metric sub-aggs under a bucket agg (`"aggs"` inside a
  *    bucket body — the dominant real-world shape, `terms` + `avg`).
  *
  * Output schema per agg: bucket key as `key` (+ `doc_count`), one column
  * per metric sub-agg named by its agg name — flat columns, not ES's
  * response JSON; a DataFrame IS the bucket list.
  */
object Aggs {
  private val mapper = new ObjectMapper()

  /** Run every aggregation in an ES search body over `docs`, filtered by
    * the body's `query` (absent → match_all). Returns one DataFrame per
    * top-level aggregation name. */
  def run(docs: DataFrame, body: String, idCol: String = "doc_id",
          defaultOperator: String = "AND"): Map[String, DataFrame] =
    runWith(docs, body, idCol, background = docs, defaultOperator)

  /** [[run]] with the doc source split from the significant_terms
    * background — [[runIndexed]] prunes the former but must not shrink the
    * latter. */
  private def runWith(docs: DataFrame, body: String, idCol: String,
                      background: DataFrame,
                      defaultOperator: String = "AND"): Map[String, DataFrame] = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "search body must be a JSON object")
    val aggsNode = Option(root.get("aggs")).orElse(Option(root.get("aggregations")))
      .getOrElse(throw new IllegalArgumentException("missing 'aggs'/'aggregations'"))
    require(aggsNode.isObject && aggsNode.size > 0, "'aggs' must be a non-empty object")
    val filtered =
      if (root.has("query"))
        docs.where(QueryCompiler.compile(body, Int.MaxValue, idCol,
          defaultOperator).predicate)
      else docs
    // sibling bucket-metric aggs (avg_bucket & co) aggregate ANOTHER
    // top-level agg's bucket frame, so primaries compute first
    val entries = aggsNode.fieldNames.asScala.toSeq.map(n => n -> aggsNode.get(n))
    val (siblings, primaries) = entries.partition { case (_, spec) =>
      spec.isObject && spec.fieldNames.asScala.exists(bucketMetricTypes.contains)
    }
    val primary = primaries.map { case (name, spec) =>
      // significant_terms scores the query's result set AGAINST the
      // unfiltered background, so it alone also receives `background`
      name -> one(filtered, name, spec, background = background, idCol = idCol)
    }.toMap
    primary ++ siblings.map { case (name, spec) =>
      name -> siblingBucketMetric(name, spec, primary)
    }
  }

  /** ES sibling pipeline aggs: one scalar over a sibling agg's bucket
    * frame — `{"stat":{"avg_bucket":{"buckets_path":"hist>total"}}}`
    * (`>_count` targets doc_count). Declared subset: the `value` only (ES
    * max/min_bucket also list the attaining keys); gap_policy skip is
    * Spark's native null-skipping aggregate behavior. The frame is already
    * bucket-sized, so this is a driver-cheap second aggregate. */
  private val bucketMetricTypes =
    Set("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
      "stats_bucket", "percentiles_bucket",
      // bucket-ANALYSIS siblings: a statistic over the whole ordered
      // bucket sequence rather than a reduce of its values
      "change_point", "bucket_correlation", "bucket_count_ks_test")

  private def siblingBucketMetric(name: String, spec: JsonNode,
                                  primary: Map[String, DataFrame]): DataFrame = {
    val ts = spec.fieldNames.asScala.filter(bucketMetricTypes.contains).toList
    require(ts.size == 1 && spec.size == 1,
      s"sibling agg '$name' must be exactly one bucket-metric type, got: " +
        spec.fieldNames.asScala.mkString(", "))
    val tpe = ts.head
    val body = spec.get(tpe)
    val allowed = Set("buckets_path", "gap_policy") ++
      (tpe match {
        case "percentiles_bucket" => Set("percents")
        case "bucket_correlation" => Set("function")
        case "bucket_count_ks_test" => Set("fractions", "alternative")
        case _ => Set.empty[String]
      })
    val unknown = body.fieldNames.asScala.toSet -- allowed
    require(unknown.isEmpty,
      s"unsupported $tpe option(s) in '$name': ${unknown.mkString(", ")}")
    Option(body.get("gap_policy")).foreach { g =>
      require(g.isTextual && g.asText == "skip",
        s"$tpe '$name' gap_policy: 'skip' only (nulls skip natively)")
    }
    val bp = Option(body.get("buckets_path"))
      .map(_.asText).getOrElse(throw new IllegalArgumentException(
        s"$tpe '$name' needs 'buckets_path'"))
    val parts = bp.split(">")
    require(parts.length == 2,
      s"$tpe '$name' buckets_path must be '<sibling>><metric>', got '$bp'")
    val src = primary.getOrElse(parts(0), throw new IllegalArgumentException(
      s"$tpe '$name': unknown sibling aggregation '${parts(0)}'"))
    val metricCol = if (parts(1) == "_count") "doc_count" else parts(1)
    require(src.columns.contains(metricCol),
      s"$tpe '$name': sibling '${parts(0)}' has no column '$metricCol'")
    val c = col(metricCol)
    tpe match {
      case "avg_bucket" => src.agg(avg(c).as("value"))
      case "sum_bucket" => src.agg(sum(c).as("value"))
      case "min_bucket" => src.agg(min(c).as("value"))
      case "max_bucket" => src.agg(max(c).as("value"))
      case "stats_bucket" =>
        // the ES response fields, flat: count/min/max/avg/sum of the
        // sibling's bucket values
        src.agg(count(c).as("count"), min(c).as("min"), max(c).as("max"),
          avg(c).as("avg"), sum(c).as("sum"))
      case "percentiles_bucket" =>
        // exact interpolated percentiles of the bucket-value list — same
        // p<percent> flattening as the `percentiles` metric. DECLARED
        // DIVERGENCE: ES percentiles_bucket uses nearest-rank; the
        // interpolated form matches this engine's percentiles metric
        val percents = Option(body.get("percents")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asDouble))
          .getOrElse(Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0))
        require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
          s"percentiles_bucket '$name' percents must be in [0, 100]")
        val cols = percents.map { p =>
          val suffix = (if (p == p.floor) p.toInt.toString else p.toString)
            .replace('.', '_')
          percentile(c.cast("double"), lit(p / 100.0)).as(s"p$suffix")
        }
        src.agg(cols.head, cols.tail: _*)

      case "change_point" =>
        // ES ML's change_point, re-expressed as a deterministic mean-shift
        // scan: for every split t of the key-ordered bucket sequence, the
        // scaled mean difference |mean(left) − mean(right)|·√(t(n−t)/n)
        // (the CUSUM-style statistic); the argmax split is the change
        // point. Output: the first right-side bucket's key + the statistic
        // (`p_value`/spike-vs-dip typing are out of the declared subset).
        // The frame is an already-aggregated bucket list — the single-
        // partition window is bounded by bucket count, ENFORCED by
        // boundedFrame (same contract as applyPipelines).
        require(src.columns.contains("key"),
          s"change_point '$name': sibling has no 'key' ordering column")
        val w = org.apache.spark.sql.expressions.Window.orderBy(asc("key"))
        val stats = boundedFrame(src, s"change_point '$name'")
          .withColumn("_t", row_number().over(w))
          .withColumn("_next_key", lead(col("key"), 1).over(w))
          .withColumn("_cum", sum(c.cast("double")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .withColumn("_tot", sum(c.cast("double")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        // split AFTER row t: left = first t rows; both sides >= 2 buckets.
        // The reported bucket is the FIRST of the new regime (row t+1) —
        // ES's "where the distribution changed".
        val scored = stats
          .where(col("_t") >= 2 && col("_t") <= col("_n") - 2)
          .withColumn("_stat",
            abs(col("_cum") / col("_t") -
              (col("_tot") - col("_cum")) / (col("_n") - col("_t"))) *
              sqrt(col("_t") * (col("_n") - col("_t")) / col("_n")))
        scored.orderBy(desc("_stat"), asc("key"))
          .limit(1)
          .select(col("_next_key").as("change_key"), col("_stat").as("value"))

      case "bucket_correlation" =>
        // {"bucket_correlation": {"buckets_path": p, "function":
        //   {"count_correlation": {"indicator": {"expectations": [...]}}}}}
        // DECLARED DIVERGENCE: Pearson correlation between the key-ordered
        // bucket sequence and the indicator expectations (ES's
        // count_correlation is a rescaled variant of the same quantity).
        // Fail-loud if the indicator length doesn't match the bucket count.
        val fn = Option(body.get("function"))
          .flatMap(f => Option(f.get("count_correlation")))
          .flatMap(f => Option(f.get("indicator")))
          .getOrElse(throw new IllegalArgumentException(
            s"bucket_correlation '$name' needs function.count_correlation.indicator"))
        val exps = Option(fn.get("expectations")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asDouble))
          .getOrElse(throw new IllegalArgumentException(
            s"bucket_correlation '$name' indicator needs 'expectations'"))
        require(exps.nonEmpty, s"bucket_correlation '$name': empty expectations")
        require(src.columns.contains("key"),
          s"bucket_correlation '$name': sibling has no 'key' ordering column")
        // Pearson via the explicit sum-of-products identity rather than
        // Spark's streaming co-moment `corr`: with integer-valued bucket
        // counts and indicator values every partial sum is exact in
        // double, so the result is summation-order independent and an
        // external checker computing the same identity reproduces it bit
        // for bit (the unpinned-double lesson from round 7).
        val w = org.apache.spark.sql.expressions.Window.orderBy(asc("key"))
        val nD = exps.size.toDouble
        val sy = exps.sum
        val syy = exps.map(e => e * e).sum
        src.withColumn("_t", row_number().over(w))
          .withColumn("_exp",
            element_at(array(exps.map(lit): _*), col("_t").cast("int")))
          .agg(
            sum(c.cast("double")).as("_sx"),
            sum(c.cast("double") * c.cast("double")).as("_sxx"),
            sum(c.cast("double") * col("_exp")).as("_sxy"),
            assert_true(count(lit(1)) === lit(exps.size.toLong),
              lit(s"bucket_correlation '$name': ${exps.size} expectations " +
                "but a different bucket count")).as("_check"))
          .select(
            ((lit(nD) * col("_sxy") - col("_sx") * lit(sy)) /
              (sqrt(lit(nD) * col("_sxx") - col("_sx") * col("_sx")) *
                sqrt(lit(nD * syy - sy * sy)))).as("value"))

      case "bucket_count_ks_test" =>
        // {"bucket_count_ks_test": {"buckets_path": p, "fractions": [...]}}
        // — the two-sample Kolmogorov–Smirnov D statistic between the
        // empirical bucket-count CDF (key order) and the expected-fraction
        // CDF. Declared subset: the D statistic itself (ES returns
        // p-values per alternative; D is the deterministic core).
        val fracs = Option(body.get("fractions")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asDouble))
          .getOrElse(throw new IllegalArgumentException(
            s"bucket_count_ks_test '$name' needs 'fractions'"))
        require(fracs.nonEmpty && fracs.forall(_ >= 0) && fracs.sum > 0,
          s"bucket_count_ks_test '$name': fractions must be non-negative, sum > 0")
        Option(body.get("alternative")).foreach { alts =>
          val vs = alts.elements.asScala.map(_.asText).toSet
          require(vs.subsetOf(Set("two_sided", "less", "greater")),
            s"bucket_count_ks_test '$name': bad alternative $vs")
        }
        val fsum = fracs.sum
        require(src.columns.contains("key"),
          s"bucket_count_ks_test '$name': sibling has no 'key' ordering column")
        val w = org.apache.spark.sql.expressions.Window.orderBy(asc("key"))
        val cumW = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        // scan the RAW fractions, divide by the sum last: with integer-
        // valued fractions the running sums are exact in double, so the
        // expected CDF is one correctly-rounded division per bucket —
        // reproducible by an external checker (vs normalizing first,
        // which accumulates rounded increments)
        val cumExps = fracs.scanLeft(0.0)(_ + _).tail.map(_ / fsum)
        src.withColumn("_t", row_number().over(w))
          .withColumn("_cum", sum(c.cast("double")).over(cumW))
          .withColumn("_tot", sum(c.cast("double")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .withColumn("_cumExp",
            element_at(array(cumExps.map(lit): _*), col("_t").cast("int")))
          .agg(
            max(abs(col("_cum") / col("_tot") - col("_cumExp"))).as("value"),
            assert_true(count(lit(1)) === lit(fracs.size.toLong),
              lit(s"bucket_count_ks_test '$name': ${fracs.size} fractions " +
                "but a different bucket count")).as("_check"))
          .drop("_check")
    }
  }

  /** Index-accelerated aggregations: restrict the doc source to the
    * postings store's candidate superset for the body's `query` first
    * ([[TextIndex.prefilter]]), then aggregate — [[run]] re-applies the
    * exact compiled predicate over candidates, so results are identical to
    * the scan path BY CONSTRUCTION while the aggregate reads only candidate
    * rows. At 100 TB this is the difference between "aggregate the docs
    * matching a selective term" touching postings + candidates, or the
    * whole corpus. Bodies without a query, or with no index cover, fall
    * back to the full scan unchanged. significant_terms' background stays
    * the FULL corpus (only the foreground is query-shaped). */
  def runIndexed(docs: DataFrame, postings: DataFrame, body: String,
                 indexedFields: Set[String], idCol: String = "doc_id",
                 nBuckets: Int = 64,
                 defaultOperator: String = "AND"): Map[String, DataFrame] =
    runWith(TextIndex.prefilter(docs, postings, body, idCol, indexedFields,
        nBuckets, defaultOperator),
      body, idCol, background = docs, defaultOperator)

  /** Eager validation (R11 parity for the aggregation surface): build
    * every aggregation plan against a zero-row slice of `docs` and force
    * analysis, surfacing unknown agg types, bad parameters, AND missing
    * columns as `Left` — before any execution. */
  def validate(docs: DataFrame, body: String): Either[String, Unit] =
    try {
      run(docs.limit(0), body).values.foreach(_.queryExecution.analyzed)
      Right(())
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** Single-agg convenience: the body must contain exactly one top-level
    * aggregation (plus an optional `query`). */
  def runSingle(docs: DataFrame, body: String, idCol: String = "doc_id"): DataFrame = {
    val m = run(docs, body, idCol)
    require(m.size == 1, s"expected exactly one aggregation, got ${m.keys.mkString(", ")}")
    m.head._2
  }

  /** ES `children` agg (join-field families): parent buckets by
    * `bucketField` with per-bucket CHILD statistics — child doc_count plus
    * `childMetrics` (a JSON object of metric aggs over child columns, the
    * [[run]] metric grammar). The reference models parent/child through
    * ES join fields and serves has_child/has_parent verbatim
    * (ElasticIndex.java:663); this is the aggregation face of that
    * relation. Two frames, so it cannot ride [[run]]'s single-table body.
    *
    * 100 TB shape: one equi-join on the family key (children shuffle by
    * `childFkCol`, parents by `parentIdCol` — or broadcast when the parent
    * side is small; AQE picks) followed by the usual capped terms
    * hash-aggregate. Parents without children drop out (inner join), like
    * ES buckets with zero child docs under min_doc_count 1. */
  def childrenAgg(parents: DataFrame, children: DataFrame,
                  parentIdCol: String, childFkCol: String,
                  bucketField: String, size: Int = 10,
                  childMetrics: String = "{}"): DataFrame = {
    require(size >= 1, s"children agg size must be >= 1, got $size")
    val metricsNode = mapper.readTree(childMetrics)
    require(metricsNode.isObject, "childMetrics must be a JSON object of metric aggs")
    val metrics = subAggMetricCols(
      if (metricsNode.size == 0) None else Some(metricsNode),
      "children", allowedPipelines = Set.empty)
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    parents.select(col(parentIdCol).as("_ca_pid"), col(bucketField))
      .where(col(bucketField).isNotNull && col("_ca_pid").isNotNull)
      .join(children, col("_ca_pid") === children(childFkCol))
      .groupBy(col(bucketField).as("key"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(desc("doc_count"), asc("key"))
      .limit(size)
  }

  /** ES `parent` aggregation (the inverse of [[childrenAgg]]): climb from
    * a CHILD doc context to the parent side and bucket/aggregate over the
    * PARENT docs — "which market segments do the customers behind these
    * orders sit in". Each parent counts once no matter how many children
    * point at it (ES parent-agg doc_count semantics), so the climb is a
    * LEFT-SEMI join: parents keep their row shape, children only gate.
    *
    * 100 TB shape: one semi-join on the family key (never multiplies the
    * parent side; AQE broadcasts when the child id set is small) followed
    * by the capped terms hash-aggregate. */
  def parentAgg(children: DataFrame, parents: DataFrame,
                childFkCol: String, parentIdCol: String,
                bucketField: String, size: Int = 10,
                parentMetrics: String = "{}"): DataFrame = {
    require(size >= 1, s"parent agg size must be >= 1, got $size")
    val metricsNode = mapper.readTree(parentMetrics)
    require(metricsNode.isObject, "parentMetrics must be a JSON object of metric aggs")
    val metrics = subAggMetricCols(
      if (metricsNode.size == 0) None else Some(metricsNode),
      "parent", allowedPipelines = Set.empty)
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    parents
      .join(children.select(col(childFkCol).as("_pa_fk"))
          .where(col("_pa_fk").isNotNull),
        col(parentIdCol) === col("_pa_fk"), "left_semi")
      .where(col(bucketField).isNotNull)
      .groupBy(col(bucketField).as("key"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(desc("doc_count"), asc("key"))
      .limit(size)
  }

  private val bucketTypes =
    Set("terms", "date_histogram", "histogram", "range", "date_range",
      "ip_range", "ip_prefix")
  /** Bucket-SEQUENCE pipelines need the equal-spaced ordered axis only the
    * histogram family has (ES rejects them elsewhere too). */
  private val seqPipelineTypes =
    Set("cumulative_sum", "derivative", "moving_avg", "serial_diff", "moving_fn",
      "moving_percentiles", "cumulative_cardinality")
  /** Bucket-SHAPING pipelines operate on any bucket list — ES allows them
    * under `terms` (bucket_sort under terms is the dashboard pagination
    * idiom). `normalize` reads the whole frame but is order-independent
    * per bucket (percent_of_sum under terms is the dashboard share-of-total
    * idiom), so it lives here rather than with the sequence pipelines. */
  private val shapePipelineTypes =
    Set("bucket_script", "bucket_selector", "bucket_sort", "normalize")
  private val pipelineTypes = seqPipelineTypes ++ shapePipelineTypes

  /** Unknown keys in a bucket-agg body are a miscompile without a trace
    * (a typo'd `order` silently reverts to the default) — the same
    * fail-loud contract the query operators follow. `shard_size` and
    * `show_term_doc_count_error` are ACCEPTED no-ops: exact computation
    * makes shard approximation knobs meaningless. */
  private val bucketBodyKeys: Map[String, Set[String]] = Map(
    "terms" -> Set("field", "size", "order", "min_doc_count", "include",
      "exclude", "missing", "shard_size", "show_term_doc_count_error"),
    "date_histogram" -> Set("field", "calendar_interval", "interval",
      "fixed_interval", "min_doc_count", "extended_bounds", "offset",
      "time_zone"),
    "histogram" -> Set("field", "interval", "min_doc_count", "extended_bounds",
      "offset"),
    "range" -> Set("field", "ranges"),
    "ip_range" -> Set("field", "ranges"),
    "ip_prefix" -> Set("field", "prefix_length", "is_ipv6",
      "append_prefix_length"),
    "date_range" -> Set("field", "ranges"),
    "rare_terms" -> Set("field", "max_doc_count", "missing"),
    "multi_terms" -> Set("terms", "size"),
    "time_series" -> Set("dimensions", "size"),
    "geohex_grid" -> Set("field", "precision", "size"))

  private def one(docs: DataFrame, name: String, spec: JsonNode,
                  background: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(spec.isObject, s"aggregation '$name' must be an object")
    val subAggs = Option(spec.get("aggs")).orElse(Option(spec.get("aggregations")))
    val types = spec.fieldNames.asScala.filterNot(f => f == "aggs" || f == "aggregations").toList
    require(types.size == 1, s"aggregation '$name' must have exactly one type, got: $types")
    val (tpe, body) = (types.head, spec.get(types.head))
    bucketBodyKeys.get(tpe).foreach { allowed =>
      val unknown = body.fieldNames.asScala.toSet -- allowed
      require(unknown.isEmpty,
        s"unsupported $tpe option(s) in '$name': ${unknown.mkString(", ")}")
    }

    tpe match {
      // ---- bucket aggs: groupBy on a derived key + doc_count + sub-metrics
      case "terms" =>
        val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
        val minDoc = Option(body.get("min_doc_count")).map(_.asLong).getOrElse(1L)
        require(minDoc >= 0, s"terms '$name' min_doc_count must be >= 0")
        val k = bucketKey(tpe, name, body)
        // ES include/exclude shape the candidate TERM SET (regex = Lucene
        // full-match semantics, or an exact-value array). Applied as a row
        // predicate on the key BEFORE aggregating — it reaches the scan as
        // a pushed filter instead of post-filtering buckets, and the
        // zero-fill universe obeys the same shape
        def keyShape(optName: String): Option[Column] =
          Option(body.get(optName)).map { n =>
            if (n.isObject) {
              // {"include": {"partition": p, "num_partitions": n}} — ES's
              // terms paging for high-cardinality fields: every term
              // belongs to exactly one of n hash partitions, a request
              // reads one. DECLARED DIVERGENCE: the assignment hash is
              // this engine's (stable xxhash64), not Lucene's — the
              // contract (disjoint, complete across partitions, stable
              // across requests) is what callers rely on, and the driver
              // query proves union-completeness against the plain terms
              // oracle.
              require(optName == "include",
                s"terms '$name': partitioning lives under 'include' only")
              val unknownP = n.fieldNames.asScala.toSet --
                Set("partition", "num_partitions")
              require(unknownP.isEmpty,
                s"terms '$name' include option(s): ${unknownP.mkString(", ")}")
              val np = Option(n.get("num_partitions")).map(_.asInt)
                .getOrElse(throw new IllegalArgumentException(
                  s"terms '$name' include.partition needs num_partitions"))
              val p = Option(n.get("partition")).map(_.asInt)
                .getOrElse(throw new IllegalArgumentException(
                  s"terms '$name' include needs 'partition'"))
              require(np >= 1 && p >= 0 && p < np,
                s"terms '$name': partition must be in [0, num_partitions)")
              pmod(xxhash64(k.cast("string")), lit(np.toLong)) === p.toLong
            } else if (n.isArray) {
              val vs = n.elements.asScala.toSeq.map { e =>
                if (e.isTextual) e.asText else e.numberValue
              }
              require(vs.nonEmpty, s"terms '$name' $optName array is empty")
              k.isin(vs: _*)
            } else {
              require(n.isTextual, s"terms '$name' $optName must be a regex " +
                s"string or an array of values, got: $n")
              k.cast("string").rlike("^(?:" + n.asText + ")$")
            }
          }
        val shape = (keyShape("include") ++ keyShape("exclude").map(!_))
          .reduceOption(_ && _)
        val docsShaped = shape.map(docs.where).getOrElse(docs)
        val base = bucketed(docsShaped, k, subAggs, name,
          allowedPipelines = shapePipelineTypes, idCol = idCol)
        val filled =
          if (minDoc > 0) base.where(col("doc_count") >= minDoc)
          else {
            // min_doc_count:0 zero-fills: every term of the field across
            // the UNFILTERED store appears, query-matching or not (ES
            // dashboards rely on the stable bucket list). Empty buckets
            // carry doc_count 0 and null metrics, like ES's response.
            // The distinct-keys side is one extra hash aggregate over the
            // background — same shuffle key as the main aggregate.
            val bg = shape.map(background.where).getOrElse(background)
            bg.where(k.isNotNull).select(k.as("key")).distinct()
              .join(base, Seq("key"), "left")
              .withColumn("doc_count", coalesce(col("doc_count"), lit(0L)))
          }
        // shaping pipelines apply to the SELECTED top-size bucket frame
        // (ES runs pipelines after the terms agg emits its buckets)
        applyPipelines(filled.orderBy(termsOrder(body, subAggs, name): _*)
          .limit(size), subAggs, name)
      case "rare_terms" =>
        // the long tail: buckets with doc_count <= max_doc_count, count
        // ASC then key ASC (ES's order). DECLARED DIVERGENCE: exact counts
        // (ES uses a CuckooFilter approximation with possible false
        // positives) — exactness is the superset contract, and the plan is
        // the same one hash aggregate as terms; the filter prunes AFTER
        // the combine, so no extra pass
        val maxDoc = Option(body.get("max_doc_count")).map(_.asLong).getOrElse(1L)
        require(maxDoc >= 1, s"rare_terms '$name' max_doc_count must be >= 1")
        bucketed(docs, bucketKey("terms", name, body), subAggs, name)
          .where(col("doc_count") <= maxDoc)
          .orderBy(asc("doc_count"), asc("key"))
      case "multi_terms" =>
        // composite-key terms: one bucket per distinct field-value TUPLE,
        // default order _count desc then keys asc, size-capped. Output one
        // column per source field (the flat analog of ES's key array) —
        // same one-hash-aggregate plan, the grouping key just widens
        val termsArr = Option(body.get("terms")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            s"multi_terms '$name' needs a 'terms' array"))
        val fields = termsArr.elements.asScala.toSeq.map { t =>
          val f = Option(t.get("field")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              s"multi_terms '$name' sources need a 'field'"))
          val unknownT = t.fieldNames.asScala.toSet - "field"
          require(unknownT.isEmpty,
            s"unsupported multi_terms source option(s): ${unknownT.mkString(", ")}")
          f
        }
        require(fields.size >= 2,
          s"multi_terms '$name' needs at least two terms sources (use terms for one)")
        val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
        val metrics = subAggMetricCols(subAggs, name, Set.empty)
        val aggCols = count(lit(1)).as("doc_count") +: metrics
        val nonNull = fields.map(col(_).isNotNull).reduce(_ && _)
        docs.where(nonNull)
          .groupBy(fields.map(f => col(f)): _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .orderBy(desc("doc_count") +: fields.map(asc): _*)
          .limit(size)
      case "composite" => composite(docs, name, body, subAggs)
      case "filters" => filtersAgg(docs, name, body, subAggs)
      case "adjacency_matrix" => adjacencyMatrix(docs, name, body, subAggs)
      case "auto_date_histogram" => autoDateHistogram(docs, name, body, subAggs)
      case "filter" =>
        // single-filter bucket: ONE row of doc_count + metrics over docs
        // matching the embedded query — the body IS a query operator
        val q = mapper.createObjectNode()
        q.set[JsonNode]("query", body)
        val pred = QueryCompiler.compile(q.toString, Int.MaxValue).predicate
        val ms = count(lit(1)).as("doc_count") +:
          subAggMetricCols(subAggs, name, allowedPipelines = Set.empty)
        docs.where(pred).agg(ms.head, ms.tail: _*)
      case "variable_width_histogram" =>
        // ES: streaming 1-D clustering into ~`buckets` clusters —
        // approximate AND order-dependent by design. DECLARED DIVERGENCE:
        // deterministic equal-frequency buckets from exact quantile
        // boundaries. `buckets` must be a power of two (2..32): dyadic
        // quantile fractions interpolate to exact IEEE doubles, so bucket
        // assignment is bit-identical on any engine — a non-dyadic
        // boundary could flip a row at the edge. Two passes, both
        // scale-safe: one aggregate for the boundary array (broadcast as a
        // 1-row join — never collected, never a global sort/ntile window),
        // then the usual hash aggregate on the derived bucket index.
        // Output per bucket: key = centroid (ES's cluster key), min, max,
        // doc_count.
        val unknownV = body.fieldNames.asScala.toSet -- Set("field", "buckets")
        require(unknownV.isEmpty,
          s"unsupported variable_width_histogram option(s) in '$name': ${unknownV.mkString(", ")}")
        val fV = Option(body.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"variable_width_histogram '$name' needs a 'field'"))
        val nB = Option(body.get("buckets")).map { n =>
          require(n.isIntegralNumber, s"variable_width_histogram '$name' buckets must be an integer")
          n.asInt
        }.getOrElse(4)
        require(nB >= 2 && nB <= 32 && (nB & (nB - 1)) == 0,
          s"variable_width_histogram '$name' buckets must be a power of two " +
            s"in 2..32 (dyadic quantile boundaries stay exact), got $nB")
        val vV = col(fV).cast("double")
        val fracs = (1 until nB).map(i => i.toDouble / nB)
        val bounds = docs.where(vV.isNotNull)
          .agg(percentile(vV, typedLit(fracs)).as("_vwh_bounds"))
        docs.where(vV.isNotNull)
          .crossJoin(broadcast(bounds))
          .withColumn("_vwh_bucket",
            size(filter(col("_vwh_bounds"), bCol => bCol <= vV)))
          .groupBy(col("_vwh_bucket"))
          .agg(avg(vV).as("key"), min(vV).as("min"), max(vV).as("max"),
            count(lit(1)).as("doc_count"))
          .drop("_vwh_bucket")
          .orderBy(asc("key"))
      case "global" =>
        // the UNFILTERED store, ignoring the body's query — ES's "compare
        // my filtered slice against everything" bucket
        require(body.isObject && body.size == 0,
          s"global '$name' takes an empty body, got: $body")
        val ms = count(lit(1)).as("doc_count") +:
          subAggMetricCols(subAggs, name, allowedPipelines = Set.empty)
        background.agg(ms.head, ms.tail: _*)
      case "missing" =>
        // docs missing the field — one count row, like ES's missing bucket
        val f = Option(body.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(s"missing '$name' needs a 'field'"))
        docs.where(col(f).isNull).agg(count(lit(1)).as("doc_count"))
      case "nested" =>
        // {"nested": {"path": "p"}} — one row per ARRAY ELEMENT of the
        // array-of-struct column `p` (ES nested doc counting). The explode
        // replaces the array column IN PLACE, so inner aggs address
        // element fields as ordinary "p.field" struct access while parent
        // columns (and the parent id, for reverse_nested) stay visible.
        // A generator in a project — no shuffle of its own; whatever
        // shuffle follows belongs to the sub-agg.
        val unknownNe = body.fieldNames.asScala.toSet - "path"
        require(unknownNe.isEmpty,
          s"unsupported nested option(s) in '$name': ${unknownNe.mkString(", ")}")
        val nPath = Option(body.get("path")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"nested '$name' needs 'path'"))
        require(docs.columns.contains(nPath),
          s"nested '$name': path '$nPath' is not a column of the frame")
        val exploded = docs.withColumn(nPath, explode(col(nPath)))
        subAggs match {
          case Some(sa) =>
            val subEntries = sa.fieldNames.asScala.toSeq.map(sn => sn -> sa.get(sn))
            require(subEntries.size == 1,
              s"nested '$name' takes exactly one sub-agg (declared subset), " +
                s"got ${subEntries.size}")
            val (subName, subSpec) = subEntries.head
            one(exploded, subName, subSpec, exploded, idCol)
          case None => exploded.agg(count(lit(1)).as("doc_count"))
        }
      case "reverse_nested" =>
        // {} under a nested frame — back to PARENT granularity: the
        // distinct parent-doc count (ES's reverse_nested doc_count).
        // Also valid as a per-bucket sub-agg of terms under nested (see
        // [[subAggMetricCols]]).
        require(body.isObject && body.size == 0,
          s"reverse_nested '$name' takes an empty body (declared subset)")
        docs.agg(count_distinct(col(idCol)).as("doc_count"))
      case "geo_distance" =>
        // {"geo_distance": {"field": f, "origin": {lat,lon}, "ranges":
        //  [{to}, {from,to}, {from}][, "unit": "km"]}} — ring buckets
        // around the origin: the `range` fold applied to the haversine
        // distance column (meters scaled to `unit`, default m). Labels
        // "from-to" with * for open ends, from inclusive / to exclusive;
        // first matching range wins for overlaps (the same declared
        // divergence as `range`). One codegen'd key, one hash aggregate.
        val unknownGd = body.fieldNames.asScala.toSet --
          Set("field", "origin", "ranges", "unit")
        require(unknownGd.isEmpty,
          s"unsupported geo_distance option(s) in '$name': ${unknownGd.mkString(", ")}")
        val gdf = Option(body.get("field")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"geo_distance '$name' needs a 'field'"))
        val (oLat, oLon) = QueryCompiler.Geo.latLonOf(body.get("origin"),
          s"geo_distance '$name' origin")
        val unitScale = Option(body.get("unit")).map(_.asText).getOrElse("m") match {
          case "m" => 1.0; case "km" => 1000.0; case "mi" => 1609.344
          case "ft" => 0.3048; case "yd" => 0.9144; case "nmi" => 1852.0
          case other => throw new IllegalArgumentException(
            s"geo_distance '$name': unsupported unit '$other'")
        }
        val distU =
          QueryCompiler.Geo.haversineMeters(col(gdf), oLat, oLon) / lit(unitScale)
        val rangesGd = Option(body.get("ranges")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            s"geo_distance '$name' needs 'ranges'"))
          .elements.asScala.toSeq
        require(rangesGd.nonEmpty, s"geo_distance '$name' has no ranges")
        val gdKey = rangesGd.foldLeft(lit(null).cast("string")) { (acc, r) =>
          val from = Option(r.get("from")).map(_.asDouble)
          val to = Option(r.get("to")).map(_.asDouble)
          require(from.isDefined || to.isDefined,
            s"geo_distance '$name' bucket needs from or to")
          val label = Option(r.get("key")).map(_.asText).getOrElse(
            s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}")
          val in = (from.map(distU >= _), to.map(distU < _)) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => lit(true)
          }
          when(acc.isNotNull, acc).otherwise(when(in, lit(label)))
        }
        bucketed(docs.where(col(gdf).isNotNull), gdKey, subAggs, name)
          .orderBy(asc("key"))
      case "geohash_grid" =>
        // {"geohash_grid": {"field": f, "precision": 1..12, "size": n}} —
        // classic geohash cells. The hash is EXACT integer math end to
        // end: quantize lat/lon to their bit budgets (lon gets the extra
        // bit at odd total widths), interleave with the shift-or spread
        // trick (lon takes the MSB), then map 5-bit groups through the
        // base32 alphabet — every step a builtin bitwise/substring
        // expression, fully codegen'd, one hash aggregate, and the same
        // formula states verbatim in SQL for the oracle. Ordered count
        // desc then key asc (ES's order).
        val unknownGh = body.fieldNames.asScala.toSet --
          Set("field", "precision", "size")
        require(unknownGh.isEmpty,
          s"unsupported geohash_grid option(s) in '$name': ${unknownGh.mkString(", ")}")
        val ghf = Option(body.get("field")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"geohash_grid '$name' needs a 'field'"))
        val ghp = Option(body.get("precision")).map { n =>
          require(n.isIntegralNumber && n.asInt >= 1 && n.asInt <= 12,
            s"geohash_grid '$name' precision must be 1..12, got: $n")
          n.asInt
        }.getOrElse(5)
        val ghSize = Option(body.get("size")).map(_.asInt).getOrElse(10000)
        require(ghSize >= 1, s"geohash_grid '$name' size must be >= 1")
        // the cell math lives in GeoGrid — shared verbatim with the
        // geo_grid query so bucket keys and cell membership always agree
        val ghKey = GeoGrid.geohashKey(col(ghf), ghp)
        bucketed(docs.where(col(ghf).isNotNull), ghKey, subAggs, name)
          .orderBy(desc("doc_count"), asc("key")).limit(ghSize)
      case "geotile_grid" =>
        // {"geotile_grid": {"field": f, "precision": z, "size": n}} —
        // web-mercator tile buckets keyed "z/x/y" (ES's key format).
        // Latitude is clipped to ES's mercator bound ±85.05112878 before
        // the projection (keeps the math far from the pole singularity);
        // the key is pure codegen'd double math, the agg is the same one
        // hash aggregate as terms, ordered count desc then key asc.
        val unknownG = body.fieldNames.asScala.toSet --
          Set("field", "precision", "size")
        require(unknownG.isEmpty,
          s"unsupported geotile_grid option(s) in '$name': ${unknownG.mkString(", ")}")
        val gf = Option(body.get("field")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"geotile_grid '$name' needs a 'field'"))
        val z = Option(body.get("precision")).map { n =>
          require(n.isIntegralNumber && n.asInt >= 0 && n.asInt <= 29,
            s"geotile_grid '$name' precision must be 0..29, got: $n")
          n.asInt
        }.getOrElse(7)
        val gSize = Option(body.get("size")).map(_.asInt).getOrElse(10000)
        require(gSize >= 1, s"geotile_grid '$name' size must be >= 1")
        val gKey = GeoGrid.geotileKey(col(gf), z)
        bucketed(docs.where(col(gf).isNotNull), gKey, subAggs, name)
          .orderBy(desc("doc_count"), asc("key")).limit(gSize)
      case "geohex_grid" =>
        // {"geohex_grid": {"field": f, "precision": z, "size": n}} — ES's
        // hexagonal grid buckets (8.1+). DECLARED DIVERGENCE: ES keys are
        // H3 cell ids (icosahedral projection, aperture-7 hierarchy); this
        // engine buckets on a flat axial hex lattice over the lon/lat plane
        // (pointy-top hexes, circumradius 45/2^z degrees) keyed "z/q/r" —
        // the contract callers rely on (every point in exactly one
        // roughly-equal hex cell, deterministic across runs, finer with
        // rising precision) holds; the cell ids are this engine's, not
        // H3's. Same plan as geotile: codegen'd double math for the key,
        // one hash aggregate, count-desc/key-asc, size cap. The cube-round
        // step uses floor(v+0.5) (not half-even round) so an external
        // checker reproduces it with plain SQL.
        val hf = Option(body.get("field")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"geohex_grid '$name' needs a 'field'"))
        val hz = Option(body.get("precision")).map { n =>
          require(n.isIntegralNumber && n.asInt >= 0 && n.asInt <= 15,
            s"geohex_grid '$name' precision must be 0..15, got: $n")
          n.asInt
        }.getOrElse(6)
        val hSize = Option(body.get("size")).map(_.asInt).getOrElse(10000)
        require(hSize >= 1, s"geohex_grid '$name' size must be >= 1")
        val hKey = GeoGrid.geohexKey(col(hf), hz)
        bucketed(docs.where(col(hf).isNotNull), hKey, subAggs, name)
          .orderBy(desc("doc_count"), asc("key")).limit(hSize)
      case "time_series" =>
        // ES TSDB `time_series` agg: one bucket per time series, i.e. per
        // distinct dimension-field tuple (_tsid). DECLARED DIVERGENCE:
        // ES derives the dimension set from index-mapping flags
        // (time_series_dimension: true); this mapping-free engine carries
        // it in the body as `dimensions: [f1, f2]`. Output one column per
        // dimension (the flat analog of ES's keyed tsid) + doc_count +
        // metric sub-aggs — one hash aggregate, buckets ordered by the
        // dimension tuple ascending (ES's tsid order), size-capped
        // (ES default 10000). Rows with a null dimension belong to no
        // series and drop, as in ES.
        val dimsArr = Option(body.get("dimensions")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            s"time_series '$name' needs a 'dimensions' array " +
              "(mapping-free analog of time_series_dimension fields)"))
        val dims = dimsArr.elements.asScala.toSeq.map { d =>
          require(d.isTextual, s"time_series '$name' dimensions must be field names")
          d.asText
        }
        require(dims.nonEmpty, s"time_series '$name' needs at least one dimension")
        val tsSize = Option(body.get("size")).map(_.asInt).getOrElse(10000)
        require(tsSize >= 1, s"time_series '$name' size must be >= 1")
        val tsMetrics = subAggMetricCols(subAggs, name, Set.empty)
        val tsAggCols = count(lit(1)).as("doc_count") +: tsMetrics
        val tsNonNull = dims.map(col(_).isNotNull).reduce(_ && _)
        docs.where(tsNonNull)
          .groupBy(dims.map(col): _*)
          .agg(tsAggCols.head, tsAggCols.tail: _*)
          .orderBy(dims.map(asc): _*)
          .limit(tsSize)
      case "categorize_text" =>
        // ES ML log-pattern categorization. DECLARED deterministic analog:
        // the category key is the doc's token-prefix signature — lowercase,
        // digits/punctuation collapsed to separators, first
        // `max_matched_tokens` tokens joined by spaces — so "Error 42 on
        // node7" and "Error 99 on node3" land in one bucket. Pure string
        // expressions (codegen'd, map-side) then the capped terms
        // hash-aggregate; no ML state, no driver round-trip.
        val unknownCt = body.fieldNames.asScala.toSet --
          Set("field", "size", "max_matched_tokens")
        require(unknownCt.isEmpty,
          s"unsupported categorize_text option(s) in '$name': ${unknownCt.mkString(", ")} " +
            "(field/size/max_matched_tokens — declared subset)")
        val fCt = Option(body.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"categorize_text '$name' needs a 'field'"))
        val sizeCt = Option(body.get("size")).map(_.asInt).getOrElse(10)
        require(sizeCt >= 1, s"categorize_text '$name' size must be >= 1")
        val maxTok = Option(body.get("max_matched_tokens")).map(_.asInt).getOrElse(5)
        require(maxTok >= 1, s"categorize_text '$name' max_matched_tokens must be >= 1")
        val toksCt = filter(
          split(regexp_replace(lower(col(fCt)), "[^a-z]+", " "), " "),
          t => t =!= "")
        val keyCt = array_join(slice(toksCt, 1, maxTok), " ")
        docs.where(col(fCt).isNotNull)
          .select(keyCt.as("key"))
          .where(col("key") =!= "")
          .groupBy("key").agg(count(lit(1)).as("doc_count"))
          .orderBy(desc("doc_count"), asc("key"))
          .limit(sizeCt)
      case "significant_terms" => significantTerms(docs, background, name, body)
      case "significant_text" => significantText(docs, background, name, body)
      case "sampler" | "diversified_sampler" =>
        // ES samples the top-relevance docs per shard before running
        // sub-aggs; the aggs path carries no relevance score, so the
        // DECLARED deterministic analog samples the first shard_size docs
        // in id order (one TakeOrderedAndProject — bounded, reproducible).
        // diversified_sampler first caps docs per `field` value
        // (max_docs_per_value, default 1) via a key-partitioned window —
        // bounded per value, never global. Declared subset: exactly ONE
        // sub-agg, whose frame is the result.
        val allowed =
          if (tpe == "sampler") Set("shard_size")
          else Set("shard_size", "field", "max_docs_per_value")
        val unknownS = body.fieldNames.asScala.toSet -- allowed
        require(unknownS.isEmpty,
          s"unsupported $tpe option(s) in '$name': ${unknownS.mkString(", ")}")
        val shardSize = Option(body.get("shard_size")).map(_.asInt).getOrElse(100)
        require(shardSize >= 1, s"$tpe '$name' shard_size must be >= 1")
        val pool =
          if (tpe == "sampler") docs
          else {
            val f = Option(body.get("field")).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                s"diversified_sampler '$name' needs a 'field'"))
            val maxPer = Option(body.get("max_docs_per_value")).map(_.asInt).getOrElse(1)
            require(maxPer >= 1, s"$tpe '$name' max_docs_per_value must be >= 1")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(f)).orderBy(asc(idCol))
            docs.withColumn("__dv_rank", row_number().over(w))
              .where(col("__dv_rank") <= maxPer).drop("__dv_rank")
          }
        val sample = pool.orderBy(asc(idCol)).limit(shardSize)
        val subEntries = subAggs.toSeq.flatMap(n =>
          n.fieldNames.asScala.toSeq.map(sn => sn -> n.get(sn)))
        require(subEntries.size == 1,
          s"$tpe '$name' needs exactly one sub-agg (declared subset), " +
            s"got ${subEntries.size}")
        val (subName, subSpec) = subEntries.head
        one(sample, subName, subSpec, background, idCol)
      case "random_sampler" =>
        // ES 8.2 probability sampling before the sub-agg. ES hashes doc
        // ids against the probability; the DECLARED deterministic analog
        // keeps a doc when an LCG scramble of its NUMERIC id lands under
        // probability·1e6 — a stateless map-side filter (no shuffle, no
        // per-shard state), reproducible at any partitioning and cluster
        // size, and expressible in plain integer SQL (oracle parity —
        // xxhash64 exists only on the Spark side). All intermediates stay
        // < 1e6·1.2e9 « 2^63: no overflow in either engine. `seed` shifts
        // the scramble additively, defaulting to 0 like ES's absent seed.
        val unknownR = body.fieldNames.asScala.toSet -- Set("probability", "seed")
        require(unknownR.isEmpty,
          s"unsupported random_sampler option(s) in '$name': ${unknownR.mkString(", ")}")
        val prob = Option(body.get("probability")).filter(_.isNumber).map(_.asDouble)
          .getOrElse(throw new IllegalArgumentException(
            s"random_sampler '$name' needs a numeric 'probability'"))
        // ES allows (0, 0.5] or exactly 1 (a high sampling rate biases
        // worse than no sampling; same contract here)
        require((prob > 0 && prob <= 0.5) || prob == 1.0,
          s"random_sampler '$name' probability must be in (0, 0.5] or 1, got $prob")
        val seed = Option(body.get("seed")).map(_.asLong).getOrElse(0L)
        require(seed >= 0 && seed <= 1000000L,
          s"random_sampler '$name' seed must be in [0, 1e6], got $seed")
        val keep = pmod(
          (pmod(col(idCol).cast("long"), lit(1000003L)) + lit(seed)) *
            lit(1103515245L) + lit(12345L), lit(1000000L)) <
          lit((prob * 1e6).toLong)
        val rsample = if (prob == 1.0) docs else docs.where(keep)
        val subEntriesR = subAggs.toSeq.flatMap(n =>
          n.fieldNames.asScala.toSeq.map(sn => sn -> n.get(sn)))
        require(subEntriesR.size == 1,
          s"random_sampler '$name' needs exactly one sub-agg (declared subset), " +
            s"got ${subEntriesR.size}")
        val (subNameR, subSpecR) = subEntriesR.head
        one(rsample, subNameR, subSpecR, background, idCol)
      case "date_histogram" | "histogram" =>
        // one level of BUCKET nesting: an inner `terms` sub-agg turns each
        // outer bucket into its own top-N breakdown ("per day, top event
        // types" — the dominant two-level ES shape)
        innerTermsOf(subAggs, name) match {
          case Some((innerName, innerSpec)) =>
            nestedTerms(docs, bucketKey(tpe, name, body), name, innerName, innerSpec)
          case None =>
            // key order is semantic for the histogram family, which is
            // what makes bucket-sequence pipeline aggs well-defined here.
            // min_doc_count: our default is 1 (only materialized buckets —
            // a DECLARED divergence from ES's 0); 0 opts into the
            // continuous axis via zeroFillFrames, >1 thins
            // a fixed_interval date_histogram carries its bucket width to
            // `rate` sub-aggs (compile-time constant — no extra pass)
            val rateIv =
              if (tpe == "date_histogram")
                Option(body.get("fixed_interval"))
                  .map(n => fixedIntervalMicros(n.asText, name))
              else None
            val base = bucketed(docs, bucketKey(tpe, name, body), subAggs,
              name, allowedPipelines = pipelineTypes, histoIntervalUs = rateIv)
            val minDoc = Option(body.get("min_doc_count")).map(_.asLong).getOrElse(1L)
            require(minDoc >= 0, s"'$tpe' '$name' min_doc_count must be >= 0")
            val filled =
              if (minDoc == 0) zeroFillFrames(base, tpe, name, body)
              else if (minDoc > 1) base.where(col("doc_count") >= minDoc)
              else base
            val withCc = applyCumulativeCardinality(docs,
              bucketKey(tpe, name, body), filled, subAggs, name)
            applyPipelines(withCc.orderBy(asc("key")), subAggs, name)
        }
      case t if bucketTypes.contains(t) =>
        bucketed(docs, bucketKey(tpe, name, body), subAggs, name)
          .orderBy(asc("key"))

      case "frequent_item_sets" =>
        // ES 8.4's frequent_item_sets over single-valued keyword fields:
        // an itemset = one value per field for a SUBSET of the declared
        // fields (size >= minimum_set_size); a doc supports the set when
        // it carries every value. With m declared fields there are at most
        // 2^m − 1 subsets per doc, so the per-row explosion is bounded by
        // the field list, never the corpus — ONE scan builds the
        // (itemset, doc) pairs, one hash aggregate counts them (the
        // Apriori candidate walk collapses into a single pass because the
        // field list, not the value universe, bounds the lattice).
        // Support = doc_count / corpus size rides in via the aggregate-
        // then-broadcast rule.
        val unknownFis = body.fieldNames.asScala.toSet --
          Set("fields", "minimum_set_size", "minimum_support", "size")
        require(unknownFis.isEmpty,
          s"unsupported frequent_item_sets option(s) in '$name': ${unknownFis.mkString(", ")}")
        val fieldNodes = Option(body.get("fields")).filter(_.isArray)
          .map(_.elements.asScala.toSeq)
          .getOrElse(throw new IllegalArgumentException(
            s"frequent_item_sets '$name' needs 'fields'"))
        val fields = fieldNodes.map { fn =>
          val f = Option(fn.get("field")).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              s"frequent_item_sets '$name': each fields entry needs 'field'"))
          val unknownF = fn.fieldNames.asScala.toSet -- Set("field")
          require(unknownF.isEmpty,
            s"frequent_item_sets '$name': unsupported field option(s) ${unknownF.mkString(", ")}")
          f
        }.sorted
        require(fields.nonEmpty && fields.size <= 8,
          s"frequent_item_sets '$name': 1..8 fields (got ${fields.size})")
        val minSet = Option(body.get("minimum_set_size")).map(_.asInt).getOrElse(1)
        require(minSet >= 1 && minSet <= fields.size,
          s"frequent_item_sets '$name': minimum_set_size out of range")
        val minSupport = Option(body.get("minimum_support")).map(_.asDouble).getOrElse(0.1)
        require(minSupport > 0 && minSupport <= 1,
          s"frequent_item_sets '$name': minimum_support must be in (0, 1]")
        val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
        require(size > 0, s"frequent_item_sets '$name': size must be > 0")
        val combos = (minSet to fields.size).flatMap(k =>
          fields.combinations(k).map(_.toSeq))
        // per-row: one "f1=v1,f2=v2" key per subset whose fields are all
        // non-null (null field => that subset contributes nothing)
        val comboCols = combos.map { fs =>
          val allPresent = fs.map(col(_).isNotNull).reduce(_ && _)
          val keyStr = concat_ws(",",
            fs.map(f => concat(lit(s"$f="), col(f).cast("string"))): _*)
          when(allPresent,
            struct(keyStr.as("key"), lit(fs.size).as("set_size")))
        }
        val total = docs.agg(count(lit(1)).as("_fis_total"))
        docs.select(explode(array(comboCols: _*)).as("_it"))
          .where(col("_it").isNotNull)
          .groupBy(col("_it.key").as("key"), col("_it.set_size").as("set_size"))
          .agg(count(lit(1)).as("doc_count"))
          .crossJoin(broadcast(total))
          .withColumn("support",
            col("doc_count").cast("double") / col("_fis_total"))
          .where(col("support") >= minSupport)
          .drop("_fis_total")
          .orderBy(desc("doc_count"), asc("key"))
          .limit(size)

      case "median_absolute_deviation" =>
        // MAD = median(|x − median(x)|): two exact sort-based aggregates —
        // the inner median rides to every row via a broadcast 1-row stats
        // join (the aggregate-then-broadcast rule; never a global window).
        // Declared divergences: EXACT (ES approximates via t-digest), and
        // top-level only (fail-loud under buckets, see [[metric]]).
        val f = Option(body.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"median_absolute_deviation '$name' needs a 'field'"))
        val med = docs.agg(percentile(col(f), lit(0.5)).as("_mad_median"))
        docs.crossJoin(broadcast(med))
          .agg(percentile(abs(col(f) - col("_mad_median")), lit(0.5)).as(name))

      // ---- top-level metric aggs: one global aggregate row
      case _ =>
        val ms = metric(tpe, name, body)
        docs.agg(ms.head, ms.tail: _*)
    }
  }

  /** `significant_terms`: which values of `field` are over-represented in
    * the query's result set vs the whole corpus — ES's "what is distinctive
    * here" agg, scored with the JLH heuristic
    * `(fg% − bg%) · (fg% / bg%)` over DOCUMENT frequencies. Both sides are
    * hash aggregates; the two scalar totals ride in via a broadcast 1-row
    * stats join (the aggregate-then-broadcast rule — never a global
    * window). Declared subset: exact counts (no shard approximation),
    * JLH only. */
  /** The significance heuristic a body selects: `jlh` (default) or
    * `chi_square` — the key's presence picks it, like ES. */
  private def sigHeuristic(name: String, body: JsonNode): String = {
    val picked = Seq("jlh", "chi_square").filter(body.has)
    require(picked.size <= 1,
      s"'$name': at most one significance heuristic, got ${picked.mkString(", ")}")
    picked.foreach { h =>
      require(body.get(h).isObject && body.get(h).size == 0,
        s"'$name' $h takes an empty object (declared subset)")
    }
    picked.headOption.getOrElse("jlh")
  }

  private def significantTerms(fg: DataFrame, bg: DataFrame, name: String,
                               body: JsonNode): DataFrame = {
    val unknownK = body.fieldNames.asScala.toSet --
      Set("field", "size", "jlh", "chi_square", "background_filter")
    require(unknownK.isEmpty,
      s"unsupported significant_terms option(s) in '$name': ${unknownK.mkString(", ")}")
    val f = Option(body.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(
        s"significant_terms '$name' needs a 'field'"))
    val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
    // ES background_filter: "distinctive vs WHICH population" — narrows
    // the background set with a DSL clause (the caller keeps fg ⊆ bg,
    // like ES expects; the inner count join drops strays either way)
    val bgF = Option(body.get("background_filter")).map { fq =>
      bg.where(QueryCompiler.compile(s"""{"query": ${fq.toString}}""",
        Int.MaxValue, "doc_id").predicate)
    }.getOrElse(bg)
    val fgCounts = fg.where(col(f).isNotNull)
      .groupBy(col(f).as("key")).agg(count(lit(1)).as("doc_count"))
    val bgCounts = bgF.where(col(f).isNotNull)
      .groupBy(col(f).as("key")).agg(count(lit(1)).as("bg_count"))
    val fgTotal = fg.where(col(f).isNotNull).agg(count(lit(1)).as("_fg_total"))
    val bgTotal = bgF.where(col(f).isNotNull).agg(count(lit(1)).as("_bg_total"))
    sigScored(fgCounts, bgCounts, fgTotal, bgTotal, size,
      sigHeuristic(name, body))
  }

  /** `significant_text`: [[significantTerms]] over the ANALYZED tokens of
    * a text field — "which words are distinctive in the matching docs".
    * Document frequencies (each doc contributes a token once), the same
    * JLH scoring, the same two hash aggregates + broadcast totals; the
    * explode is vocabulary-bounded per doc, never a corpus blow-up. */
  private def significantText(fg: DataFrame, bg: DataFrame, name: String,
                              body: JsonNode): DataFrame = {
    val unknownK = body.fieldNames.asScala.toSet --
      Set("field", "size", "jlh", "chi_square")
    require(unknownK.isEmpty,
      s"unsupported significant_text option(s) in '$name': ${unknownK.mkString(", ")}")
    val f = Option(body.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(
        s"significant_text '$name' needs a 'field'"))
    val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
    def toks(df: DataFrame) = graft.pipeline.Spread
      .scanFloor(df.where(col(f).isNotNull), col(f))
      .select(explode(array_distinct(WordRuns.column(col(f)))).as("key"))
    val fgCounts = toks(fg).groupBy("key").agg(count(lit(1)).as("doc_count"))
    val bgCounts = toks(bg).groupBy("key").agg(count(lit(1)).as("bg_count"))
    val fgTotal = fg.where(col(f).isNotNull).agg(count(lit(1)).as("_fg_total"))
    val bgTotal = bg.where(col(f).isNotNull).agg(count(lit(1)).as("_bg_total"))
    sigScored(fgCounts, bgCounts, fgTotal, bgTotal, size,
      sigHeuristic(name, body))
  }

  /** Shared significance tail: JLH `(fg% − bg%) · (fg% / bg%)` or the
    * textbook 2×2 chi-square over doc frequencies (declared analog of
    * ES's ChiSquare heuristic; only over-represented terms surface —
    * include_negatives:false semantics). Totals ride in as broadcast
    * 1-row joins; every quantity is an integer-exact double, so the
    * statistic reproduces bit-for-bit in the external checker. */
  private def sigScored(fgCounts: DataFrame, bgCounts: DataFrame,
                        fgTotal: DataFrame, bgTotal: DataFrame,
                        size: Int, heuristic: String = "jlh"): DataFrame = {
    val base = fgCounts
      .join(bgCounts, Seq("key")) // every fg key exists in bg (fg ⊆ bg)
      .crossJoin(broadcast(fgTotal)).crossJoin(broadcast(bgTotal))
      .withColumn("_fg_pct", col("doc_count").cast("double") / col("_fg_total"))
      .withColumn("_bg_pct", col("bg_count").cast("double") / col("_bg_total"))
      .where(col("_fg_pct") > col("_bg_pct")) // only over-represented terms signify
    val scored = heuristic match {
      case "jlh" =>
        base.withColumn("score",
          (col("_fg_pct") - col("_bg_pct")) * (col("_fg_pct") / col("_bg_pct")))
      case "chi_square" =>
        // 2×2 contingency: O11 = term∧subset, O12 = ¬term∧subset,
        // O21 = term∧¬subset, O22 = ¬term∧¬subset (background superset)
        val o11 = col("doc_count").cast("double")
        val o12 = col("_fg_total") - col("doc_count")
        val o21 = (col("bg_count") - col("doc_count")).cast("double")
        val o22 = col("_bg_total") - col("_fg_total") -
          (col("bg_count") - col("doc_count"))
        val d = o11 * o22 - o12 * o21
        base.withColumn("score",
          col("_bg_total") * d * d /
            ((o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22)))
      case other => throw new IllegalArgumentException(
        s"unsupported significance heuristic '$other'")
    }
    scored
      .select(col("key"), col("doc_count"), col("bg_count"), col("score"))
      .orderBy(desc("score"), asc("key"))
      .limit(size)
  }

  /** `significant_text` served from index stores — the store twin of the
    * in-query form: the background statistics it needs are EXACTLY what
    * the text index already materializes (bg doc frequency per token =
    * postings row count — rows are unique per (token, field, doc) with
    * each doc contributing a distinct-token set, the same `array_distinct`
    * the scan form applies; bg total = the norms table's row count for the
    * field), so only the FOREGROUND pass still reads text — and fg is the
    * query's hit set, not the corpus. The scan form re-tokenizes the whole
    * background corpus per call; at 100 TB that is the difference between
    * a hit-sized job and a corpus job. Output is identical to the
    * in-query `significant_text` on the store's own corpus (same JLH /
    * chi-square arithmetic via the shared scoring tail; pinned in
    * AggsSpec and against `q_agg_significant_text`'s oracle), with one
    * declared edge: [[TextIndex.buildNorms]] indexes a NULL field as the
    * empty string (one norms row per doc regardless), so on a corpus WITH
    * null fields the scan form's is-not-null bg total differs — filter
    * nulls out before building the stores if that distinction matters. */
  def significantTextFromStore(fg: DataFrame, postings: DataFrame,
                               norms: DataFrame, field: String,
                               size: Int = 10,
                               heuristic: String = "jlh"): DataFrame = {
    val fgCounts = fg.where(col(field).isNotNull)
      .select(explode(array_distinct(WordRuns.column(col(field)))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("doc_count"))
    val bgCounts = postings.where(col("field") === field)
      .groupBy(col("token").as("key"))
      .agg(count(lit(1)).as("bg_count"))
    val fgTotal = fg.where(col(field).isNotNull)
      .agg(count(lit(1)).as("_fg_total"))
    val bgTotal = norms.where(col("field") === field)
      .agg(count(lit(1)).as("_bg_total"))
    sigScored(fgCounts, bgCounts, fgTotal, bgTotal, size, heuristic)
  }

  /** `filters` aggregation: one named bucket per sub-query, each with
    * doc_count + metric sub-aggs — compiled as ONE single-pass conditional
    * aggregate (`count(when(pred, 1))` / `avg(when(pred, f))` …): every
    * named filter is a column of the same scan, so N dashboard buckets
    * cost one corpus pass and zero unions, then the 1-row wide result
    * unpivots to (key, doc_count, metrics) rows driver-cheap. Buckets
    * return in name order (deterministic; ES returns insertion order). */
  private def filtersAgg(docs: DataFrame, name: String, body: JsonNode,
                         subAggs: Option[JsonNode]): DataFrame = {
    val unknownK = body.fieldNames.asScala.toSet --
      Set("filters", "other_bucket", "other_bucket_key")
    require(unknownK.isEmpty,
      s"unsupported filters option(s) in '$name': ${unknownK.mkString(", ")}")
    val fNode = Option(body.get("filters")).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException(
        s"filters '$name' needs a 'filters' object of named queries"))
    require(fNode.size > 0, s"filters '$name' has no named filters")
    val named = fNode.fieldNames.asScala.toSeq.sorted.map { fn =>
      val q = mapper.createObjectNode()
      q.set[JsonNode]("query", fNode.get(fn))
      fn -> QueryCompiler.compile(q.toString, Int.MaxValue).predicate
    }
    // ES other_bucket: a catch-all bucket of rows matching NO named filter
    // — one more guarded column of the same single pass. other_bucket_key
    // names it (and implies it, per ES); null-safe so a row where every
    // predicate is NULL still lands in the catch-all
    val otherKey = Option(body.get("other_bucket_key")).map { n =>
      require(n.isTextual && n.asText.nonEmpty,
        s"filters '$name' other_bucket_key must be a non-empty string")
      n.asText
    }.orElse {
      if (Option(body.get("other_bucket")).exists(_.asBoolean)) Some("_other_")
      else None
    }
    otherKey.foreach { ok =>
      require(!named.exists(_._1 == ok),
        s"filters '$name' other_bucket_key '$ok' collides with a named filter")
    }
    val preds = named ++ otherKey.map { ok =>
      ok -> !named.map { case (_, p) => coalesce(p, lit(false)) }.reduce(_ || _)
    }
    val metricSpecs = subAggs.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.map { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        require(ts.size == 1 && !bucketTypes.contains(ts.head)
            && !pipelineTypes.contains(ts.head) && ts.head != "filters",
          s"sub-agg '$sub' of '$name' must be a single metric")
        (sub, ts.head, n.get(sub).get(ts.head))
      }
    }
    // single-column metrics only (stats/percentiles excluded — declared):
    // each metric of each filter is one guarded aggregate column
    def metricCol(tpe: String, masked: Column, sub: String): Column = tpe match {
      case "avg" => avg(masked)
      case "sum" => sum(masked)
      case "min" => min(masked)
      case "max" => max(masked)
      case "value_count" => count(masked)
      case "cardinality" => count_distinct(masked)
      case other => throw new IllegalArgumentException(
        s"filters sub-agg '$sub': unsupported metric '$other' " +
          "(single-column metrics only)")
    }
    // wide single-pass aggregate: per filter, a guarded count + guarded metrics
    val aggCols = preds.flatMap { case (fn, pred) =>
      count(when(pred, lit(1))).as(s"__cnt_$fn") +:
        metricSpecs.map { case (sub, tpe, mbody) =>
          val f = Option(mbody.get("field")).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(s"metric '$sub' needs a 'field'"))
          metricCol(tpe, when(pred, col(f)), sub).as(s"__${sub}_$fn")
        }
    }
    val wide = docs.agg(aggCols.head, aggCols.tail: _*)
    // unpivot the single wide row into one row per named filter
    preds.map { case (fn, _) =>
      wide.select(lit(fn).as("key") +: col(s"__cnt_$fn").as("doc_count") +:
        metricSpecs.map { case (sub, _, _) => col(s"__${sub}_$fn").as(sub) }: _*)
    }.reduce(_.unionByName(_))
  }

  /** `adjacency_matrix`: one bucket per named filter plus one per filter
    * PAIR (key `a&b`, ES's separator, configurable) counting docs matching
    * both — the co-occurrence matrix dashboards build Venn panels from.
    * Like [[filtersAgg]] this is ONE single-pass conditional aggregate
    * (N + N·(N−1)/2 guarded count columns over one scan — no self-join,
    * which is what a naive matrix would shuffle into at 100 TB), unpivoted
    * driver-cheap; ES emits only non-empty buckets and so do we.
    * Declared subset: doc_count only (no metric sub-aggs). */
  private def adjacencyMatrix(docs: DataFrame, name: String, body: JsonNode,
                              subAggs: Option[JsonNode]): DataFrame = {
    require(subAggs.isEmpty,
      s"adjacency_matrix '$name': metric sub-aggs unsupported (declared subset)")
    val unknownK = body.fieldNames.asScala.toSet -- Set("filters", "separator")
    require(unknownK.isEmpty,
      s"unsupported adjacency_matrix option(s) in '$name': ${unknownK.mkString(", ")}")
    val sep = Option(body.get("separator")).map(_.asText).getOrElse("&")
    val fNode = Option(body.get("filters")).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException(
        s"adjacency_matrix '$name' needs a 'filters' object of named queries"))
    require(fNode.size > 0, s"adjacency_matrix '$name' has no named filters")
    val named = fNode.fieldNames.asScala.toSeq.sorted.map { fn =>
      require(!fn.contains(sep),
        s"adjacency_matrix '$name': filter name '$fn' contains separator '$sep'")
      val q = mapper.createObjectNode()
      q.set[JsonNode]("query", fNode.get(fn))
      fn -> QueryCompiler.compile(q.toString, Int.MaxValue).predicate
    }
    val cells: Seq[(String, Column)] = named ++
      (for {
        i <- named.indices
        j <- (i + 1) until named.size
      } yield (s"${named(i)._1}$sep${named(j)._1}",
        coalesce(named(i)._2, lit(false)) && coalesce(named(j)._2, lit(false))))
    val aggCols = cells.zipWithIndex.map { case ((_, p), i) =>
      count(when(coalesce(p, lit(false)), lit(1))).as(s"__c_$i")
    }
    val wide = docs.agg(aggCols.head, aggCols.tail: _*)
    cells.zipWithIndex.map { case ((k, _), i) =>
      wide.select(lit(k).as("key"), col(s"__c_$i").as("doc_count"))
    }.reduce(_.unionByName(_)).where(col("doc_count") > 0).orderBy(asc("key"))
  }

  /** Fixed-width rung ladder for [[autoDateHistogram]] (micros): ES's
    * second/minute/hour rungs plus fixed 1d/7d/30d/90d/365d stand-ins for
    * its calendar day+/month/year rungs (declared subset — calendar
    * months are not fixed-width). */
  private val autoRungs: Seq[(Long, String)] = Seq(
    1L -> "1s", 5L -> "5s", 10L -> "10s", 30L -> "30s",
    60L -> "1m", 300L -> "5m", 600L -> "10m", 1800L -> "30m",
    3600L -> "1h", 10800L -> "3h", 43200L -> "12h",
    86400L -> "1d", 604800L -> "7d", 2592000L -> "30d",
    7776000L -> "90d", 31536000L -> "365d")
    .map { case (s, l) => (s * 1000000L, l) }

  /** `auto_date_histogram`: pick the finest ladder interval that keeps the
    * bucket count at or under the `buckets` target, then bucket like a
    * fixed_interval date_histogram. The observed span is a 1-row min/max
    * aggregate (bounded collect); the rung choice is driver arithmetic;
    * the bucketing itself is the usual one-shuffle hash aggregate. The
    * chosen rung is surfaced as a `bucket_interval` column (ES returns it
    * in response meta). */
  private def autoDateHistogram(docs: DataFrame, name: String, body: JsonNode,
                                subAggs: Option[JsonNode]): DataFrame = {
    val unknownK = body.fieldNames.asScala.toSet -- Set("field", "buckets")
    require(unknownK.isEmpty,
      s"unsupported auto_date_histogram option(s) in '$name': ${unknownK.mkString(", ")}")
    val f = Option(body.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(
        s"auto_date_histogram '$name' needs a 'field'"))
    val target = Option(body.get("buckets")).map { n =>
      require(n.isIntegralNumber && n.asInt >= 1,
        s"auto_date_histogram '$name' buckets must be a positive integer")
      n.asInt
    }.getOrElse(10)
    val tsUs = Tsx.micros(col(f))
    val metrics = subAggMetricCols(subAggs, name, allowedPipelines = Set.empty)
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    val span = docs.agg(min(tsUs), max(tsUs)).head()
    if (span.isNullAt(0))
      return docs.limit(0)
        .groupBy(timestamp_micros(tsUs).as("key"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("bucket_interval", lit(""))
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    val (rung, label) = autoRungs.find { case (u, _) =>
      java.lang.Math.floorDiv(hi, u) - java.lang.Math.floorDiv(lo, u) + 1 <= target
    }.getOrElse(autoRungs.last)
    docs.where(col(f).isNotNull)
      .groupBy(timestamp_micros(tsUs - pmod(tsUs, lit(rung))).as("key"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("bucket_interval", lit(label))
      .orderBy(asc("key"))
  }

  /** The inner `terms` bucket sub-agg of a histogram-family agg, if any.
    * When present it must be the ONLY sub-agg (its own metric sub-aggs nest
    * inside it) — mixing per-outer metrics with a per-(outer, inner) frame
    * would silently change row grain. */
  private def innerTermsOf(subAggs: Option[JsonNode],
                           parent: String): Option[(String, JsonNode)] =
    subAggs.flatMap { n =>
      val buckets = n.fieldNames.asScala.toSeq.filter { sub =>
        n.get(sub).fieldNames.asScala.exists(bucketTypes.contains)
      }
      if (buckets.isEmpty) None
      else {
        require(buckets.size == 1 && n.size == 1
            && n.get(buckets.head).has("terms"),
          s"'$parent' supports exactly one nested bucket sub-agg of type " +
            "terms, with no sibling sub-aggs")
        Some(buckets.head -> n.get(buckets.head))
      }
    }

  /** Two-level bucket breakdown: `(outer key, inner terms value)` rows with
    * per-pair doc_count + the inner agg's metric sub-aggs, the inner terms
    * capped per OUTER bucket (ES semantics) via a window PARTITIONED BY the
    * outer key — bounded per bucket, never global. */
  private def nestedTerms(docs: DataFrame, outerKey: Column, outerName: String,
                          innerName: String, innerSpec: JsonNode): DataFrame = {
    val terms = innerSpec.get("terms")
    val f = Option(terms.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(
        s"nested terms '$innerName' of '$outerName' needs a 'field'"))
    val size = Option(terms.get("size")).map(_.asInt).getOrElse(10)
    val innerSub = Option(innerSpec.get("aggs"))
      .orElse(Option(innerSpec.get("aggregations")))
    val metrics = innerSub.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        require(ts.size == 1 && !bucketTypes.contains(ts.head)
            && !pipelineTypes.contains(ts.head),
          s"sub-agg '$sub' of nested terms '$innerName' must be a single metric")
        metric(ts.head, sub, n.get(sub).get(ts.head))
      }
    }
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    val grouped = docs.where(outerKey.isNotNull && col(f).isNotNull)
      .groupBy(outerKey.as("key"), col(f).as(innerName))
      .agg(aggCols.head, aggCols.tail: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(desc("doc_count"), asc(innerName))
    grouped.withColumn("bucket_rank", row_number().over(w))
      .where(col("bucket_rank") <= size)
      .orderBy(asc("key"), asc("bucket_rank"))
  }

  /** Bucket-sequence pipeline aggregations over an ordered histogram-family
    * bucket frame: `cumulative_sum`, `derivative`, `moving_avg`,
    * `serial_diff` — each a window over the BUCKET LIST, which is
    * model-sized by construction (one row per day/interval), so the
    * unpartitioned window is bounded by bucket count, never by corpus
    * size — plus the bucket-shaping trio `bucket_script` (derived column
    * from sibling metrics via a [[Script]] expression), `bucket_selector`
    * (keeps buckets where the boolean script holds) and `bucket_sort`
    * (re-order + from/size page of the bucket list). `buckets_path` names
    * a sibling metric column (`_count` → doc_count); script aggs take the
    * ES map form `{"a": "path"}` binding `params.a`.
    *
    * Pipelines apply in DECLARATION order (ES resolves a dependency DAG;
    * the declared-order subset makes `bucket_script` → `bucket_selector`
    * chains work and is loud — an unknown column — when declared
    * backwards). */
  /** ENFORCED bounded-frame contract for the single-partition pipeline
    * windows (r10 — previously documentation only): pipeline aggs and the
    * change-point/KS scans run over a parent BUCKET LIST, never corpus
    * rows, and their unpartitioned windows are size-safe only because of
    * that. This guard makes the contract fail loud INSIDE the plan (no
    * driver-side count job — the assertion rides the same single-partition
    * exchange the window itself needs): frames beyond `maxBuckets` (the
    * zero-fill / `search.max_buckets` cap) raise instead of serializing a
    * corpus through one task. The filter keeps the assertion un-prunable
    * (`assert_true` is null on success, so `isNull` passes every row). */
  private[graft] def boundedFrame(df: DataFrame, what: String,
                                  maxBuckets: Long = 100000L): DataFrame = {
    val whole = org.apache.spark.sql.expressions.Window.partitionBy()
    df.withColumn("_frame_ok",
        assert_true(count(lit(1)).over(whole) <= lit(maxBuckets),
          lit(s"$what: bucket frame exceeds the $maxBuckets-row pipeline " +
            "cap (search.max_buckets analog) — aggregate further before piping")))
      .where(col("_frame_ok").isNull)
      .drop("_frame_ok")
  }

  private def applyPipelines(buckets: DataFrame, subAggs: Option[JsonNode],
                             parent: String): DataFrame = {
    val specs = subAggs.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        // cumulative_cardinality is the one pipeline that cannot derive
        // from the bucket frame (cumulative DISTINCT needs the source
        // values) — [[applyCumulativeCardinality]] handles it upstream
        if (ts.size == 1 && pipelineTypes.contains(ts.head) &&
            ts.head != "cumulative_cardinality")
          Some((sub, ts.head, n.get(sub).get(ts.head)))
        else None
      }
    }
    // unpartitioned window — deliberate and size-safe: pipeline aggs run
    // over the PARENT'S BUCKET LIST (post-aggregation — at most `size`
    // terms buckets or the zero-fill frame cap, never corpus rows), and ES
    // pipeline semantics are inherently sequential over that list. The
    // contract is ENFORCED by [[boundedFrame]] below, not just documented.
    val w = org.apache.spark.sql.expressions.Window.orderBy("key")
    val guarded =
      if (specs.isEmpty) buckets
      else boundedFrame(buckets, s"pipeline aggs under '$parent'")
    specs.foldLeft(guarded) { case (df, (sub, tpe, body)) =>
      def pathCol(df2: DataFrame): String = {
        val path = Option(body.get("buckets_path")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"pipeline agg '$sub' of '$parent' needs 'buckets_path'"))
        val src = if (path == "_count") "doc_count" else path
        require(df2.columns.contains(src),
          s"pipeline agg '$sub' of '$parent': buckets_path '$path' not found")
        src
      }
      // the script pair: buckets_path is a MAP {param: path}; the script
      // references params.<param> (see [[Script]])
      def scriptCol(df2: DataFrame): Column = {
        val unknown = body.fieldNames.asScala.toSet --
          Set("buckets_path", "script", "gap_policy")
        require(unknown.isEmpty,
          s"unsupported $tpe option(s) in '$sub': ${unknown.mkString(", ")}")
        Option(body.get("gap_policy")).foreach { g =>
          require(g.isTextual && g.asText == "skip",
            s"$tpe '$sub' gap_policy: 'skip' only (nulls propagate natively)")
        }
        val bp = Option(body.get("buckets_path")).filter(_.isObject)
          .getOrElse(throw new IllegalArgumentException(
            s"$tpe '$sub' needs 'buckets_path' as a {param: path} object"))
        val binding = bp.fieldNames.asScala.map { p =>
          val path = bp.get(p).asText
          val src = if (path == "_count") "doc_count" else path
          require(df2.columns.contains(src),
            s"$tpe '$sub': buckets_path '$path' not found")
          p -> col(src)
        }.toMap
        val script = Option(body.get("script")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"$tpe '$sub' needs a 'script' string"))
        Script.compile(script, binding, s"$tpe '$sub'")
      }
      tpe match {
        case "cumulative_sum" => df.withColumn(sub, sum(col(pathCol(df))).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        case "derivative" =>
          val src = pathCol(df)
          df.withColumn(sub, col(src) - lag(col(src), 1).over(w))
        case "serial_diff" =>
          // lag-N difference — derivative generalized to seasonal offsets
          val src = pathCol(df)
          val lagN = Option(body.get("lag")).map(_.asInt).getOrElse(1)
          require(lagN >= 1, s"serial_diff '$sub' lag must be >= 1")
          df.withColumn(sub, col(src) - lag(col(src), lagN).over(w))
        case "moving_avg" =>
          val win = Option(body.get("window")).map(_.asInt).getOrElse(5)
          require(win >= 1, s"moving_avg '$sub' window must be >= 1")
          df.withColumn(sub, avg(col(pathCol(df))).over(w.rowsBetween(-(win - 1), 0)))
        case "moving_fn" =>
          // {"buckets_path":"x","window":N,"script":"MovingFunctions.max
          // (values)","shift":S} — the scripted moving window, in the
          // declared no-script-engine subset: the script must be ONE
          // recognized MovingFunctions call over `values`. ES window
          // semantics: shift 0 (default) EXCLUDES the current bucket —
          // frame [i-window+shift, i+shift-1]; shift=1 is the trailing
          // window moving_avg uses. An empty/all-null frame yields null
          // (ES returns null there too).
          val unknownMf = body.fieldNames.asScala.toSet --
            Set("buckets_path", "window", "script", "shift", "gap_policy")
          require(unknownMf.isEmpty,
            s"unsupported moving_fn option(s) in '$sub': ${unknownMf.mkString(", ")}")
          Option(body.get("gap_policy")).foreach { g =>
            require(g.isTextual && g.asText == "skip",
              s"moving_fn '$sub' gap_policy: 'skip' only (nulls propagate natively)")
          }
          val winF = Option(body.get("window")).map(_.asInt)
            .getOrElse(throw new IllegalArgumentException(
              s"moving_fn '$sub' needs 'window'"))
          require(winF >= 1, s"moving_fn '$sub' window must be >= 1")
          val shift = Option(body.get("shift")).map(_.asInt).getOrElse(0)
          require(shift <= winF,
            s"moving_fn '$sub' shift must be <= window (a frame fully past " +
              "the current bucket reads future buckets only)")
          val script = Option(body.get("script")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              s"moving_fn '$sub' needs a 'script' string"))
          val fnRe =
            """^\s*MovingFunctions\.(max|min|sum|unweightedAvg)\(values\)\s*$""".r
          val stdRe = ("""^\s*MovingFunctions\.stdDev\(values,\s*""" +
            """MovingFunctions\.unweightedAvg\(values\)\)\s*$""").r
          val src = col(pathCol(df))
          val frame = w.rowsBetween(shift.toLong - winF, shift.toLong - 1)
          val out = script match {
            case fnRe("max")           => max(src).over(frame)
            case fnRe("min")           => min(src).over(frame)
            case fnRe("sum")           => sum(src).over(frame)
            case fnRe("unweightedAvg") => avg(src).over(frame)
            case stdRe()               => stddev_pop(src).over(frame)
            case other => throw new IllegalArgumentException(
              s"moving_fn '$sub': unsupported script '$other' — " +
                "MovingFunctions.max/min/sum/unweightedAvg(values) or " +
                "MovingFunctions.stdDev(values, MovingFunctions.unweightedAvg" +
                "(values)) (declared no-script-engine subset)")
          }
          df.withColumn(sub, out)
        case "moving_percentiles" =>
          // moving_fn's window frame, percentile flavor. DECLARED
          // DIVERGENCE from ES: exact linear-interpolation percentiles
          // over the frame's values (ES merges the sibling percentiles
          // agg's t-digests), and the percents come from an explicit
          // `percents` array (default [50]) instead of the referenced
          // percentiles agg. One output column per percent:
          // `<name>_p<pct>`. Frame semantics match moving_fn (shift 0
          // excludes the current bucket; shift 1 trails inclusively).
          val unknownMp = body.fieldNames.asScala.toSet --
            Set("buckets_path", "window", "shift", "percents")
          require(unknownMp.isEmpty,
            s"unsupported moving_percentiles option(s) in '$sub': ${unknownMp.mkString(", ")}")
          val winP = Option(body.get("window")).map(_.asInt)
            .getOrElse(throw new IllegalArgumentException(
              s"moving_percentiles '$sub' needs 'window'"))
          require(winP >= 1, s"moving_percentiles '$sub' window must be >= 1")
          val shiftP = Option(body.get("shift")).map(_.asInt).getOrElse(0)
          require(shiftP <= winP,
            s"moving_percentiles '$sub' shift must be <= window")
          val percents = Option(body.get("percents")).map { arr =>
            require(arr.isArray && arr.size > 0,
              s"moving_percentiles '$sub' percents must be a non-empty array")
            arr.elements.asScala.toSeq.map { p =>
              require(p.isNumber, s"moving_percentiles '$sub' percents must be numbers")
              val v = p.asDouble
              require(v > 0 && v < 100,
                s"moving_percentiles '$sub' percents must be in (0, 100), got $v")
              v
            }
          }.getOrElse(Seq(50.0))
          val srcP = col(pathCol(df)).cast("double")
          val frameP = w.rowsBetween(shiftP.toLong - winP, shiftP.toLong - 1)
          percents.foldLeft(df) { (d, p) =>
            val label = (if (p == p.floor) p.toLong.toString
                         else p.toString.replace('.', '_'))
            d.withColumn(s"${sub}_p$label",
              percentile(srcP, lit(p / 100.0)).over(frameP))
          }
        case "normalize" =>
          // whole-frame rescaling of a sibling metric: each method is a
          // window aggregate over the ENTIRE bucket list (model-sized by
          // construction) — no extra pass over the data
          val unknownN = body.fieldNames.asScala.toSet --
            Set("buckets_path", "method")
          require(unknownN.isEmpty,
            s"unsupported normalize option(s) in '$sub': ${unknownN.mkString(", ")}")
          val src = col(pathCol(df)).cast("double")
          val all = w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
          val method = Option(body.get("method")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              s"normalize '$sub' needs 'method'"))
          val out = method match {
            case "rescale_0_1" =>
              (src - min(src).over(all)) / (max(src).over(all) - min(src).over(all))
            case "rescale_0_100" =>
              (src - min(src).over(all)) * 100.0 /
                (max(src).over(all) - min(src).over(all))
            case "percent_of_sum" => src / sum(src).over(all)
            case "mean" =>
              (src - avg(src).over(all)) / (max(src).over(all) - min(src).over(all))
            case "z-score" => (src - avg(src).over(all)) / stddev_pop(src).over(all)
            case "softmax" => exp(src) / sum(exp(src)).over(all)
            case other => throw new IllegalArgumentException(
              s"normalize '$sub': unknown method '$other' (rescale_0_1 | " +
                "rescale_0_100 | percent_of_sum | mean | z-score | softmax)")
          }
          df.withColumn(sub, out)
        case "bucket_script" => df.withColumn(sub, scriptCol(df))
        case "bucket_selector" => df.where(scriptCol(df))
        case "bucket_sort" =>
          // re-order the bucket frame and cut a page; without `sort` it is
          // ES's truncation idiom (keep parent order, apply from/size).
          // The frame is bucket-sized, so sort/offset/limit are driver-cheap
          val unknown = body.fieldNames.asScala.toSet -- Set("sort", "from", "size")
          require(unknown.isEmpty,
            s"unsupported bucket_sort option(s) in '$sub': ${unknown.mkString(", ")}")
          val sorted = Option(body.get("sort")).map { s =>
            require(s.isArray && s.size > 0,
              s"bucket_sort '$sub' sort must be a non-empty array")
            val keys = s.elements.asScala.toSeq.map { e =>
              require(e.isObject && e.size == 1,
                s"bucket_sort '$sub' sort entry must be {field: order}, got: $e")
              val f = e.fieldNames.asScala.next()
              val ord = if (e.get(f).isTextual) e.get(f).asText
                        else Option(e.get(f).get("order")).map(_.asText).getOrElse("asc")
              require(ord == "asc" || ord == "desc",
                s"bucket_sort '$sub' bad order '$ord'")
              require(df.columns.contains(f),
                s"bucket_sort '$sub': sort field '$f' not found")
              if (ord == "asc") col(f).asc else col(f).desc
            }
            // key tiebreak keeps the page deterministic under metric ties
            df.orderBy(keys :+ col("key").asc: _*)
          }.getOrElse(df)
          val from = Option(body.get("from")).map(_.asInt).getOrElse(0)
          require(from >= 0, s"bucket_sort '$sub' from must be >= 0")
          val paged = if (from > 0) sorted.offset(from) else sorted
          Option(body.get("size")).map { n =>
            require(n.isInt && n.asInt >= 1, s"bucket_sort '$sub' size must be >= 1")
            paged.limit(n.asInt)
          }.getOrElse(paged)
      }
    }
  }

  /** The two-operand expression language ES pipeline `script`s actually
    * use (`"params.a / params.b * 100"`): arithmetic (`+ - * / %`, unary
    * minus), comparisons (`> >= < <= == !=`), boolean `&& || !`, numeric
    * literals, parens, and `params.<name>` references bound to sibling
    * metric columns. A declared Painless subset — anything else (method
    * calls, strings, ternaries) is loud at compile. Division follows Spark
    * SQL semantics (always double, null on divide-by-zero — ES Painless
    * would throw; the null propagates like a gap). */
  private[graft] object Script {
    def compile(src: String, binding: Map[String, Column], where: String): Column = {
      val toks = tokenize(src, where)
      val (c, rest) = orE(toks, binding, where)
      require(rest.isEmpty, s"$where script: trailing tokens ${rest.mkString(" ")}")
      c
    }

    private def tokenize(s: String, where: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c.isDigit || (c == '.' && i + 1 < s.length && s(i + 1).isDigit)) {
          val j0 = i
          while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
          out += s.substring(j0, i)
        } else if (c.isLetter || c == '_') {
          val j0 = i
          while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '.')) i += 1
          out += s.substring(j0, i)
        } else if ("><=!&|".contains(c)) {
          val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
          if (Set(">=", "<=", "==", "!=", "&&", "||").contains(two)) {
            out += two; i += 2
          } else { out += c.toString; i += 1 }
        } else if ("+-*/%()".contains(c)) { out += c.toString; i += 1 }
        else throw new IllegalArgumentException(
          s"$where script: unexpected character '$c'")
      }
      out.toList
    }

    private def orE(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) = {
      var (l, rest) = andE(t, b, where)
      while (rest.headOption.contains("||")) {
        val (r, rr) = andE(rest.tail, b, where); l = l || r; rest = rr
      }
      (l, rest)
    }

    private def andE(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) = {
      var (l, rest) = cmp(t, b, where)
      while (rest.headOption.contains("&&")) {
        val (r, rr) = cmp(rest.tail, b, where); l = l && r; rest = rr
      }
      (l, rest)
    }

    private def cmp(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) =
      t match {
        case "!" :: tail =>
          val (c, rest) = cmp(tail, b, where); (!c, rest)
        case _ =>
          val (l, rest) = add(t, b, where)
          rest match {
            case op :: tail if Set(">", ">=", "<", "<=", "==", "!=").contains(op) =>
              val (r, rr) = add(tail, b, where)
              val c = op match {
                case ">"  => l > r
                case ">=" => l >= r
                case "<"  => l < r
                case "<=" => l <= r
                case "==" => l === r
                case _    => l =!= r
              }
              (c, rr)
            case _ => (l, rest)
          }
      }

    private def add(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) = {
      var (l, rest) = mul(t, b, where)
      var done = false
      while (!done) rest match {
        case "+" :: tail => val (r, rr) = mul(tail, b, where); l = l + r; rest = rr
        case "-" :: tail => val (r, rr) = mul(tail, b, where); l = l - r; rest = rr
        case _ => done = true
      }
      (l, rest)
    }

    private def mul(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) = {
      var (l, rest) = unary(t, b, where)
      var done = false
      while (!done) rest match {
        case "*" :: tail => val (r, rr) = unary(tail, b, where); l = l * r; rest = rr
        case "/" :: tail => val (r, rr) = unary(tail, b, where); l = l / r; rest = rr
        case "%" :: tail => val (r, rr) = unary(tail, b, where); l = l % r; rest = rr
        case _ => done = true
      }
      (l, rest)
    }

    private def unary(t: List[String], b: Map[String, Column], where: String): (Column, List[String]) =
      t match {
        case "-" :: tail => val (c, rest) = unary(tail, b, where); (-c, rest)
        case "(" :: tail =>
          val (c, rest) = orE(tail, b, where)
          rest match {
            case ")" :: rr => (c, rr)
            case _ => throw new IllegalArgumentException(s"$where script: unclosed '('")
          }
        case tok :: rest if tok.startsWith("params.") =>
          val p = tok.stripPrefix("params.")
          (b.getOrElse(p, throw new IllegalArgumentException(
            s"$where script: unbound parameter '$p' " +
              s"(buckets_path binds: ${b.keys.toSeq.sorted.mkString(", ")})")), rest)
        // bare identifiers resolve from the binding too — runtime fields
        // bind the document's own columns (was an error before, so this
        // widens nothing for bucket_script's params.-prefixed contract)
        case tok :: rest if tok.nonEmpty && (tok(0).isLetter || tok(0) == '_') =>
          (b.getOrElse(tok, throw new IllegalArgumentException(
            s"$where script: unbound identifier '$tok' " +
              s"(bound: ${b.keys.toSeq.sorted.mkString(", ")})")), rest)
        case tok :: rest if tok.nonEmpty &&
            (tok(0).isDigit || (tok(0) == '.' && tok.length > 1)) =>
          val c = if (tok.contains('.')) lit(tok.toDouble) else lit(tok.toLong)
          (c, rest)
        case other => throw new IllegalArgumentException(
          s"$where script: expected a value at ${other.headOption.getOrElse("end")}")
      }
  }

  /** `composite` aggregation: keyset-paginated buckets — the agg-side
    * `search_after`. ES's answer to "extract EVERY bucket": buckets order
    * by their source-key tuple (ascending), `size` caps the page, and
    * `after` resumes strictly past a key tuple, so each page is one
    * hash-aggregate + top-k — no page ever re-ranks its prefix, which is
    * what makes full bucket extraction over a 100 TB corpus a sequence of
    * bounded queries. Supported sources: `terms` (declared subset; one or
    * more, each `{name: {"terms": {"field": f}}}`). Docs with a null in
    * any source key are skipped (ES default, no `missing_bucket`).
    * Output: one column per source name, `doc_count`, metric sub-aggs. */
  private def composite(docs: DataFrame, name: String, body: JsonNode,
                        subAggs: Option[JsonNode]): DataFrame = {
    val size = Option(body.get("size")).map(_.asInt).getOrElse(10)
    val sourcesNode = Option(body.get("sources")).filter(_.isArray)
      .getOrElse(throw new IllegalArgumentException(s"composite '$name' needs 'sources'"))
    // a source is terms, histogram, or date_histogram (the full ES set);
    // histogram keys are the bucket floor, date keys epoch-micro bucket
    // starts (the engine's date-histogram key convention). All bucketing
    // is exact integer/double arithmetic — the date path in particular is
    // `us − us mod interval` LONG math (a floor(us/iv) through double
    // loses low bits at e18 magnitudes).
    val sources: Seq[(String, Column, Column)] =
      sourcesNode.elements.asScala.toSeq.map { s =>
        require(s.isObject && s.size == 1,
          s"composite source must be a single-entry object: $s")
        val srcName = s.fieldNames.asScala.next()
        val spec = s.get(srcName)
        require(spec.isObject && spec.size == 1,
          s"composite source '$srcName' must have exactly one type")
        val tpe = spec.fieldNames.asScala.next()
        val body2 = spec.get(tpe)
        def fieldOf2: String = Option(body2.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"composite source '$srcName' needs a 'field'"))
        // `missing_bucket: true` keeps null-keyed docs as an explicit
        // null bucket, ordered FIRST (Spark asc = nulls first, ES's own
        // missing-first order). Paging past it works because the null
        // bucket always lands on page 1; an `after` cursor carries
        // non-null keys only (declared subset).
        val keepMissing =
          Option(body2.get("missing_bucket")).exists(_.asBoolean)
        val (srcName2, keyCol2, cond2): (String, Column, Column) = tpe match {
          case "terms" =>
            val f = fieldOf2
            (srcName, col(f), col(f).isNotNull)
          case "histogram" =>
            val f = fieldOf2
            val iv = Option(body2.get("interval")).filter(_.isNumber).map(_.asDouble)
              .getOrElse(throw new IllegalArgumentException(
                s"composite histogram source '$srcName' needs a numeric 'interval'"))
            require(iv > 0, s"composite source '$srcName' interval must be > 0")
            (srcName, floor(col(f) / iv) * iv, col(f).isNotNull)
          case "date_histogram" =>
            val f = fieldOf2
            val ivUs = Option(body2.get("fixed_interval")).map(_.asText)
              .map(fixedIntervalMicros(_, s"$name source $srcName"))
              .orElse(Option(body2.get("calendar_interval")).map(_.asText).map {
                case "day" => 86400000000L
                case "hour" => 3600000000L
                case "minute" => 60000000L
                case other => throw new IllegalArgumentException(
                  s"composite source '$srcName': calendar_interval '$other' " +
                    "unsupported (day/hour/minute — fixed-duration units)")
              })
              .getOrElse(throw new IllegalArgumentException(
                s"composite date_histogram source '$srcName' needs " +
                  "fixed_interval or calendar_interval"))
            val us = Tsx.micros(col(f))
            (srcName, us - pmod(us, lit(ivUs)), col(f).isNotNull)
          case "geotile_grid" =>
            // the geotile_grid key math as a paging source: "z/x/y" keys
            // (web-mercator tiles, ES mercator lat clip — same formula as
            // the standalone agg so keys agree across both surfaces)
            val f = fieldOf2
            val z = Option(body2.get("precision")).map { n =>
              require(n.isIntegralNumber && n.asInt >= 0 && n.asInt <= 29,
                s"composite source '$srcName' precision must be 0..29")
              n.asInt
            }.getOrElse(7)
            (srcName, GeoGrid.geotileKey(col(f), z), col(f).isNotNull)
          case other => throw new IllegalArgumentException(
            s"composite source '$srcName': unsupported type '$other' " +
              "(terms/histogram/date_histogram/geotile_grid)")
        }
        (srcName2, keyCol2, if (keepMissing) lit(true) else cond2)
      }
    require(sources.nonEmpty, s"composite '$name' has no sources")
    val metrics = subAggs.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        require(ts.size == 1 && !bucketTypes.contains(ts.head) && ts.head != "composite",
          s"sub-agg '$sub' of '$name' must be a single metric")
        metric(ts.head, sub, n.get(sub).get(ts.head))
      }
    }
    val nonNull = sources.map(_._3).reduce(_ && _)
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    val grouped = docs.where(nonNull)
      .groupBy(sources.map { case (n2, key, _) => key.as(n2) }: _*)
      .agg(aggCols.head, aggCols.tail: _*)
    // after: strictly-greater tuple in the sources' ascending order
    val paged = Option(body.get("after")).map { a =>
      val afterVals = sources.map { case (n2, _, _) =>
        val v = Option(a.get(n2)).getOrElse(throw new IllegalArgumentException(
          s"composite 'after' is missing source '$n2'"))
        if (v.isTextual) lit(v.asText)
        else if (v.isIntegralNumber) lit(v.asLong)
        else lit(v.asDouble)
      }
      val keys = sources.map { case (n2, _, _) => col(n2) }
      val gt = keys.zip(afterVals).reverse.foldLeft(lit(false)) {
        case (acc, (k, av)) => (k > av) || (k === av && acc)
      }
      grouped.where(gt)
    }.getOrElse(grouped)
    paged.orderBy(sources.map { case (n2, _, _) => asc(n2) }: _*).limit(size)
  }

  /** Streaming form of a `date_histogram` aggregation: the same ES body,
    * compiled to a Structured Streaming windowed aggregate — each emitted
    * row is a FINALIZED bucket (append mode: a bucket emits once its
    * window falls behind the watermark, so late data inside `watermark`
    * revises nothing downstream ever sees).
    *
    * The `calendar_interval` is restricted to the fixed-duration units
    * (`day`/`hour`/`minute`) — streaming tumbling windows need a constant
    * width, and epoch-aligned fixed windows make `key` (window start)
    * exactly equal the batch `date_trunc` bucket, so a backfill computed
    * with [[run]] and a live stream computed here agree bucket-for-bucket
    * (proven in StreamingSpec). Metric sub-aggs compile unchanged. */
  def runStream(stream: DataFrame, body: String, watermark: String = "1 hour",
                idCol: String = "doc_id"): DataFrame = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "search body must be a JSON object")
    val aggsNode = Option(root.get("aggs")).orElse(Option(root.get("aggregations")))
      .getOrElse(throw new IllegalArgumentException("missing 'aggs'/'aggregations'"))
    require(aggsNode.isObject && aggsNode.size == 1,
      "streaming aggs body must have exactly one date_histogram aggregation")
    val name = aggsNode.fieldNames.asScala.next()
    val spec = aggsNode.get(name)
    // streaming `terms`: running per-key totals with no window — the
    // stateful groupBy form (update/complete output modes; state is one
    // row per key, bounded by the field's cardinality). No watermark: a
    // keyed running total never closes.
    Option(spec.get("terms")).foreach { tn =>
      val tf = Option(tn.get("field")).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(
          s"terms '$name' needs a 'field'"))
      val unknownT = tn.fieldNames.asScala.toSet - "field"
      require(unknownT.isEmpty,
        s"streaming terms '$name' supports 'field' only (size/order are " +
          s"sink-side concerns on an unbounded stream): ${unknownT.mkString(", ")}")
      val subAggsT = Option(spec.get("aggs")).orElse(Option(spec.get("aggregations")))
      val metricsT = subAggsT.toSeq.flatMap { n =>
        n.fieldNames.asScala.toSeq.flatMap { sub =>
          val ts = n.get(sub).fieldNames.asScala.toList
          require(ts.size == 1 && !bucketTypes.contains(ts.head),
            s"sub-agg '$sub' of '$name' must be a single metric")
          metric(ts.head, sub, n.get(sub).get(ts.head))
        }
      }
      val filteredT =
        if (root.has("query"))
          stream.where(QueryCompiler.compile(body, Int.MaxValue, idCol).predicate)
        else stream
      val aggColsT = count(lit(1)).as("doc_count") +: metricsT
      return filteredT.where(col(tf).isNotNull)
        .groupBy(col(tf).as("key"))
        .agg(aggColsT.head, aggColsT.tail: _*)
    }
    val dh = Option(spec.get("date_histogram")).getOrElse(
      throw new IllegalArgumentException(
        s"streaming aggregation '$name' must be a date_histogram or terms"))
    val f = Option(dh.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(s"date_histogram '$name' needs a 'field'"))
    // fixed_interval maps straight onto a Structured Streaming tumbling
    // window duration; calendar intervals only where they are fixed-width
    val interval = Option(dh.get("fixed_interval")).map(_.asText) match {
      case Some(fi) =>
        s"${fixedIntervalMicros(fi, name)} microseconds"
      case None =>
        val ci = Option(dh.get("calendar_interval"))
          .orElse(Option(dh.get("interval"))).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"date_histogram '$name' needs 'calendar_interval' or 'fixed_interval'"))
        require(Set("day", "hour", "minute").contains(ci),
          s"streaming calendar_interval must be a fixed duration (day/hour/minute), got '$ci'")
        s"1 $ci"
    }
    val subAggs = Option(spec.get("aggs")).orElse(Option(spec.get("aggregations")))
    val metrics = subAggs.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        require(ts.size == 1 && !bucketTypes.contains(ts.head),
          s"sub-agg '$sub' of '$name' must be a single metric")
        metric(ts.head, sub, n.get(sub).get(ts.head))
      }
    }
    val filtered =
      if (root.has("query"))
        stream.where(QueryCompiler.compile(body, Int.MaxValue, idCol).predicate)
      else stream
    val aggCols = count(lit(1)).as("doc_count") +: metrics
    filtered
      .where(col(f).isNotNull)
      .withWatermark(f, watermark)
      .groupBy(window(col(f), interval))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("key", col("window.start"))
      .drop("window")
  }

  /** Histogram-family `min_doc_count: 0`: generate the full frame sequence
    * between the observed key bounds (widened by ES `extended_bounds` —
    * epoch-millis for dates, numbers for histograms; bounds align down to
    * their frame) and left-join the real buckets, so dashboards get a
    * continuous axis with (0-count, null-metric) gap rows. The bounds are
    * a 1-row aggregate collected on the driver (provably bounded); the
    * frame count is guarded at 100k (the `search.max_buckets` analog) so a
    * pathological interval fails loud instead of exploding a range join.
    * Declared subset: `fixed_interval` date_histogram and numeric
    * histogram — calendar frames are not fixed-width. */
  private def zeroFillFrames(base: DataFrame, tpe: String, name: String,
                             body: JsonNode): DataFrame = {
    val spark = base.sparkSession
    val maxFrames = 100000L
    val eb = Option(body.get("extended_bounds"))
    def ebNum(k: String): Option[JsonNode] = eb.flatMap(n => Option(n.get(k)))
    if (tpe == "date_histogram") {
      val fi = Option(body.get("fixed_interval")).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(s"date_histogram '$name': " +
          "min_doc_count 0 zero-fill needs fixed_interval (calendar frames are not fixed-width)"))
      val us = fixedIntervalMicros(fi, name)
      def ebUs(k: String) = ebNum(k).map { v =>
        require(v.isIntegralNumber,
          s"date_histogram '$name' extended_bounds.$k must be epoch_millis")
        v.asLong * 1000L
      }
      val r = base.agg(min(Tsx.micros(col("key"))), max(Tsx.micros(col("key")))).head()
      val obsLo = if (r.isNullAt(0)) None else Some(r.getLong(0))
      val obsHi = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val lo0 = (ebUs("min").toSeq ++ obsLo).reduceOption(_ min _)
      val hi0 = (ebUs("max").toSeq ++ obsHi).reduceOption(_ max _)
      (lo0, hi0) match {
        case (Some(l), Some(h)) =>
          val lo = l - java.lang.Math.floorMod(l, us)
          val hi = h - java.lang.Math.floorMod(h, us)
          val n = (hi - lo) / us + 1
          require(n <= maxFrames,
            s"'$name' zero-fill would create $n buckets (cap $maxFrames)")
          spark.range(n)
            .select(timestamp_micros(lit(lo) + col("id") * us).as("key"))
            .join(base, Seq("key"), "left")
            .withColumn("doc_count", coalesce(col("doc_count"), lit(0L)))
        case _ => base // no data and no bounds — nothing to fill
      }
    } else {
      val interval = Option(body.get("interval")).map(_.asDouble)
        .getOrElse(throw new IllegalArgumentException(s"histogram '$name' needs 'interval'"))
      def ebD(k: String) = ebNum(k).map { v =>
        require(v.isNumber, s"histogram '$name' extended_bounds.$k must be a number")
        v.asDouble
      }
      val off = histogramOffset(body, interval, name)
      val r = base.agg(min(col("key")), max(col("key"))).head()
      val obsLo = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      val obsHi = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val lo0 = (ebD("min").toSeq ++ obsLo).reduceOption(_ min _)
      val hi0 = (ebD("max").toSeq ++ obsHi).reduceOption(_ max _)
      (lo0, hi0) match {
        case (Some(l), Some(h)) =>
          // frame key = (k0 + i) · interval (+ offset): the same double
          // arithmetic bucketKey produces, so the join keys are
          // bit-identical. Observed keys are already offset-shifted;
          // extended_bounds are raw values — both floor the same way
          val k0 = math.floor((l - off) / interval)
          val n = (math.floor((h - off) / interval) - k0 + 1).toLong
          require(n > 0 && n <= maxFrames,
            s"'$name' zero-fill would create $n buckets (cap $maxFrames)")
          val frameKey =
            if (off == 0.0) (lit(k0) + col("id")) * interval
            else (lit(k0) + col("id")) * interval + off
          spark.range(n)
            .select(frameKey.as("key"))
            .join(base, Seq("key"), "left")
            .withColumn("doc_count", coalesce(col("doc_count"), lit(0L)))
        case _ => base
      }
    }
  }

  /** ES `cumulative_cardinality`: per histogram bucket, the number of
    * DISTINCT values of the referenced cardinality agg's field seen in any
    * bucket up to and including this one ("new users per day" dashboards).
    *
    * The one pipeline agg a bucket frame cannot answer: cumulative
    * distinct is not a function of per-bucket cardinalities (the same
    * value may appear in many buckets). ES solves it by merging the
    * sibling agg's HLL sketches; the exact Spark shape is first-occurrence
    * derivation — `groupBy(value).agg(min(bucket))` (one hash aggregate
    * keyed on the VALUE, map-side combined, ~|distinct values| rows),
    * per-bucket first-seen counts, then a cumulative sum over the
    * bucket list (bounded — the maxFrames/terms-size cap) joined back to
    * the frame. DECLARED DIVERGENCE: exact where ES is HLL-approximate —
    * the [[metric]] `cardinality` contract. */
  private def applyCumulativeCardinality(docs: DataFrame, key: Column,
                                         buckets: DataFrame,
                                         subAggs: Option[JsonNode],
                                         parent: String): DataFrame = {
    val specs = subAggs.toSeq.flatMap { n =>
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val ts = n.get(sub).fieldNames.asScala.toList
        if (ts == List("cumulative_cardinality"))
          Some((sub, n.get(sub).get("cumulative_cardinality")))
        else None
      }
    }
    specs.foldLeft(buckets) { case (df, (sub, body)) =>
      val unknown = body.fieldNames.asScala.toSet - "buckets_path"
      require(unknown.isEmpty,
        s"unsupported cumulative_cardinality option(s) in '$sub': ${unknown.mkString(", ")}")
      val path = Option(body.get("buckets_path")).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(
          s"cumulative_cardinality '$sub' needs 'buckets_path'"))
      val field = subAggs.flatMap(n => Option(n.get(path))).map { card =>
        require(card.fieldNames.asScala.toList == List("cardinality"),
          s"cumulative_cardinality '$sub': buckets_path '$path' must point " +
            "at a sibling cardinality agg")
        Option(card.get("cardinality").get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"cardinality '$path' needs a 'field'"))
      }.getOrElse(throw new IllegalArgumentException(
        s"cumulative_cardinality '$sub': no sibling agg named '$path'"))
      val firstSeen = docs.where(col(field).isNotNull && key.isNotNull)
        .groupBy(col(field).as("_cc_value")).agg(min(key).as("key"))
        .groupBy("key").agg(count(lit(1)).as("_cc_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("key")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      df.join(firstSeen, Seq("key"), "left")
        .withColumn(sub, sum(coalesce(col("_cc_new"), lit(0L))).over(w))
        .drop("_cc_new")
    }
  }

  /** ES histogram `offset`: shifts every bucket boundary by a constant in
    * `[0, interval)` (bills-land-on-the-3rd data). Shared by [[bucketKey]]
    * and [[zeroFillFrames]] so both sides of the zero-fill join derive the
    * key through identical double arithmetic. */
  private def histogramOffset(body: JsonNode, interval: Double,
                              name: String): Double =
    Option(body.get("offset")).map { n =>
      require(n.isNumber, s"histogram '$name' offset must be a number, got: $n")
      val v = n.asDouble
      require(v >= 0 && v < interval,
        s"histogram '$name' offset must be in [0, interval), got $v")
      v
    }.getOrElse(0.0)

  /** ES fixed_interval duration → microseconds: `<n><unit>` with unit
    * ms/s/m/h/d (calendar units like months are calendar_interval's job —
    * they are not fixed-width). */
  private def fixedIntervalMicros(fi: String, name: String): Long = {
    val m = "^(\\d+)(ms|s|m|h|d)$".r
    fi match {
      case m(n, unit) =>
        val base = unit match {
          case "ms" => 1000L
          case "s" => 1000000L
          case "m" => 60000000L
          case "h" => 3600000000L
          case "d" => 86400000000L
        }
        val v = n.toLong * base
        require(v > 0, s"date_histogram '$name' fixed_interval must be positive")
        v
      case _ => throw new IllegalArgumentException(
        s"date_histogram '$name': bad fixed_interval '$fi' (expected <n>ms|s|m|h|d)")
    }
  }

  /** An ES offset duration ("+3h" / "-30m" / "6h") in signed micros. */
  private def signedDurationMicros(s: String, name: String): Long = {
    val (sign, rest) =
      if (s.startsWith("-")) (-1L, s.drop(1))
      else if (s.startsWith("+")) (1L, s.drop(1))
      else (1L, s)
    sign * fixedIntervalMicros(rest, name)
  }

  /** A FIXED-offset time zone ("+02:00" / "-0530" / "Z" / "UTC") in
    * micros east of UTC — named DST zones are out of the declared subset
    * (they would un-fix a fixed frame width). */
  private def fixedZoneMicros(z: String, name: String): Long = {
    val m = "^([+-])(\\d{2}):?(\\d{2})$".r
    z match {
      case "Z" | "UTC" => 0L
      case m(sg, hh, mm) =>
        val v = hh.toLong * 3600000000L + mm.toLong * 60000000L
        require(hh.toInt <= 18 && mm.toInt < 60,
          s"date_histogram '$name': bad time_zone '$z'")
        if (sg == "-") -v else v
      case _ => throw new IllegalArgumentException(
        s"date_histogram '$name': time_zone '$z' unsupported " +
          "(fixed offsets ±HH:MM / Z only — declared subset)")
    }
  }

  /** The grouping key a bucket-agg spec derives (shared by [[one]]'s
    * groupBy path and [[topHits]]'s window path). */
  private def bucketKey(tpe: String, name: String, body: JsonNode): Column = {
    def fieldOf(n: JsonNode): String = {
      val f = Option(n.get("field")).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(s"'$tpe' in '$name' needs a 'field'"))
      require(f.nonEmpty, s"'$tpe' in '$name' has an empty 'field'")
      f
    }
    tpe match {
      case "terms" =>
        // ES `missing`: docs without the field land in this bucket instead
        // of dropping out (the where(isNotNull) upstream then keeps them)
        Option(body.get("missing")) match {
          case Some(m) =>
            val v: Any = if (m.isTextual) m.asText else m.numberValue
            coalesce(col(fieldOf(body)), lit(v))
          case None => col(fieldOf(body))
        }
      case "date_histogram" =>
        Option(body.get("fixed_interval")).map(_.asText) match {
          case Some(fi) =>
            // ES fixed_interval: uniform epoch-anchored frames ("30m",
            // "6h", "7d" — ms/s/m/h/d units). Pure integer micros
            // arithmetic: bucket = ts div frame * frame, exact at any
            // magnitude (no double rounding), codegen-friendly
            require(!body.has("calendar_interval") && !body.has("interval"),
              s"date_histogram '$name': fixed_interval excludes calendar_interval")
            val us = fixedIntervalMicros(fi, name)
            val tsUs = Tsx.micros(col(fieldOf(body)))
            // ES `offset` shifts bucket anchors by a signed duration;
            // fixed-offset `time_zone` buckets in local time but reports
            // UTC keys. Both are the same anchor shift with opposite
            // signs: bucket = (t − a) − ((t − a) mod frame) + a where
            // a = offset − tz. Declared subset: fixed-offset zones only
            // (named DST zones would un-fix the frame width).
            val offUs = Option(body.get("offset")).map(o =>
              signedDurationMicros(o.asText, name)).getOrElse(0L)
            val tzUs = Option(body.get("time_zone")).map(z =>
              fixedZoneMicros(z.asText, name)).getOrElse(0L)
            val anchor = offUs - tzUs
            // subtract-the-remainder instead of divide-multiply: stays in
            // exact long arithmetic end to end (a double division truncates
            // wrong within half-ulp of frame boundaries); pmod keeps
            // pre-anchor timestamps on the correct side
            if (anchor == 0L) timestamp_micros(tsUs - pmod(tsUs, lit(us)))
            else {
              val shifted = tsUs - lit(anchor)
              timestamp_micros(shifted - pmod(shifted, lit(us)) + lit(anchor))
            }
          case None =>
            require(!body.has("offset") && !body.has("time_zone"),
              s"date_histogram '$name': offset/time_zone support " +
                "fixed_interval only (calendar + zone is DST territory — " +
                "declared subset)")
            val interval = Option(body.get("calendar_interval"))
              .orElse(Option(body.get("interval"))).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                s"date_histogram '$name' needs 'calendar_interval' or 'fixed_interval'"))
            val allowed = Set("year", "quarter", "month", "week", "day", "hour", "minute")
            require(allowed.contains(interval),
              s"unsupported calendar_interval '$interval' (allowed: ${allowed.mkString(", ")})")
            date_trunc(interval.toUpperCase, col(fieldOf(body)))
        }
      case "histogram" =>
        val interval = Option(body.get("interval")).map(_.asDouble)
          .getOrElse(throw new IllegalArgumentException(s"histogram '$name' needs 'interval'"))
        require(interval > 0, s"histogram '$name' interval must be > 0")
        val off = histogramOffset(body, interval, name)
        // offset 0 keeps the exact unshifted expression — `x - 0.0 + 0.0`
        // is NOT a bitwise no-op for negative-zero keys
        if (off == 0.0) floor(col(fieldOf(body)) / interval) * interval
        else floor((col(fieldOf(body)) - off) / interval) * interval + off
      case "range" =>
        val f = fieldOf(body)
        val ranges = Option(body.get("ranges")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(s"range '$name' needs 'ranges'"))
          .elements.asScala.toSeq
        require(ranges.nonEmpty, s"range '$name' has no ranges")
        // ES label: "from-to" with * for an open end; from inclusive, to exclusive
        ranges.foldLeft(lit(null).cast("string")) { (acc, r) =>
          val from = Option(r.get("from")).map(_.asDouble)
          val to = Option(r.get("to")).map(_.asDouble)
          require(from.isDefined || to.isDefined, s"range '$name' bucket needs from or to")
          val label = Option(r.get("key")).map(_.asText).getOrElse(
            s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}")
          val in = (from.map(col(f) >= _), to.map(col(f) < _)) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => lit(true)
          }
          // first matching range wins for overlaps (ES puts a doc in every
          // matching range; one-bucket-per-doc keeps doc_count additive —
          // declared divergence, overlapping ranges are rare and explicit)
          when(acc.isNotNull, acc).otherwise(when(in, lit(label)))
        }
      case "ip_prefix" =>
        // {"ip_prefix": {"field": f, "prefix_length": n}} — bucket IPv4
        // strings by their /n network: key = dotted-quad of (ip AND mask),
        // "/n" appended when append_prefix_length (ES's response key
        // format). Same long math as ip_range so the oracle reproduces it
        // exactly. Declared subset: IPv4 (is_ipv6 accepted only as false).
        val f = fieldOf(body)
        val n = Option(body.get("prefix_length")).map(_.asInt)
          .getOrElse(throw new IllegalArgumentException(
            s"ip_prefix '$name' needs 'prefix_length'"))
        require(n >= 0 && n <= 32,
          s"ip_prefix '$name': prefix_length must be in [0, 32], got $n")
        Option(body.get("is_ipv6")).foreach(v => require(!v.asBoolean,
          s"ip_prefix '$name': IPv4 only (declared subset)"))
        val appendLen = Option(body.get("append_prefix_length"))
          .exists(_.asBoolean)
        val parts = split(col(f), "\\.")
        val ipNum = parts.getItem(0).cast("long") * 16777216L +
          parts.getItem(1).cast("long") * 65536L +
          parts.getItem(2).cast("long") * 256L + parts.getItem(3).cast("long")
        val span = 1L << (32 - n)
        // Column `/` is TRUE division — keep the snap and the quad
        // components in integer math (shift-right + mask)
        val net = shiftrightunsigned(ipNum, 32 - n) * span
        // concat_ws SKIPS nulls — guard so a null address yields a null
        // key (dropped) rather than an empty dotted-quad
        val dotted = when(col(f).isNotNull, concat_ws(".",
          (shiftrightunsigned(net, 24) % 256L).cast("string"),
          (shiftrightunsigned(net, 16) % 256L).cast("string"),
          (shiftrightunsigned(net, 8) % 256L).cast("string"),
          (net % 256L).cast("string")))
        if (appendLen) concat(dotted, lit(s"/$n")) else dotted
      case "ip_range" =>
        // {"ip_range": {"field": f, "ranges": [{"from"/"to": "a.b.c.d"} |
        //  {"mask": "a.b.c.d/n"}]}} — IPv4 dotted-quads on a STRING field
        // compared numerically (a·2²⁴ + b·2¹⁶ + c·2⁸ + d; plain long math
        // the oracle reproduces); from inclusive, to exclusive, a CIDR
        // mask expands to its [network, network + 2^(32−n)) span and
        // labels with the mask text (ES's key). Declared subset: IPv4
        // (IPv6 needs 128-bit math). First matching range wins, like the
        // numeric range fold.
        val f = fieldOf(body)
        val parts = split(col(f), "\\.")
        val ipCol = parts.getItem(0).cast("long") * 16777216L +
          parts.getItem(1).cast("long") * 65536L +
          parts.getItem(2).cast("long") * 256L + parts.getItem(3).cast("long")
        def parseIp(s: String): Long = {
          val ps = s.split("\\.")
          require(ps.length == 4 && ps.forall(p =>
            p.nonEmpty && p.forall(_.isDigit) && p.toInt <= 255),
            s"ip_range '$name': bad IPv4 '$s'")
          ps.map(_.toLong).reduce(_ * 256L + _)
        }
        val ipRanges = Option(body.get("ranges")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            s"ip_range '$name' needs 'ranges'"))
          .elements.asScala.toSeq
        require(ipRanges.nonEmpty, s"ip_range '$name' has no ranges")
        ipRanges.foldLeft(lit(null).cast("string")) { (acc, r) =>
          val unknownIr = r.fieldNames.asScala.toSet --
            Set("from", "to", "mask", "key")
          require(unknownIr.isEmpty,
            s"unsupported ip_range bucket option(s) in '$name': ${unknownIr.mkString(", ")}")
          val (fromN, toN, defLabel) = Option(r.get("mask")).map(_.asText) match {
            case Some(mask) =>
              val Array(ip, bits) = mask.split("/")
              val n = bits.toInt
              require(n >= 0 && n <= 32, s"ip_range '$name': bad mask '$mask'")
              val span = 1L << (32 - n)
              val base = parseIp(ip) / span * span // snap to the network
              (Some(base), Some(base + span), mask)
            case None =>
              val fromS = Option(r.get("from")).map(_.asText)
              val toS = Option(r.get("to")).map(_.asText)
              require(fromS.isDefined || toS.isDefined,
                s"ip_range '$name' bucket needs from, to, or mask")
              (fromS.map(parseIp), toS.map(parseIp),
                s"${fromS.getOrElse("*")}-${toS.getOrElse("*")}")
          }
          val label = Option(r.get("key")).map(_.asText).getOrElse(defLabel)
          val in = (fromN.map(ipCol >= _), toN.map(ipCol < _)) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => lit(true)
          }
          when(acc.isNotNull, acc).otherwise(when(in, lit(label)))
        }
      case "date_range" =>
        // the range fold over timestamp boundaries: from inclusive, to
        // exclusive, label "from-to" (the given strings verbatim).
        // Declared subset: ISO "yyyy-MM-dd[ HH:mm:ss]" strings or
        // epoch_millis numbers — ES date-math ("now-1M") needs a wall
        // clock and is out of the deterministic contract
        val f = fieldOf(body)
        val ranges = Option(body.get("ranges")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(s"date_range '$name' needs 'ranges'"))
          .elements.asScala.toSeq
        require(ranges.nonEmpty, s"date_range '$name' has no ranges")
        def bound(n: JsonNode): (Column, String) =
          if (n.isTextual) {
            require(n.asText.matches("\\d{4}-\\d{2}-\\d{2}( \\d{2}:\\d{2}:\\d{2})?"),
              s"date_range '$name' bound must be ISO yyyy-MM-dd[ HH:mm:ss] " +
                s"or epoch_millis, got '${n.asText}'")
            (to_timestamp(lit(n.asText)), n.asText)
          } else {
            require(n.isIntegralNumber,
              s"date_range '$name' bound must be ISO or epoch_millis, got: $n")
            (timestamp_millis(lit(n.asLong)), n.asLong.toString)
          }
        ranges.foldLeft(lit(null).cast("string")) { (acc, r) =>
          val from = Option(r.get("from")).map(bound)
          val to = Option(r.get("to")).map(bound)
          require(from.isDefined || to.isDefined,
            s"date_range '$name' bucket needs from or to")
          val label = Option(r.get("key")).map(_.asText).getOrElse(
            s"${from.map(_._2).getOrElse("*")}-${to.map(_._2).getOrElse("*")}")
          val in = (from.map(col(f) >= _._1), to.map(col(f) < _._1)) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => lit(true)
          }
          when(acc.isNotNull, acc).otherwise(when(in, lit(label)))
        }
      case other =>
        throw new IllegalArgumentException(s"'$other' in '$name' is not a bucket aggregation")
    }
  }

  /** `top_hits` sub-aggregation: the top documents of every bucket, as doc
    * ROWS (`key` + the doc's columns + `hit_rank`) — a DataFrame has no
    * nested hit lists. The body must be one bucket agg whose single
    * sub-agg is `top_hits`; `size` defaults to 3.
    *
    * DECLARED DIVERGENCE from ES: `sort` is REQUIRED (ES defaults to
    * `_score`; a deterministic engine needs an explicit order), as
    * `[{"field": "asc"|"desc"}, ...]` or the long
    * `[{"field": {"order": ...}}]` form, and `idCol` always appends as the
    * final ascending tiebreak. The per-bucket top-k is a window partitioned
    * by the bucket key — bounded by bucket size, never a global window. */
  def topHits(docs: DataFrame, body: String, idCol: String = "doc_id"): DataFrame = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "search body must be a JSON object")
    val aggsNode = Option(root.get("aggs")).orElse(Option(root.get("aggregations")))
      .getOrElse(throw new IllegalArgumentException("missing 'aggs'/'aggregations'"))
    require(aggsNode.isObject && aggsNode.size == 1,
      "top_hits body must have exactly one bucket aggregation")
    val name = aggsNode.fieldNames.asScala.next()
    val spec = aggsNode.get(name)
    val types = spec.fieldNames.asScala.filterNot(f => f == "aggs" || f == "aggregations").toList
    require(types.size == 1 && bucketTypes.contains(types.head),
      s"'$name' must be a single bucket aggregation, got: $types")
    val subAggs = Option(spec.get("aggs")).orElse(Option(spec.get("aggregations")))
      .getOrElse(throw new IllegalArgumentException(s"'$name' needs a top_hits sub-agg"))
    val subNames = subAggs.fieldNames.asScala.toList
    require(subNames.size == 1 && subAggs.get(subNames.head).has("top_hits"),
      s"'$name' must have exactly one top_hits sub-agg")
    val th = subAggs.get(subNames.head).get("top_hits")
    val size = Option(th.get("size")).map(_.asInt).getOrElse(3)
    require(size >= 1, "top_hits size must be >= 1")
    val sortNode = Option(th.get("sort")).filter(_.isArray)
      .getOrElse(throw new IllegalArgumentException(
        "top_hits needs an explicit 'sort' (deterministic-order contract)"))
    val sorts = sortNode.elements.asScala.toSeq.map { s =>
      require(s.isObject && s.size == 1, s"sort entry must be {field: order}, got: $s")
      val f = s.fieldNames.asScala.next()
      val ord = if (s.get(f).isTextual) s.get(f).asText
                else Option(s.get(f).get("order")).map(_.asText).getOrElse("asc")
      ord match {
        case "asc" => col(f).asc
        case "desc" => col(f).desc
        case other => throw new IllegalArgumentException(s"bad sort order '$other'")
      }
    } :+ col(idCol).asc
    val filtered =
      if (root.has("query"))
        docs.where(QueryCompiler.compile(body, Int.MaxValue, idCol).predicate)
      else docs
    val key = bucketKey(types.head, name, spec.get(types.head))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(sorts: _*)
    filtered.where(key.isNotNull).withColumn("key", key)
      .withColumn("hit_rank", row_number().over(w))
      .where(col("hit_rank") <= size)
  }

  /** groupBy the bucket key, count, and append metric sub-aggs. */
  /** Metric columns of a bucket agg's sub-agg block (shared by
    * [[bucketed]] and the single-bucket `filter`/`global` aggs). */
  private def subAggMetricCols(subAggs: Option[JsonNode], parent: String,
                               allowedPipelines: Set[String],
                               histoIntervalUs: Option[Long] = None,
                               idCol: String = "doc_id"): Seq[Column] =
    subAggs.toSeq.flatMap { n =>
      require(n.isObject, s"sub-aggs of '$parent' must be an object")
      n.fieldNames.asScala.toSeq.flatMap { sub =>
        val subSpec = n.get(sub)
        val ts = subSpec.fieldNames.asScala.toList
        require(ts.size == 1 && !ts.exists(t =>
          t == "aggs" || t == "aggregations" || bucketTypes.contains(t)),
          s"sub-agg '$sub' of '$parent' must be a single metric (no nested buckets)")
        // pipeline aggs transform the bucket frame afterwards
        // ([[applyPipelines]]), not the groupBy — sequence pipelines only
        // under the histogram family (the ordered axis), shaping pipelines
        // under terms too; elsewhere they fail loud (silently dropping
        // the column broke the fail-loud contract)
        if (pipelineTypes.contains(ts.head)) {
          require(allowedPipelines.contains(ts.head),
            s"pipeline sub-agg '$sub' (${ts.head}) of '$parent' is not " +
              "valid under this parent (sequence pipelines need a " +
              "histogram-family parent; bucket_script/selector/sort also " +
              "allow terms)")
          Nil
        } else if (ts.head == "rate") {
          // per-bucket rate re-expressed in `unit`: (sum(field) | doc
          // count) · unit/interval — one more column of the SAME groupBy,
          // scaled by a compile-time constant. Needs the parent's fixed
          // bucket width, so: date_histogram + fixed_interval parents
          // only, fixed-width units (declared subset; ES also allows
          // calendar units and month/quarter/year).
          val rb = subSpec.get("rate")
          val unknownR = rb.fieldNames.asScala.toSet -- Set("unit", "field")
          require(unknownR.isEmpty,
            s"unsupported rate option(s) in '$sub': ${unknownR.mkString(", ")}")
          val iv = histoIntervalUs.getOrElse(throw new IllegalArgumentException(
            s"rate '$sub' needs a date_histogram parent with fixed_interval " +
              "(declared subset)"))
          val unitUs = Option(rb.get("unit")).map(_.asText).getOrElse("day") match {
            case "second" => 1000000L
            case "minute" => 60000000L
            case "hour" => 3600000000L
            case "day" => 86400000000L
            case "week" => 7L * 86400000000L
            case other => throw new IllegalArgumentException(
              s"rate '$sub': unsupported unit '$other' " +
                "(second|minute|hour|day|week — fixed-width units only)")
          }
          val base = Option(rb.get("field")) match {
            case Some(fn) => sum(col(fn.asText))
            case None => count(lit(1))
          }
          Seq((base * (unitUs.toDouble / iv.toDouble)).as(sub))
        } else if (ts.head == "reverse_nested") {
          // per-bucket parent-doc count under a nested>terms frame: the
          // distinct parent ids in the bucket — one more column of the
          // same groupBy
          val rb = subSpec.get("reverse_nested")
          require(rb.isObject && rb.size == 0,
            s"reverse_nested '$sub' takes an empty body (declared subset)")
          Seq(count_distinct(col(idCol)).as(s"${sub}_doc_count"))
        } else metric(ts.head, sub, subSpec.get(ts.head))
      }
    }

  private def bucketed(docs: DataFrame, key: Column, subAggs: Option[JsonNode],
                       parent: String,
                       allowedPipelines: Set[String] = Set.empty,
                       histoIntervalUs: Option[Long] = None,
                       idCol: String = "doc_id"): DataFrame = {
    val metrics = subAggMetricCols(subAggs, parent, allowedPipelines,
      histoIntervalUs, idCol)
    val aggCols = (count(lit(1)).as("doc_count") +: metrics)
    docs.where(key.isNotNull).groupBy(key.as("key"))
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** A metric agg as aggregate column(s) named by the agg name. */
  /** ES terms-agg `order`: `{"_count"|"_key"|<metric sub-agg>: "asc"|
    * "desc"}`. Default _count desc. The key always appends ascending so
    * ties (and the size cut) stay deterministic — ES's own tiebreak.
    * Declared subset: one order target (ES also takes an array), and a
    * metric target must be a single-value sub-agg (no stats/percentiles
    * dotted paths). */
  private val singleValueMetrics =
    Set("avg", "sum", "min", "max", "value_count", "cardinality", "weighted_avg")

  private def termsOrder(body: JsonNode, subAggs: Option[JsonNode],
                         parent: String): Seq[Column] =
    Option(body.get("order")) match {
      case None => Seq(desc("doc_count"), asc("key"))
      case Some(o) =>
        require(o.isObject && o.size == 1,
          s"terms '$parent' order must be one {target: direction} object")
        val target = o.fieldNames.asScala.next()
        val dir = o.get(target).asText
        require(dir.equalsIgnoreCase("asc") || dir.equalsIgnoreCase("desc"),
          s"terms '$parent' order direction must be asc or desc, got '$dir'")
        val c = target match {
          case "_count" => col("doc_count")
          case "_key" | "_term" => col("key") // _term: the pre-6.0 ES alias
          case sub =>
            val ok = subAggs.exists(n => Option(n.get(sub)).exists { ss =>
              val ts = ss.fieldNames.asScala.toList
              ts.size == 1 && singleValueMetrics.contains(ts.head)
            })
            require(ok, s"terms '$parent' order target '$sub' must be _key, " +
              "_count, or a single-value metric sub-agg")
            col(sub)
        }
        Seq(if (dir.equalsIgnoreCase("asc")) c.asc else c.desc, asc("key"))
    }

  private def metric(tpe: String, name: String, body: JsonNode): Seq[Column] = {
    // weighted_avg nests {value:{field},weight:{field}} instead of a flat
    // field — handle before the flat-field contract below
    if (tpe == "weighted_avg") {
      def fieldIn(part: String): String = Option(body.get(part))
        .flatMap(n => Option(n.get("field")).map(_.asText))
        .getOrElse(throw new IllegalArgumentException(
          s"weighted_avg '$name' needs '$part': {\"field\": ...}"))
      val (v, w) = (col(fieldIn("value")), col(fieldIn("weight")))
      // Σ(v·w)/Σ(w) over rows where both sides exist (ES skips missing)
      val mask = v.isNotNull && w.isNotNull
      return Seq((sum(when(mask, v * w)) / sum(when(mask, w))).as(name))
    }
    if (tpe == "scripted_metric") {
      // ES map/combine/reduce metric. DECLARED subset: `map_script` is an
      // arithmetic expression over the doc's own numeric fields (the
      // [[Script]] grammar, same as runtime fields), and combine/reduce
      // collapse to ONE associative `reduce` op (sum default, avg|min|max)
      // — exactly the shape Spark's partial aggregation already executes:
      // map_script per row, combine map-side per partition, reduce across
      // partitions. Arbitrary stateful painless bodies are out of scope.
      val unknownS = body.fieldNames.asScala.toSet -- Set("map_script", "reduce")
      require(unknownS.isEmpty,
        s"unsupported scripted_metric option(s) in '$name': ${unknownS.mkString(", ")} " +
          "(map_script/reduce — declared subset)")
      val src = Option(body.get("map_script")).filter(_.isTextual).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(
          s"scripted_metric '$name' needs a 'map_script'"))
      // bind every identifier in the script to the doc column of the same
      // name (the runtime-field convention)
      val ids = "[A-Za-z_][A-Za-z0-9_.]*".r.findAllIn(src)
        .filterNot(_.startsWith("params.")).toSet
      val mapped = Script.compile(src, ids.map(i => i -> col(i)).toMap,
        s"scripted_metric '$name'")
      val c = Option(body.get("reduce")).map(_.asText).getOrElse("sum") match {
        case "sum" => sum(mapped)
        case "avg" => avg(mapped)
        case "min" => min(mapped)
        case "max" => max(mapped)
        case other => throw new IllegalArgumentException(
          s"scripted_metric '$name': unsupported reduce '$other' " +
            "(sum|avg|min|max)")
      }
      return Seq(c.as(name))
    }
    if (tpe == "geo_line") {
      // ES geo_line: the bucket's points as an ordered track. Emitted as
      // one "lat,lon;lat,lon;…" string (the flat analog of ES's GeoJSON
      // LineString), sorted by the sort field with (lat, lon) tiebreaks so
      // equal sort keys stay deterministic. The collect is bounded by the
      // `size` cap AFTER sort like ES (default 10000); a per-entity track
      // is bounded in practice — this is a per-bucket aggregate, never a
      // corpus-wide collect.
      val unknownG = body.fieldNames.asScala.toSet -- Set("point", "sort", "size")
      require(unknownG.isEmpty,
        s"unsupported geo_line option(s) in '$name': ${unknownG.mkString(", ")}")
      def fieldIn(part: String): String = Option(body.get(part))
        .flatMap(n => Option(n.get("field")).map(_.asText))
        .getOrElse(throw new IllegalArgumentException(
          s"geo_line '$name' needs '$part': {\"field\": ...}"))
      val (pf, sf) = (fieldIn("point"), fieldIn("sort"))
      val sizeG = Option(body.get("size")).map(_.asInt).getOrElse(10000)
      require(sizeG >= 1, s"geo_line '$name' size must be >= 1")
      val pts = array_sort(collect_list(struct(col(sf).as("s"),
        col(pf).getField("lat").as("lat"), col(pf).getField("lon").as("lon"))))
      return Seq(array_join(transform(slice(pts, 1, sizeG),
        p => concat(p.getField("lat").cast("string"), lit(","),
          p.getField("lon").cast("string"))), ";").as(name))
    }
    // top_metrics also nests its fields ({"metrics":{...},"sort":[...]})
    // — handled before the flat-field contract below
    if (tpe == "top_metrics") {
      // the metric value AT the top sort row — argmax as an aggregate
      // (Spark max_by/min_by: one map-side-combinable column, no window,
      // no row materialization). Declared subset: ONE metric field, ONE
      // sort key, size 1; sort ties resolve to the extreme metric value,
      // which keeps the answer deterministic (ES leaves ties unspecified).
      // Column: <name>_<metric field>.
      val unknownT = body.fieldNames.asScala.toSet -- Set("metrics", "sort", "size")
      require(unknownT.isEmpty,
        s"unsupported top_metrics option(s) in '$name': ${unknownT.mkString(", ")}")
      Option(body.get("size")).foreach { n =>
        require(n.isIntegralNumber && n.asInt == 1,
          s"top_metrics '$name' size must be 1 (declared subset)")
      }
      val mNode = Option(body.get("metrics")).map { n =>
        if (n.isArray) {
          require(n.size == 1,
            s"top_metrics '$name': one metric field only (declared subset)")
          n.get(0)
        } else n
      }.getOrElse(throw new IllegalArgumentException(
        s"top_metrics '$name' needs 'metrics'"))
      val mf = Option(mNode.get("field")).filter(_.isTextual).map(_.asText)
        .getOrElse(throw new IllegalArgumentException(
          s"top_metrics '$name' metrics needs a 'field'"))
      val sNode = Option(body.get("sort")).map { n =>
        if (n.isArray) {
          require(n.size == 1,
            s"top_metrics '$name': one sort key only (declared subset)")
          n.get(0)
        } else n
      }.getOrElse(throw new IllegalArgumentException(
        s"top_metrics '$name' needs 'sort'"))
      require(sNode.isObject && sNode.size == 1,
        s"top_metrics '$name' sort must be {field: order}, got: $sNode")
      val sf = sNode.fieldNames.asScala.next()
      val dir = sNode.get(sf).asText
      require(dir == "asc" || dir == "desc",
        s"top_metrics '$name' sort order must be asc or desc, got '$dir'")
      // rows missing the sort field are skipped (ES semantics): a null
      // ordering value makes max_by/min_by ignore the row, but a STRUCT
      // of a null field is itself non-null — guard explicitly
      val ord = when(col(sf).isNotNull, struct(col(sf), col(mf)))
      val picked = if (dir == "desc") max_by(col(mf), ord) else min_by(col(mf), ord)
      return Seq(picked.as(s"${name}_$mf"))
    }
    if (tpe == "matrix_stats") {
      // Pairwise second-moment statistics across fields. DECLARED SUBSET:
      // exactly TWO fields; rows missing either field are skipped
      // (pairwise-complete — ES's default missing handling); sample
      // moments. Emits the flattened cells: count, per-field
      // mean/variance, and the cross covariance + correlation — the
      // off-diagonal entries of ES's matrices (the diagonals ARE the
      // variances). One map-side-combinable aggregate; no shuffle beyond
      // the group keys.
      val unknownM = body.fieldNames.asScala.toSet -- Set("fields")
      require(unknownM.isEmpty,
        s"unsupported matrix_stats option(s) in '$name': ${unknownM.mkString(", ")}")
      val fs = Option(body.get("fields")).filter(_.isArray)
        .map(_.elements.asScala.toSeq.map(_.asText))
        .getOrElse(throw new IllegalArgumentException(
          s"matrix_stats '$name' needs 'fields': [..]"))
      require(fs.size == 2,
        s"matrix_stats '$name' supports exactly 2 fields (declared subset), got ${fs.size}")
      val Seq(fa, fb) = fs
      val mask = col(fa).isNotNull && col(fb).isNotNull
      val (a, b) = (when(mask, col(fa)), when(mask, col(fb)))
      return Seq(
        count(a).as(s"${name}_count"),
        avg(a).as(s"${name}_mean_$fa"), avg(b).as(s"${name}_mean_$fb"),
        var_samp(a).as(s"${name}_variance_$fa"),
        var_samp(b).as(s"${name}_variance_$fb"),
        covar_samp(a, b).as(s"${name}_covariance"),
        corr(a, b).as(s"${name}_correlation"))
    }
    if (tpe == "t_test") {
      // Two-sample Student's t STATISTIC; `type`: paired / homoscedastic
      // (pooled variance) / heteroscedastic (Welch — the ES default).
      // DECLARED SUBSET: the t statistic, not ES's p-value — the p-value
      // needs the t CDF (regularized incomplete beta), which no composition
      // of builtin aggregates (or oracle SQL) states; the statistic is the
      // deterministic sufficient part. Each side is a guarded column, so
      // the whole test is ONE aggregate pass over the data.
      val unknownTT = body.fieldNames.asScala.toSet -- Set("a", "b", "type")
      require(unknownTT.isEmpty,
        s"unsupported t_test option(s) in '$name': ${unknownTT.mkString(", ")}")
      def side(k: String): (Column, Option[Column]) = {
        val n = Option(body.get(k)).getOrElse(throw new IllegalArgumentException(
          s"t_test '$name' needs '$k': {\"field\": ...}"))
        val f = Option(n.get("field")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"t_test '$name' side '$k' needs a 'field'"))
        val pred = Option(n.get("filter")).map { fq =>
          val q = mapper.createObjectNode()
          q.set[JsonNode]("query", fq)
          QueryCompiler.compile(q.toString, Int.MaxValue).predicate
        }
        (col(f), pred)
      }
      val (va, pa) = side("a")
      val (vb, pb) = side("b")
      val tt = Option(body.get("type")).map(_.asText).getOrElse("heteroscedastic")
      return tt match {
        case "paired" =>
          // per-row differences on rows where BOTH sides exist; filters
          // would break the row pairing (ES rejects them here too)
          require(pa.isEmpty && pb.isEmpty,
            s"t_test '$name': paired type does not take filters")
          val d = when(va.isNotNull && vb.isNotNull, va - vb)
          Seq((avg(d) / (stddev_samp(d) / sqrt(count(d)))).as(name))
        case "homoscedastic" | "heteroscedastic" =>
          val a = when(pa.getOrElse(lit(true)) && va.isNotNull, va)
          val b = when(pb.getOrElse(lit(true)) && vb.isNotNull, vb)
          val (na, nb) = (count(a), count(b))
          val diff = avg(a) - avg(b)
          val t =
            if (tt == "heteroscedastic")
              diff / sqrt(var_samp(a) / na + var_samp(b) / nb)
            else {
              val sp2 = ((na - lit(1)) * var_samp(a) + (nb - lit(1)) * var_samp(b)) /
                (na + nb - lit(2))
              diff / sqrt(sp2 * (lit(1.0) / na + lit(1.0) / nb))
            }
          Seq(t.as(name))
        case other => throw new IllegalArgumentException(
          s"t_test '$name': unknown type '$other' " +
            "(paired | homoscedastic | heteroscedastic)")
      }
    }
    val f = Option(body.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException(s"metric '$name' needs a 'field'"))
    if (tpe == "geo_bounds")
      // enclosing box of a struct<lat,lon> geo field (wrap_longitude:false
      // semantics — plain min/max corners), flattened like stats
      return Seq(
        max(col(f).getField("lat")).as(s"${name}_top"),
        min(col(f).getField("lat")).as(s"${name}_bottom"),
        min(col(f).getField("lon")).as(s"${name}_left"),
        max(col(f).getField("lon")).as(s"${name}_right"))
    if (tpe == "geo_centroid")
      // arithmetic mean point + contributing count (ES response shape)
      return Seq(
        avg(col(f).getField("lat")).as(s"${name}_lat"),
        avg(col(f).getField("lon")).as(s"${name}_lon"),
        count(when(col(f).isNotNull, 1)).as(s"${name}_count"))
    // ES metric `missing`: substitute for null field values instead of
    // skipping the row
    val c = Option(body.get("missing")) match {
      case Some(m) =>
        val v: Any = if (m.isTextual) m.asText else m.numberValue
        coalesce(col(f), lit(v))
      case None => col(f)
    }
    tpe match {
      case "avg" => Seq(avg(c).as(name))
      case "sum" => Seq(sum(c).as(name))
      case "min" => Seq(min(c).as(name))
      case "max" => Seq(max(c).as(name))
      case "value_count" => Seq(count(c).as(name))
      case "cardinality" =>
        // default: EXACT count-distinct (declared divergence — a superset
        // contract vs ES's always-approximate HLL). `precision_threshold`
        // opts INTO the approximate path: Spark's own HyperLogLog++
        // (deterministic, hash-based — same sketch family ES uses), with
        // the threshold mapped to a relative error of 1.04/√threshold
        // (the HLL error law: ES sizes its precision so counts up to the
        // threshold stay near-exact). At 100 TB the approx path is the
        // scale lever: a fixed-size sketch per partition instead of a
        // distinct-key shuffle.
        Option(body.get("precision_threshold")) match {
          case Some(n) =>
            require(n.isIntegralNumber && n.asInt >= 1,
              s"cardinality '$name' precision_threshold must be a positive " +
                s"integer, got: $n")
            val rsd = math.min(0.1, math.max(0.005,
              1.04 / math.sqrt(n.asInt.toDouble)))
            Seq(approx_count_distinct(c, rsd).as(name))
          case None => Seq(count_distinct(c).as(name))
        }
      case "stats" => Seq(
        count(col(f)).as(s"${name}_count"), min(col(f)).as(s"${name}_min"),
        max(col(f)).as(s"${name}_max"), avg(col(f)).as(s"${name}_avg"),
        sum(col(f)).as(s"${name}_sum"))
      case "extended_stats" => Seq(
        // ES extended_stats: stats + sum-of-squares and POPULATION
        // variance/stddev (ES's default sigma view), flattened like stats
        count(col(f)).as(s"${name}_count"), min(col(f)).as(s"${name}_min"),
        max(col(f)).as(s"${name}_max"), avg(col(f)).as(s"${name}_avg"),
        sum(col(f)).as(s"${name}_sum"),
        sum(col(f) * col(f)).as(s"${name}_sum_of_squares"),
        var_pop(col(f)).as(s"${name}_variance"),
        stddev_pop(col(f)).as(s"${name}_std_deviation"))
      case "percentiles" =>
        // EXACT linear-interpolated percentiles (Spark `percentile`, one
        // sort-based aggregate) — declared divergence from ES's t-digest
        // approximation, same exactness trade as `cardinality`. Flattened
        // to <name>_p<percent> columns ('.' → '_').
        val percents = Option(body.get("percents")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asDouble))
          .getOrElse(Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0))
        require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
          s"percentiles '$name' percents must be in [0, 100]")
        percents.map { p =>
          val suffix = (if (p == p.floor) p.toInt.toString else p.toString)
            .replace('.', '_')
          percentile(col(f), lit(p / 100.0)).as(s"${name}_p$suffix")
        }
      case "percentile_ranks" =>
        // the inverse of `percentiles`: for each probe value, the percent
        // of observed values at or below it — the EXACT empirical CDF
        // (one guarded aggregate per probe; no sort, map-side combinable).
        // DECLARED DIVERGENCE: ES interpolates through its t-digest; the
        // exact rank is the deterministic superset contract, same trade as
        // `percentiles`/`cardinality`. Flattened to <name>_<value> ('.'
        // → '_'), mirroring the percentiles column convention.
        val values = Option(body.get("values")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asDouble))
          .getOrElse(throw new IllegalArgumentException(
            s"percentile_ranks '$name' needs 'values': [..]"))
        require(values.nonEmpty, s"percentile_ranks '$name' values must be non-empty")
        values.map { v =>
          val suffix = (if (v == v.floor && !v.isInfinite) v.toLong.toString
            else v.toString).replace('.', '_')
          (sum(when(c.isNotNull && c <= lit(v), 1L).otherwise(0L)) * 100.0 /
            count(c)).as(s"${name}_$suffix")
        }
      case "boxplot" =>
        // five-number summary: min / q1 / q2 / q3 / max, flattened like
        // `stats`. EXACT interpolated quartiles (Spark `percentile`, one
        // sort-based aggregate) — the same declared divergence from ES's
        // t-digest approximation as `percentiles`.
        Seq(min(c).as(s"${name}_min"), max(c).as(s"${name}_max"),
          percentile(c, lit(0.25)).as(s"${name}_q1"),
          percentile(c, lit(0.5)).as(s"${name}_q2"),
          percentile(c, lit(0.75)).as(s"${name}_q3"))
      case "string_stats" =>
        // value count, length min/max/avg, and Shannon entropy of the
        // corpus-wide character distribution ([[graft.functions.CharEntropy]]:
        // a distributed code-point histogram — alphabet-bounded partials,
        // map-side combinable, one pass)
        Seq(count(c).as(s"${name}_count"),
          min(length(c)).as(s"${name}_min_length"),
          max(length(c)).as(s"${name}_max_length"),
          avg(length(c)).as(s"${name}_avg_length"),
          org.apache.spark.sql.graft.Bridge.column(
            graft.functions.CharEntropy(
              org.apache.spark.sql.graft.Bridge.expression(c))
              .toAggregateExpression()).as(s"${name}_entropy"))
      case "median_absolute_deviation" => throw new IllegalArgumentException(
        s"median_absolute_deviation '$name' is supported top-level only " +
          "(a per-bucket inner median needs a bucket-keyed join; declared subset)")
      case other => throw new IllegalArgumentException(s"unsupported aggregation type '$other'")
    }
  }
}
