package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.functions.WordRuns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Read-path search executor (R4-R10).
  *
  * Reference lifecycle (SURVEY.md §3.1): query string → ES search → ordered
  * hits → PK reconstruction → per-row Cassandra loads → metadata enrichment.
  * Spark shape: `docs.where(pred).withColumn(score).orderBy(...).limit(k)`
  * then an (optionally broadcast) join back to the base table. The per-hit
  * point-read fan-out (reference: StreamingPartitionIterator.java:102-178)
  * becomes one join whose strategy Catalyst/AQE picks — broadcast when the
  * hit list is small, shuffled hash otherwise; at 100 TB a capped top-k hit
  * list (max-results, default 10k) is always broadcastable.
  */
object Search {

  /** Execute a compiled query over the doc table: filter, score, order by
    * relevance with a deterministic `doc_id` tiebreak (ES order is opaque;
    * ours must be reproducible), cap at max-results
    * (reference: ElasticIndex.java:658-722; cap IndexConfig.java:64-65). */
  def topK(docs: DataFrame, q: CompiledQuery, cfg: IndexConfig,
           tiebreak: String = "doc_id"): DataFrame =
    rankHits(scoredMatches(docs, q), q, cfg, tiebreak)

  /** The scoring half of [[topK]]: the matches with their `_score`, above
    * the `min_score` floor — exactly the set ES `hits.total` counts. */
  private[graft] def scoredMatches(docs: DataFrame, q: CompiledQuery): DataFrame = {
    val scored = docs.where(q.predicate).withColumn("_score", q.score)
    // min_score: a post-scoring filter before any paging/collapse — hits
    // under the floor never enter the top-k
    q.minScore.fold(scored)(ms => scored.where(col("_score") >= lit(ms)))
  }

  /** The engine's relevance order: `_score` descending, then `idCol`
    * ascending — the tiebreak that makes every hit list a total order. */
  private[graft] def relevanceOrder(idCol: String): Seq[Column] =
    Seq(desc("_score"), col(idCol).asc)

  /** [[rankHits]] for an operator without paging or shaping fields: the
    * top `limit` of `scored` in relevance order, under the cap. */
  private[graft] def rankHits(scored: DataFrame, limit: Int, cfg: IndexConfig,
                              tiebreak: String): DataFrame =
    rankHits(scored, CompiledQuery(lit(true), col("_score"), Some(limit)), cfg, tiebreak)

  /** The ranking half of [[topK]] over `scored` (rows carrying `_score`):
    * `search_after`, `sort`, `collapse`/inner hits, `from` and the
    * max-results cap — the one hit order of every scored operator. */
  private[graft] def rankHits(scored: DataFrame, q: CompiledQuery, cfg: IndexConfig,
                              tiebreak: String): DataFrame = {
    val limit = q.limit.getOrElse(cfg.maxResults).min(cfg.maxResults)
    // ES max_result_window guard: offset paging ranks its whole prefix, so
    // the window end must fit the cap (deep pages belong to search_after).
    // Long arithmetic: an Int sum overflows for a pathological `from` and
    // would slip past the guard as a negative number
    require(q.from.toLong + limit <= cfg.maxResults,
      s"from + size (${q.from} + $limit) exceeds max-results ${cfg.maxResults}")
    // search_after: keyset-resume strictly after (score, id) in the
    // (score DESC, id ASC) total order — the page predicate composes with
    // the scan filter, so every page is one pruned top-k, never a
    // whole-prefix re-rank (ES search_after semantics)
    val paged = q.searchAfter match {
      case Some((s, id)) => scored.where(
        col("_score") < s || (col("_score") === s && col(tiebreak) > lit(id)))
      case None => scored
    }
    // ES body `sort` replaces the relevance order; the id tiebreak always
    // appends so every result set has a total order
    val order = q.sort match {
      case Some(keys) => keys.map { case (c, asc) =>
        if (asc) c.asc else c.desc
      } :+ col(tiebreak).asc
      case None => relevanceOrder(tiebreak)
    }
    // ES collapse: keep each field value's top hit in the result order.
    // Under the DEFAULT relevance order this is an argmin per key —
    // min_by over the (-score, tiebreak) struct — a map-side-combinable
    // hash aggregate: no per-key window, so a low-cardinality collapse
    // key (5 langs over 100 TB) cannot skew a handful of partitions.
    // A custom body `sort` (arbitrary types/directions, not encodable as
    // one orderable struct) keeps the key-partitioned window — bounded
    // per group, and custom-sorted collapses are the rare shape.
    // collapse + inner_hits: every hit of the top-`limit` groups, ranked
    // within its group — the flat analog of ES's per-hit inner_hits array
    // (group membership is the collapse-key column itself; the outer page
    // is the `_inner_rank = 1` subset). Two-phase bounded top-k: a salted
    // local window first, then the global per-key window over at most
    // SALT*k survivors per key — a low-cardinality collapse key (a handful
    // of langs over 100 TB) never lands one key's whole row set in a
    // single window partition.
    if (q.collapseInner.isDefined) {
      val k = q.collapseInner.get
      val f = q.collapseField.get
      val SALT = 32
      val wSalt = Window.partitionBy(col(f), pmod(xxhash64(col(tiebreak)), lit(SALT)))
        .orderBy(relevanceOrder(tiebreak): _*)
      val local = paged.withColumn("_r", row_number().over(wSalt))
        .where(col("_r") <= k).drop("_r")
      val wKey = Window.partitionBy(col(f)).orderBy(relevanceOrder(tiebreak): _*)
      val inner = local.withColumn("_inner_rank", row_number().over(wKey))
        .where(col("_inner_rank") <= k)
      // outer page: the top `limit` group heads by relevance; the heads
      // list is ≤ limit rows — always broadcastable
      val heads = inner.where(col("_inner_rank") === 1)
        .orderBy(relevanceOrder(tiebreak): _*).limit(limit)
        .select(col(f).as("_head_key"))
      val wHead = Window.partitionBy(col(f))
      return inner
        .join(broadcast(heads), col(f) === col("_head_key"), "left_semi")
        .withColumn("_head_score", max(col("_score")).over(wHead))
        .orderBy(desc("_head_score"), col(f).asc, col("_inner_rank").asc)
        .drop("_head_score")
    }
    val collapsed = (q.collapseField, q.sort) match {
      case (Some(f), None) =>
        val cols = paged.columns
        val ordKey = struct((col("_score") * -1).as("s"),
          col(tiebreak).as("t"))
        paged.groupBy(col(f).as("_collapse_key"))
          .agg(min_by(struct(cols.map(col): _*), ordKey).as("_top"))
          .select(cols.map(c => col(s"_top.$c").as(c)): _*)
      case (Some(f), Some(_)) =>
        val w = Window.partitionBy(col(f)).orderBy(order: _*)
        paged.withColumn("_collapse_rank", row_number().over(w))
          .where(col("_collapse_rank") === 1).drop("_collapse_rank")
      case _ => paged
    }
    val ranked = collapsed.orderBy(order: _*)
    (if (q.from > 0) ranked.offset(q.from) else ranked).limit(limit)
  }

  /** One-call search: parse + compile + execute.
    * `#options:load-rows=false#` (R1/S8) short-circuits to a PK-only
    * projection — no join, no row load
    * (reference: QueryMetaData.java:64-67; FakePartitionIterator.java:91-119).
    * `#options:load-source=true#` attaches each hit's full document as a
    * `_source` JSON column, the ES `_source` the reference surfaces in the
    * hit metadata (reference: QueryMetaData.java:70-75; metadata injection
    * FakePartitionIterator.java:104-114). */
  def search(docs: DataFrame, query: String, cfg: IndexConfig,
             pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    val meta = QueryMeta.parse(query)
    val compiled = QueryCompiler.compile(meta.query, cfg.maxResults, pkCols.head,
      QueryCompiler.resolveOperator(meta, cfg.defaultOperator), docs.schema)
    shapeHits(topK(docs, compiled, cfg, pkCols.head), docs.columns.toSeq, meta,
      compiled, pkCols)
  }

  /** The response shaping every hit tail shares: the load-source `_source`
    * column, `script_fields`, then the PK-only, full-row or body-`_source`
    * projection. `docCols` are the searched doc frame's columns; `carry`
    * names hit columns every projection keeps. */
  private[graft] def shapeHits(hits0: DataFrame, docCols: Seq[String], meta: QueryMeta,
                               compiled: CompiledQuery, pkCols: Seq[String],
                               carry: Seq[String] = Nil): DataFrame = {
    val hits1 = withSource(hits0, docCols, meta)
    // script_fields: per-hit derived columns through the Script grammar,
    // `doc.<col>` (and bare column names) bound to the frame — pure column
    // math appended to the hit rows, codegen'd with the projection
    val (hits, sfNames) = compiled.scriptFields match {
      case Some(sfs) =>
        // ES script_fields are ADDITIVE response fields — a name colliding
        // with a stored column, a pk, or the engine's _score/_source would
        // silently clobber it through withColumn; reject loudly instead
        val reserved = docCols.toSet ++ pkCols + "_score" + "_source"
        val clash = sfs.map(_._1).filter(reserved.contains)
        require(clash.isEmpty,
          s"script_fields name(s) collide with existing columns: " +
            s"${clash.mkString(", ")} — script_fields are additive, rename them")
        val dups = sfs.map(_._1).groupBy(identity).collect {
          case (n, vs) if vs.size > 1 => n }
        require(dups.isEmpty,
          s"duplicate script_fields name(s): ${dups.mkString(", ")}")
        val bind: Map[String, Column] = docCols
          .flatMap(c => Seq(c -> col(c), s"doc.$c" -> col(c))).toMap
        val withSf = sfs.foldLeft(hits1) { case (h, (n, src)) =>
          h.withColumn(n, Aggs.Script.compile(src, bind, s"script_fields.$n"))
        }
        (withSf, sfs.map(_._1))
      case None => (hits1, Seq.empty[String])
    }
    val tail = (sfNames ++ carry ++ (if (meta.loadSource) Seq("_source") else Nil))
      .map(col)
    if (!meta.loadRows)
      hits.select((pkCols.map(col) :+ col("_score")) ++ tail: _*)
    else compiled.sourceFields match {
      // body `_source` filter: response shaping that Catalyst turns into
      // scan column pruning (ReadSchema shrinks — PlanSpec-proven).
      // Orthogonal to the load-source OPTION, which attaches the full doc
      // as one JSON column and is kept when requested.
      case Some(fields) =>
        hits.select((pkCols ++ fields).distinct.map(col) ++ Seq(col("_score")) ++ tail: _*)
      case None => hits
    }
  }

  /** ES-style highlighting: run the search, then wrap every match of the
    * query's positive text leaves in `pre`/`post` markup, one
    * `_highlight_<field>` column per requested field (whole-field
    * highlighter — a DataFrame column is the "fragment").
    *
    * The highlight patterns are the SAME regexes the match predicates
    * evaluate ([[QueryCompiler.termPattern]]/`proximityPattern`), applied
    * case-insensitively over the ORIGINAL text, all leaves of a field as
    * one alternation (single pass — no nested markup from sequential
    * rewrites; overlaps resolve leftmost-first, deterministic).
    *
    * Declared subset: both grammars — Lucene-lite `Term`/`Proximity`
    * (phrase)/`Regex` leaves, and for ES-DSL bodies the analyzed-text
    * leaves (`match`/`match_phrase`(+slop)/`match_phrase_prefix`/
    * `prefix`/`wildcard`/`regexp`/`fuzzy`/`multi_match`/`query_string`,
    * walked through `bool` must/should/filter, `dis_max`,
    * `constant_score`, `boosting` positive; `term` is exact VALUE
    * equality, not a token match — no span to mark) — outside any
    * NOT/must_not. Fuzzy leaves (edit
    * distance — not a regular language at fixed pattern size) highlight
    * via the predicate's own matcher ([[graft.functions.FuzzyTokenHighlight]])
    * when they are the field's ONLY positive leaves; a field mixing fuzzy
    * with regex-able leaves keeps the single regex pass and leaves the
    * fuzzy tokens unmarked (declared — two sequential marking passes could
    * nest markup on a token both match). Fields without a positive leaf
    * get a null highlight column. */
  def highlight(docs: DataFrame, query: String, cfg: IndexConfig,
                hlFields: Seq[String], pkCols: Seq[String] = Seq("doc_id"),
                pre: String = "<em>", post: String = "</em>"): DataFrame = {
    require(hlFields.nonEmpty, "highlight at least one field")
    val meta = QueryMeta.parse(query)
    val dOr = QueryCompiler.resolveOperator(meta, cfg.defaultOperator) == "OR"
    // both grammars produce the same shape: (regex patterns, fuzzy specs)
    // per field, from positive leaves only
    val specsOf: String => (Seq[String], Seq[(String, Int, Int)]) =
      if (meta.query.trim.startsWith("{")) {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(meta.query.trim)
        val qNode = Option(root.get("query")).getOrElse(
          throw new IllegalArgumentException("missing 'query'"))
        f => dslLeafSpecs(qNode, f, dOr)
      } else {
        val ast = QueryCompiler.LuceneLite.ast(meta.query.trim, defaultOr = dOr)
        f => (luceneLeafPatterns(ast, f), luceneFuzzyLeaves(ast, f))
      }
    val hits = search(docs, query, cfg, pkCols)
    hlFields.foldLeft(hits) { (df, f) =>
      specsOf(f) match {
        case (Nil, Nil) => df.withColumn(s"_highlight_$f", lit(null).cast("string"))
        // all-fuzzy field: mark with the predicate's own edit-distance
        // matcher — the exact accepted token set, single pass
        case (Nil, fz) => df.withColumn(s"_highlight_$f",
          graft.functions.TextSketchFunctions
            .fuzzy_token_highlight(col(f), fz, pre, post))
        // (?iu): the predicates match against lower(field) with full
        // Unicode folding, so the marker pass needs UNICODE_CASE too —
        // ASCII-only (?i) left e.g. 'SPÄRK' hits unhighlighted.
        // Mixed fuzzy+regex fields keep this single pass (declared above)
        case (ps, _) => df.withColumn(s"_highlight_$f",
          regexp_replace(col(f), "(?iu)(?:" + ps.mkString("|") + ")",
            java.util.regex.Matcher.quoteReplacement(pre) + "$0" +
              java.util.regex.Matcher.quoteReplacement(post)))
      }
    }
  }

  /** Positive Lucene-lite leaves of `field` as highlight regex fragments
    * (the SAME patterns the predicates evaluate). */
  private def luceneLeafPatterns(n: QueryCompiler.LuceneLite.Node,
                                 field: String): Seq[String] = {
    import QueryCompiler.LuceneLite._
    n match {
      case Term(f, v, _) if f == field => Seq(QueryCompiler.termPattern(v))
      case Proximity(f, p, slop, _) if f == field =>
        Seq(QueryCompiler.proximityPattern(p, slop))
      case Regex(f, pat, _) if f == field => Seq("\\b(?:" + pat + ")\\b")
      case And(l, r) => luceneLeafPatterns(l, field) ++ luceneLeafPatterns(r, field)
      case Or(l, r) => luceneLeafPatterns(l, field) ++ luceneLeafPatterns(r, field)
      case Not(_) => Nil // negative subtrees have no span to mark
      // OR-default occur wrappers: both contain positive leaves to mark
      case Required(x) => luceneLeafPatterns(x, field)
      case ScoreOnly(x) => luceneLeafPatterns(x, field)
      case _ => Nil
    }
  }

  /** Positive Lucene-lite fuzzy leaves of `field` as (term, dist, prefix)
    * specs for [[graft.functions.FuzzyTokenHighlight]]. */
  private def luceneFuzzyLeaves(n: QueryCompiler.LuceneLite.Node,
                                field: String): Seq[(String, Int, Int)] = {
    import QueryCompiler.LuceneLite._
    n match {
      case Fuzzy(f, v, dist, _) if f == field => Seq((v, dist, 0))
      case And(l, r) => luceneFuzzyLeaves(l, field) ++ luceneFuzzyLeaves(r, field)
      case Or(l, r) => luceneFuzzyLeaves(l, field) ++ luceneFuzzyLeaves(r, field)
      case Not(_) => Nil
      case Required(x) => luceneFuzzyLeaves(x, field)
      case ScoreOnly(x) => luceneFuzzyLeaves(x, field)
      case _ => Nil
    }
  }

  /** Positive ES-DSL leaves of `field` → (regex patterns, fuzzy specs) for
    * highlighting — mirrors the compile walk: analyzed-text operators
    * yield token patterns, `query_string` delegates to the Lucene walkers,
    * `bool` must/should/filter recurse, must_not doesn't. `term` is exact
    * VALUE equality (not a token) — no span to mark, like NOT leaves. */
  private def dslLeafSpecs(n: com.fasterxml.jackson.databind.JsonNode,
                           field: String, defaultOr: Boolean)
      : (Seq[String], Seq[(String, Int, Int)]) = {
    import scala.jdk.CollectionConverters._
    import QueryCompiler.{escapeTerm, proximityPattern, termPattern}
    val empty = (Seq.empty[String], Seq.empty[(String, Int, Int)])
    def merge(xs: Seq[(Seq[String], Seq[(String, Int, Int)])]) =
      (xs.flatMap(_._1), xs.flatMap(_._2))
    if (n == null || !n.isObject || n.size != 1) return empty
    val op = n.fieldNames.asScala.next()
    val body = n.get(op)
    // single-field op bodies: {"f": "text"} or {"f": {"<valueKey>": ...}}
    def fieldBody: Option[com.fasterxml.jackson.databind.JsonNode] =
      if (body != null && body.isObject && body.size == 1 &&
          body.fieldNames.asScala.next() == field)
        Option(body.get(field))
      else None
    def textOf(valueKey: String): Option[String] = fieldBody.flatMap { v =>
      if (v.isTextual) Some(v.asText)
      else Option(v.get(valueKey)).filter(_.isTextual).map(_.asText)
    }
    def tokens(t: String): Seq[String] =
      t.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
    op match {
      case "match" => textOf("query")
        .map(t => (tokens(t).map(tok => termPattern(escapeTerm(tok))), Nil))
        .getOrElse(empty)
      case "match_phrase" => fieldBody.flatMap { v =>
        val (txt, slop) =
          if (v.isTextual) (Some(v.asText), 0)
          else (Option(v.get("query")).filter(_.isTextual).map(_.asText),
            Option(v.get("slop")).map(_.asInt).getOrElse(0))
        txt.map(t => (Seq(
          if (slop == 0) termPattern(escapeTerm(t))
          else proximityPattern(t, slop)), Seq.empty[(String, Int, Int)]))
      }.getOrElse(empty)
      case "match_phrase_prefix" => textOf("query")
        .map(t => (Seq(termPattern(escapeTerm(t) + "*")), Nil)).getOrElse(empty)
      case "match_bool_prefix" => textOf("query")
        .filter(t => tokens(t).nonEmpty)
        .map { t =>
          val ts = tokens(t)
          ((ts.init.map(tok => termPattern(escapeTerm(tok))) :+
            termPattern(escapeTerm(ts.last) + "*")), Nil)
        }.getOrElse(empty)
      case "simple_query_string" =>
        val q = Option(body.get("query")).filter(_.isTextual).map(_.asText)
        val fs = Option(body.get("fields")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.collect {
            case fn if fn.isTextual => QueryCompiler.fieldBoost(fn.asText)._1
          }).getOrElse(Seq.empty)
        q.map(QueryCompiler.SimpleQs.leafSpecs(_, field, fs)).getOrElse(empty)
      case "prefix" => textOf("value")
        .map(t => (Seq(termPattern(escapeTerm(t) + "*")), Nil)).getOrElse(empty)
      case "wildcard" => textOf("value")
        .map(t => (Seq(termPattern(t)), Nil)).getOrElse(empty)
      case "regexp" => textOf("value")
        .map(p => (Seq("\\b(?:" + p + ")\\b"), Nil)).getOrElse(empty)
      case "fuzzy" => fieldBody.flatMap { v =>
        if (v.isTextual) Some((Seq.empty[String], Seq((v.asText, 2, 0))))
        else Option(v.get("value")).filter(_.isTextual).map(_.asText).map { t =>
          val dist = Option(v.get("fuzziness")).map { d =>
            if (d.isTextual) graft.functions.TextSketchFunctions.autoFuzziness(t)
            else d.asInt
          }.getOrElse(2)
          val pfx = Option(v.get("prefix_length")).map(_.asInt).getOrElse(0)
          (Seq.empty[String], Seq((t, dist, pfx)))
        }
      }.getOrElse(empty)
      case "multi_match" =>
        val q = Option(body.get("query")).filter(_.isTextual).map(_.asText)
        val fs = Option(body.get("fields")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.collect {
            case fn if fn.isTextual =>
              val raw = fn.asText
              raw.lastIndexOf('^') match { case -1 => raw; case i => raw.substring(0, i) }
          }).getOrElse(Seq.empty)
        if (q.isDefined && fs.contains(field))
          (tokens(q.get).map(tok => termPattern(escapeTerm(tok))), Nil)
        else empty
      case "query_string" =>
        Option(body.get("query")).filter(_.isTextual).map { qn =>
          val df = Option(body.get("default_field")).filter(_.isTextual).map(_.asText)
          val dOr = Option(body.get("default_operator")).filter(_.isTextual)
            .map(_.asText.equalsIgnoreCase("OR")).getOrElse(defaultOr)
          try {
            val ast = QueryCompiler.LuceneLite.ast(qn.asText, df, dOr)
            (luceneLeafPatterns(ast, field), luceneFuzzyLeaves(ast, field))
          } catch { case _: Exception => empty }
        }.getOrElse(empty)
      case "bool" =>
        val parts = Seq("must", "should", "filter").flatMap { k =>
          Option(body.get(k)).toSeq.flatMap { c =>
            if (c.isArray) c.elements.asScala.toSeq else Seq(c)
          }
        }
        merge(parts.map(dslLeafSpecs(_, field, defaultOr)))
      case "dis_max" =>
        merge(Option(body.get("queries")).filter(_.isArray)
          .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
          .map(dslLeafSpecs(_, field, defaultOr)))
      case "constant_score" => dslLeafSpecs(body.get("filter"), field, defaultOr)
      case "boosting" => dslLeafSpecs(body.get("positive"), field, defaultOr)
      case "span_term" => textOf("value")
        .map(t => (Seq(termPattern(escapeTerm(t))), Nil)).getOrElse(empty)
      case "terms_set" => fieldBody.flatMap { v =>
        Option(v.get("terms")).filter(_.isArray).map(ts =>
          (ts.elements.asScala.toSeq.collect {
            case t if t.isTextual => termPattern(escapeTerm(t.asText))
          }, Seq.empty[(String, Int, Int)]))
      }.getOrElse(empty)
      case "pinned" => dslLeafSpecs(body.get("organic"), field, defaultOr)
      case "combined_fields" =>
        val q = Option(body.get("query")).filter(_.isTextual).map(_.asText)
        val fs = Option(body.get("fields")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.collect {
            case fn if fn.isTextual => fn.asText
          }).getOrElse(Seq.empty)
        if (q.isDefined && fs.contains(field))
          (tokens(q.get).map(tok => termPattern(escapeTerm(tok))), Nil)
        else empty
      case "span_or" =>
        merge(Option(body.get("clauses")).filter(_.isArray)
          .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
          .map(dslLeafSpecs(_, field, defaultOr)))
      case "wrapper" =>
        // decode and recurse; malformed payloads already failed compile,
        // but stay defensive (highlight must never be the thing that throws)
        Option(body.get("query")).filter(_.isTextual).flatMap { qn =>
          try {
            val decoded = new String(
              java.util.Base64.getDecoder.decode(qn.asText),
              java.nio.charset.StandardCharsets.UTF_8)
            Some(dslLeafSpecs(new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(decoded), field, defaultOr))
          } catch { case _: Exception => None }
        }.getOrElse(empty)
      case _ => empty
    }
  }

  /** `load-source=true` support of [[shapeHits]]: attach the full
    * document as `_source` JSON. Nulls are emitted explicitly
    * (`"f":null`) — a doc-store column is always present, so
    * null means "null field", not "absent"; this also keeps the column
    * distinguishable from discard-nulls write-path behavior. */
  private def withSource(hits: DataFrame, docCols: Seq[String],
                         meta: QueryMeta): DataFrame =
    if (!meta.loadSource) hits
    else hits.withColumn("_source",
      to_json(struct(docCols.map(col): _*), Map("ignoreNullFields" -> "false")))

  /** Alias search: the reference searches the alias spanning all segments,
    * and untyped alias search spans multiple document types for
    * "cross-table" results (reference: README.md:680-683; alias
    * ElasticIndex.java:891-896). Spark shape: union the doc tables by name
    * (missing columns null-padded) and search once. */
  /** Search with `_name` annotations: runs [[search]] on the name-stripped
    * body and attaches `matched_queries` — per hit, the names of the named
    * clauses whose predicate the row satisfies, in clause document order
    * (ES's response field). Each named clause compiles to one more
    * codegen'd boolean on the SAME scan — membership costs no extra pass. */
  def searchNamed(docs: DataFrame, query: String, cfg: IndexConfig,
                  pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    val (stripped, named) = QueryCompiler.namedClauses(query)
    require(named.nonEmpty, "searchNamed: no _name annotations in the query")
    val preds = named.map { case (nm, clause) =>
      (nm, QueryCompiler.compile(s"""{"query": $clause}""", Int.MaxValue,
        pkCols.head, schema = docs.schema).predicate)
    }
    // attach the flags BEFORE the search: one scan, no join — the page
    // carries matched_queries out like any other doc column
    val flagged = docs.withColumn("matched_queries",
      filter(array(preds.map { case (nm, p) =>
          when(p, lit(nm)).otherwise(lit(null).cast("string"))
        }: _*), x => x.isNotNull))
    search(flagged, stripped, cfg, pkCols)
  }

  def searchAlias(tables: Seq[DataFrame], query: String, cfg: IndexConfig,
                  pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(tables.nonEmpty, "alias must span at least one table")
    val unioned = tables.reduce(_.unionByName(_, allowMissingColumns = true))
    search(unioned, query, cfg, pkCols)
  }

  /** Typed alias search: each hit carries its document type (the source
    * table's name under the alias) as `_type`, like the reference's ES hits
    * do (`_type` per hit; untyped search spans all types,
    * README.md:680-683). */
  def searchAliasTyped(tables: Seq[(String, DataFrame)], query: String,
                       cfg: IndexConfig,
                       pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(tables.nonEmpty, "alias must span at least one table")
    val typed = tables.map { case (t, df) => df.withColumn("_type", lit(t)) }
    searchAlias(typed, query, cfg, pkCols)
  }

  /** R9: load full source rows for the surviving hits. Inner join naturally
    * drops rows that vanished from the base table (expired/deleted — the
    * reference skips those too, README.md:693-697). The hit side is capped at
    * max-results, so broadcast it — one scan of the base table, no shuffle
    * (reference does N point-reads instead: StreamingPartitionIterator.java:113-126). */
  def loadRows(hits: DataFrame, base: DataFrame, pkCols: Seq[String]): DataFrame = {
    // carry every hit-side metadata column (_score, hit_count, _source, …)
    // that does not collide with a base column — the reference injects all
    // hit metadata into the loaded rows' dummy column (R10,
    // FakePartitionIterator.java:104-114)
    val metaCols = hits.columns.toSeq
      .filterNot(c => base.columns.contains(c) && !pkCols.contains(c))
    val hitKeys = hits.select(metaCols.map(col): _*)
    base.join(broadcast(hitKeys), pkCols, "inner")
  }

  /** Stats over a hit list: hit_count / max_score columns on every row.
    * NOTE: applied to an already-capped list this reports the RETURNED
    * count; for the ES `hits.total` analog (count of ALL matches, before
    * the max-results cap) use [[searchWithTotal]].
    *
    * Shape: partial-aggregate to one stats row, broadcast it back — stays
    * fully parallel. (An unpartitioned window would move every row to a
    * single partition: the classic WindowExec scale trap.) */
  def withMeta(hits: DataFrame): DataFrame = {
    val stats = hits.agg(count(lit(1)).as("hit_count"), max(col("_score")).as("max_score"))
    hits.crossJoin(broadcast(stats))
  }

  /** R10: search with true global metadata — `hit_count` is the total match
    * count BEFORE the top-k cap (ES reports hits.total over all matches even
    * when returning max-results docs: ElasticIndex.java:719-721;
    * README.md:749 shows total 18,188 with 10,000 returned).
    *
    * Full response-metadata parity: the reference hands the whole ES
    * response envelope (minus hits) to the first result row — `took`,
    * `_shards`, `hits.total`, `max_score` (ElasticIndex.java:719-721;
    * FakePartitionIterator.java:104-114). The deterministic analogs here:
    * `took` is a fixed 0 placeholder (wall-clock would make results
    * unhashable — callers time jobs with Spark metrics instead), and
    * `shards_total`/`shards_successful` report the searched store's segment
    * count (the shard analog; 1 for an unsegmented store). Spark has no
    * partial-shard failure on the read path — a lost task re-runs — so
    * successful always equals total.
    *
    * The hits are [[search]]'s — the same scoring, ranking and shaping,
    * so every body field (`from`, `sort`, `min_score`, `search_after`,
    * `collapse`, `_source`, `script_fields`) means the same here — with
    * the envelope columns added before `_source`. `hit_count`/`max_score`
    * read the scored matches before any paging or collapse. The
    * match-count aggregate and the top-k both re-scan the filtered doc
    * set — two parallel pushed-down scans beat one scan funneled through a
    * single-partition window (the r1 WindowExec warning); the stats row is
    * broadcast back onto every hit. */
  def searchWithTotal(docs: DataFrame, query: String, cfg: IndexConfig,
                      pkCols: Seq[String] = Seq("doc_id"),
                      segmentCol: Option[String] = None,
                      matchDocs: Option[DataFrame] = None): DataFrame = {
    val meta = QueryMeta.parse(query)
    val compiled = QueryCompiler.compile(meta.query, cfg.maxResults, pkCols.head,
      QueryCompiler.resolveOperator(meta, cfg.defaultOperator), docs.schema)
    // matchDocs: an optional pre-filter of `docs` that provably contains
    // every match (TextIndex candidates) — match rows/stats read it, while
    // store-describing stats (shard count) stay on the full store
    val matches = scoredMatches(matchDocs.getOrElse(docs), compiled)
    val shards = segmentCol match {
      case Some(c) => docs.agg(countDistinct(col(c)).as("shards_total"))
      case None => docs.sparkSession.range(1).select(lit(1L).as("shards_total"))
    }
    val stats = matches.agg(count(lit(1)).as("hit_count"), max(col("_score")).as("max_score"))
      .crossJoin(broadcast(shards))
      .withColumn("shards_successful", col("shards_total"))
      .withColumn("took", lit(0L))
    // the envelope rides the ranking — joined onto the matches, so the
    // top-k stays the plan's root — and every projection of the shaping
    // keeps it
    shapeHits(rankHits(matches.crossJoin(broadcast(stats)), compiled, cfg, pkCols.head),
      docs.columns.toSeq, meta, compiled, pkCols,
      carry = Seq("hit_count", "max_score", "took", "shards_total", "shards_successful"))
  }

  /** R4 upgrade: BM25 relevance over whole-word term matches.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard Okapi form.
    * Term frequencies come from a codegen'd regexp count; corpus statistics
    * (N, avgdl, per-term df) from one partial-aggregated stats row that is
    * broadcast back onto every document — fully parallel, no
    * single-partition window (the r1 WindowExec trap). The tf expressions
    * are evaluated in both passes; at scale two codegen'd scans beat one
    * serialized partition by orders of magnitude.
    *
    * The reference surfaces ES's opaque `_score` (ElasticIndex.java:679-716);
    * this is the reproducible equivalent. */
  def bm25(docs: DataFrame, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    bm25Scored(docs, textCol, terms, k1, b, explain = false)
  }

  /** The Okapi BM25 idf, `ln(1 + (N − df + 0.5)/(df + 0.5))`. */
  private def okapiIdf(df: Column, n: Column): Column =
    log(lit(1.0) + (n - df + 0.5) / (df + 0.5))

  /** One term's Okapi BM25 contribution — the one expression tree behind
    * [[bm25]], [[bm25Explain]] and [[TextIndex.bm25Indexed]], so their
    * doubles agree bit for bit. */
  private[graft] def okapi(tf: Column, df: Column, n: Column, dl: Column,
                           avgdl: Column, k1: Double, b: Double): Column =
    okapiIdf(df, n) * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))

  /** The scan/stats body of [[bm25]] and [[bm25Explain]]: `_bm25` sums the
    * terms' contributions in term order; with `explain` each row also
    * carries the per-term `_explanation` array, ordered by term. */
  private def bm25Scored(docs: DataFrame, textCol: String, terms: Seq[String],
                         k1: Double, b: Double, explain: Boolean): DataFrame = {
    // null text → empty doc (dl spuriously 1, but tf=0 so score=0): without
    // the coalesce, size(NULL) poisons avgdl for the entire corpus
    val safeText = coalesce(col(textCol), lit(""))
    val toks = split(trim(safeText), "\\s+")
    // per-term regex extraction per row dominates bytes (§2.5 scan floor)
    val base = graft.pipeline.Spread.scanFloor(docs, col(textCol))
      .withColumn("_dl", size(toks).cast("double"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      val rx = "\\b" + java.util.regex.Pattern.quote(t.toLowerCase) + "\\b"
      df.withColumn(s"_tf$i",
        size(regexp_extract_all(lower(safeText), lit(rx), lit(0))).cast("double"))
    }
    val statAggs = Seq(avg(col("_dl")).as("_avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1.0).otherwise(0.0)).as(s"_df$i"))
    val stats = withTf.agg(count(lit(1)).cast("double").as("_N"), statAggs: _*)
    val contrib = terms.indices.map(i => okapi(col(s"_tf$i"), col(s"_df$i"),
      col("_N"), col("_dl"), col("_avgdl"), k1, b))
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("_bm25", contrib.reduce(_ + _))
    val out =
      if (!explain) scored
      else scored.withColumn("_explanation", array(
        terms.zipWithIndex.sortBy(_._1).map { case (t, i) =>
          val tf = col(s"_tf$i"); val df_ = col(s"_df$i")
          struct(lit(t).as("term"), tf.as("tf"), df_.cast("long").as("df"),
            okapiIdf(df_, col("_N")).as("idf"), contrib(i).as("contrib"))
        }: _*))
    out.drop((Seq("_dl", "_N", "_avgdl") ++
      terms.indices.flatMap(i => Seq(s"_tf$i", s"_df$i"))): _*)
  }

  /** ES `more_like_this`: find documents similar to the given ones (or to
    * free text) by extracting the like-source's most DISTINCTIVE terms and
    * searching for them. Function-level like [[bm25]] — term selection is
    * a data-dependent phase (two bounded Spark jobs), which a compile-time
    * `QueryCompiler` leaf cannot run (reference surfaces MLT through ES
    * opaquely, ElasticIndex.java:663-665).
    *
    * Term selection (declared, drift-proof): tokenize the like-source with
    * the index analyzer ([[graft.functions.WordRuns]], the same token
    * model as [[TextIndex]]); keep terms with like-tf >= `minTermFreq` and
    * corpus-df >= `minDocFreq`; rank by `tf / (df + 1)` descending, term
    * ascending, keep `maxQueryTerms`. The ranking is a monotone TF-IDF
    * surrogate (increasing in tf, decreasing in df) chosen over Lucene's
    * `tf·idf` because a single IEEE division is correctly rounded —
    * bit-identical across engines — where `ln` is libm-dependent and can
    * reorder near-ties. DECLARED DIVERGENCE from ES's tf·idf ranking.
    *
    * The query phase is the usual scan shape: OR of whole-token matches,
    * `_score` = matched-term count, hits needing at least
    * `minimumShouldMatchPct`% of the selected terms (ES default 30%),
    * like-docs themselves excluded (when selected by id), ordered score
    * desc / id asc, capped at `cfg.maxResults`.
    *
    * 100 TB shape: the like-tf pass reads only the like docs; candidates
    * are capped (10× maxQueryTerms by tf) BEFORE the corpus df pass, which
    * is one tokenize+distinct aggregate gated by a broadcast semi-join —
    * the same candidate-first discipline as the dedup verifiers. With a
    * postings store, df could be served index-side ([[TextIndex]]
    * doc_freq) — the scan form here is the store-free baseline. */
  def moreLikeThis(docs: DataFrame, field: String,
                   likeIds: Seq[Any] = Seq.empty,
                   likeText: Option[String] = None,
                   cfg: IndexConfig = IndexConfig(),
                   idCol: String = "doc_id",
                   minTermFreq: Int = 2, minDocFreq: Int = 5,
                   maxQueryTerms: Int = 25,
                   minimumShouldMatchPct: Int = 30): DataFrame = {
    val tf = mltCandidates(docs, field, likeIds, likeText, idCol, minTermFreq,
      minDocFreq, maxQueryTerms, minimumShouldMatchPct)
    // the statistics pass tokenizes the whole corpus — floor the scan
    // (guide §2.5, r15) so a single-row-group corpus doesn't pay it on
    // one task (the store-served twin skips this pass entirely)
    val corpusToks = graft.pipeline.Spread.scanFloor(docs, col(idCol))
      .select(explode(array_distinct(WordRuns.column(col(field)))).as("_t"))
    val picked = corpusToks.join(broadcast(tf), Seq("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_df"), max(col("_tf")).as("_tf"))
      .where(col("_df") >= minDocFreq)
      .withColumn("_s", col("_tf").cast("double") / (col("_df") + lit(1)))
      .orderBy(desc("_s"), asc("_t"))
      .limit(maxQueryTerms)
      .select("_t").collect().map(_.getString(0)).toSeq // bounded: <= maxQueryTerms
    mltQueryPhase(docs, field, picked, likeIds, idCol,
      minimumShouldMatchPct, cfg)
  }

  /** The prologue [[moreLikeThis]] and [[moreLikeThisFromStore]] share:
    * the argument checks, then the like-source's candidate terms — `_t`
    * with its like-tf `_tf` >= `minTermFreq`, the top 10·maxQueryTerms by
    * tf desc, term asc. */
  private def mltCandidates(docs: DataFrame, field: String, likeIds: Seq[Any],
                            likeText: Option[String], idCol: String,
                            minTermFreq: Int, minDocFreq: Int, maxQueryTerms: Int,
                            minimumShouldMatchPct: Int): DataFrame = {
    require(likeIds.nonEmpty ^ likeText.isDefined,
      "more_like_this needs exactly one of likeIds / likeText")
    require(minTermFreq >= 1 && minDocFreq >= 1 && maxQueryTerms >= 1,
      "more_like_this thresholds must be >= 1")
    require(minimumShouldMatchPct >= 0 && minimumShouldMatchPct <= 100,
      s"minimum_should_match must be a percentage in [0, 100]")
    val spark = docs.sparkSession
    val likeToks = likeText match {
      case Some(t) =>
        import spark.implicits._
        Seq(t).toDF(field).select(explode(WordRuns.column(col(field))).as("_t"))
      case None =>
        docs.where(col(idCol).isin(likeIds: _*))
          .select(explode(WordRuns.column(col(field))).as("_t"))
    }
    likeToks.groupBy("_t").agg(count(lit(1)).as("_tf"))
      .where(col("_tf") >= minTermFreq)
      .orderBy(desc("_tf"), asc("_t")).limit(maxQueryTerms * 10)
  }

  /** [[moreLikeThis]]'s query phase, shared with the store-served form:
    * OR of whole-token matches over the selected terms, `_score` =
    * matched-term count, `minimumShouldMatchPct`% floor, like-docs
    * excluded, score-desc/id-asc page. One codegen'd corpus scan — the
    * inherent cost of RETURNING corpus hits; what the two forms differ on
    * is how the term-selection df statistics were paid for. */
  private def mltQueryPhase(docs: DataFrame, field: String,
                            picked: Seq[String], likeIds: Seq[Any],
                            idCol: String, minimumShouldMatchPct: Int,
                            cfg: IndexConfig): DataFrame = {
    if (picked.isEmpty) return docs.where(lit(false)).withColumn("_score", lit(0))
    val matched = picked
      .map(t => QueryCompiler.termMatch(col(field), QueryCompiler.escapeTerm(t)))
      .map(c => when(coalesce(c, lit(false)), 1).otherwise(0))
      .reduce(_ + _)
    val msm = math.max(1, minimumShouldMatchPct * picked.size / 100)
    val keep =
      if (likeIds.nonEmpty) !col(idCol).isin(likeIds: _*) else lit(true)
    // no scan floor here (r15, measured): exchanging the full doc rows
    // costs more than spreading the ≤ maxQueryTerms regex matches buys at
    // both bench scales (the floor is for the STATISTICS pass above) —
    // and the ordered page stays a TakeOrderedAndProject
    rankHits(docs.where(keep && matched >= msm).withColumn("_score", matched),
      cfg.maxResults, cfg, idCol)
  }

  /** [[moreLikeThis]] with the corpus-df pass served from a
    * [[TextIndex.buildPostings]] store instead of re-tokenizing the
    * corpus — the store-served twin the scan form's own doc points at.
    * df(term) is the term's postings row count (rows are unique per
    * (token, field, doc)), read through the bucket-pruned probe path
    * ([[TextIndex.postingsFor]]): the candidate set is bounded
    * (≤ 10·maxQueryTerms terms by like-tf), so the df probe touches
    * candidate-sized data where the scan form pays one full corpus
    * tokenize+distinct per call. Term selection then ranks driver-side
    * over those ≤ 10·maxQueryTerms (tf, df) pairs — same `tf/(df+1)`
    * IEEE division, same desc-score/asc-term order, so the selected
    * terms (and with them the hit page) are IDENTICAL to the scan form's
    * on the store's own corpus (pinned in SearchSpec; the driver proves
    * it against `q_search_mlt`'s oracle). The store must index `field`
    * over the same docs frame with the shared analyzer token model —
    * stats staleness under edits is [[TextIndex.buildPostings]]'s
    * documented contract, same as BM25 serving. The query phase is the
    * same single corpus scan: MLT RETURNS corpus hits, so that pass is
    * inherent; the store removes the second (statistics) pass. */
  def moreLikeThisFromStore(docs: DataFrame, postings: DataFrame,
                            field: String,
                            likeIds: Seq[Any] = Seq.empty,
                            likeText: Option[String] = None,
                            cfg: IndexConfig = IndexConfig(),
                            idCol: String = "doc_id",
                            minTermFreq: Int = 2, minDocFreq: Int = 5,
                            maxQueryTerms: Int = 25,
                            minimumShouldMatchPct: Int = 30,
                            nBuckets: Int = 64): DataFrame = {
    // bounded: <= 10 * maxQueryTerms (term, like-tf) pairs
    val cand = mltCandidates(docs, field, likeIds, likeText, idCol, minTermFreq,
        minDocFreq, maxQueryTerms, minimumShouldMatchPct)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    if (cand.isEmpty)
      return docs.where(lit(false)).withColumn("_score", lit(0))
    val probes: Set[TextIndex.Probe] =
      cand.map { case (t, _) => TextIndex.EqProbe(field, t) }.toSet
    val dfMap = TextIndex.postingsFor(postings, probes, nBuckets)
      .where(col("field") === field)
      .groupBy(col("token")).agg(count(lit(1)).as("_df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val picked = cand
      .map { case (t, tf) => (t, tf, dfMap.getOrElse(t, 0L)) }
      .filter(_._3 >= minDocFreq)
      .map { case (t, tf, df) => (t, tf.toDouble / (df + 1L)) }
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1)
    mltQueryPhase(docs, field, picked, likeIds, idCol,
      minimumShouldMatchPct, cfg)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `{key: node}`: a clause of a body, handed on as a body of its own. */
  private def bodyOf(key: String, node: JsonNode): ObjectNode =
    mapper.createObjectNode().set[ObjectNode](key, node)

  /** ES-8 `knn` search body: top-k nearest neighbors of a literal
    * `query_vector` over a vector column, optionally pre-filtered by a DSL
    * `filter` (ES filtered-kNN: the filter applies DURING the search, so k
    * survivors always come back — never a post-filter that starves the
    * page). `_score` is ES's cosine mapping `(1 + cos) / 2`.
    *
    * EXACT brute-force scan — declared divergence: ES answers with
    * approximate HNSW; exactness is the same superset contract as
    * `cardinality`, and `num_candidates` is accepted as a no-op (it tunes
    * an approximation we don't make). The scan is one codegen'd
    * vec_cosine pass + TakeOrderedAndProject: no shuffle of vectors, only
    * the k survivors move. The 100 TB scale path that trades exactness
    * back for pruning is the IVF / IVF-PQ family (pipeline/ivf.scala,
    * pipeline/pq.scala).
    * Reference: search bodies pass to ES verbatim (ElasticIndex.java:663);
    * `knn` is the ES-8 body shape. */
  def knnSearch(docs: DataFrame, body: String, cfg: IndexConfig = IndexConfig(),
                idCol: String = "vec_id"): DataFrame = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "knn search body must be a JSON object")
    val unknownTop = root.fieldNames.asScala.toSet -- Set("knn", "size", "query")
    require(unknownTop.isEmpty,
      s"unsupported knn body key(s): ${unknownTop.mkString(", ")}")
    val knRaw = Option(root.get("knn"))
      .getOrElse(throw new IllegalArgumentException("body needs a 'knn' object"))
    // ES 8.7 multi-knn: `knn` as an ARRAY of clauses — each clause
    // retrieves its own top-k and the final score is the SUM of the
    // clauses' contributions for docs inside each clause's k (a doc
    // outside a clause's top-k gets nothing from it, exactly ES).
    // Declared subset: no `query` alongside (single-clause hybrid covers
    // that composition). Each clause runs through the single-clause path
    // recursively; k-row contribution lists merge in one hash aggregate
    // and broadcast back onto the doc table for the output page.
    if (knRaw.isArray) {
      require(!root.has("query"),
        "multi-knn with a sibling 'query' is not in the declared subset " +
          "(use a single knn clause for hybrid)")
      val clauses = knRaw.elements.asScala.toSeq
      require(clauses.size >= 2, "multi-knn needs at least two clauses")
      val size = Option(root.get("size")).map(_.asInt).getOrElse(10)
      val parts = clauses.map(c => knnSearch(docs, bodyOf("knn", c).toString, cfg, idCol)
        .select(col(idCol), col("_score")))
      val merged = parts.reduce(_ unionByName _)
        .groupBy(col(idCol)).agg(sum(col("_score")).as("_score"))
      return rankHits(docs.join(broadcast(merged), Seq(idCol)), size, cfg, idCol)
    }
    val kn = Some(knRaw).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException("body needs a 'knn' object"))
    val unknownK = kn.fieldNames.asScala.toSet --
      Set("field", "query_vector", "k", "num_candidates", "filter", "boost",
        "similarity")
    require(unknownK.isEmpty,
      s"unsupported knn option(s): ${unknownK.mkString(", ")}")
    val field = Option(kn.get("field")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException("knn needs a 'field'"))
    val qv = Option(kn.get("query_vector")).filter(_.isArray)
      .map(_.elements.asScala.toSeq.map(_.asDouble))
      .getOrElse(throw new IllegalArgumentException(
        "knn needs 'query_vector': [..]"))
    require(qv.nonEmpty, "knn query_vector must be non-empty")
    val k = Option(kn.get("k")).map { n =>
      require(n.isIntegralNumber && n.asInt >= 1, s"knn k must be >= 1, got $n")
      n.asInt
    }.getOrElse(throw new IllegalArgumentException("knn needs 'k'"))
    Option(kn.get("num_candidates")).foreach { n =>
      require(n.isIntegralNumber && n.asInt >= k,
        s"knn num_candidates must be >= k") // accepted no-op: exact scan
    }
    val knnBoost = Option(kn.get("boost")).map(_.asDouble).getOrElse(1.0)
    // ES 8.8 `similarity`: the raw-cosine floor a doc must clear to match
    // at all (independent of boost — it gates on similarity, not score)
    val minSim = Option(kn.get("similarity")).map { n =>
      require(n.isNumber, s"knn similarity must be a number, got: $n")
      n.asDouble
    }
    val pred = Option(kn.get("filter")).map(fq => QueryCompiler.compile(
      bodyOf("query", fq).toString, Int.MaxValue, idCol, schema = docs.schema).predicate)
      .getOrElse(lit(true))
    // double-precision literal vector: engine-portable scores (and
    // vec_cosine mixes element types, so float corpus columns are fine)
    val qvCol = array(qv.map(lit): _*)
    val cos = graft.functions.VecFunctions.vec_cosine(col(field), qvCol)
    val scored = docs.where(pred)
      .withColumn("_score", (lit(1.0) + cos) / 2 * knnBoost)
      .where(col("_score").isNotNull) // zero-norm vectors can't rank
      .where(minSim.map(s => cos >= s).getOrElse(lit(true)))
    Option(root.get("query")) match {
      case None =>
        // ES: `size` (default k) caps the returned page; k caps the search
        val size = Option(root.get("size")).map(_.asInt).getOrElse(k).min(k)
        rankHits(scored, size, cfg, idCol)
      case Some(_) =>
        // HYBRID (ES 8.4 semantics): final score = query score + knn
        // score, where knn contributes ONLY for docs inside its top-k.
        // The k survivors broadcast back onto the query scan — one corpus
        // pass plus a k-row broadcast join, never a second scan. The page
        // is the body's own `size` (default 10), compiled with the query
        val base = root.deepCopy[ObjectNode]()
        base.remove("knn")
        val cq = QueryCompiler.compile(base.toString, 10, idCol,
          schema = docs.schema)
        val knnHits = rankHits(scored, k, cfg, idCol)
          .select(col(idCol).as("_knn_id"), col("_score").as("_knn_score"))
        val qScore = when(coalesce(cq.predicate, lit(false)),
          cq.score).otherwise(lit(0.0))
        rankHits(docs.join(broadcast(knnHits), col(idCol) === col("_knn_id"), "left")
          .withColumn("_score",
            qScore.cast("double") + coalesce(col("_knn_score"), lit(0.0)))
          .where(coalesce(cq.predicate, lit(false)) || col("_knn_id").isNotNull)
          .drop("_knn_id", "_knn_score"), cq, cfg, idCol)
    }
  }

  /** ES `rescore`: re-rank the top `window_size` hits of the main query
    * with a (typically expensive) secondary query, combining the two
    * scores per `score_mode` (total | multiply | avg | max | min, weighted
    * by query_weight / rescore_query_weight). Hits that don't match the
    * rescore query keep their weighted original score (ES semantics).
    *
    * The window is a bounded top-k (≤ max-results), so the second pass
    * re-scores a capped set — at 100 TB the expensive secondary predicate
    * runs on `window_size` rows, not the corpus; that bound is the whole
    * point of the operator. The re-scored window is then ranked, paged
    * (`from`/`size`) and shaped (`_source`, `script_fields`) like
    * [[search]]'s hits; a body `sort` or `collapse` is rejected, as in
    * ES, and so is `search_after` (the window is paged by `from`). Declared
    * subset: `from + size` must fit inside `window_size` (fail-loud
    * otherwise) — ES's below-window splice (original-order hits after the
    * rescored window) is not modeled. */
  def rescore(docs: DataFrame, body: String, cfg: IndexConfig = IndexConfig(),
              idCol: String = "doc_id"): DataFrame = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "search body must be a JSON object")
    val rNode = Option(root.get("rescore")).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException("body needs a 'rescore' object"))
    val unknownR = rNode.fieldNames.asScala.toSet -- Set("window_size", "query")
    require(unknownR.isEmpty,
      s"unsupported rescore option(s): ${unknownR.mkString(", ")}")
    val window = Option(rNode.get("window_size")).map(_.asInt).getOrElse(10)
    require(window >= 1 && window <= cfg.maxResults,
      s"rescore window_size must be in [1, ${cfg.maxResults}]")
    val qNode = Option(rNode.get("query")).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException("rescore needs a 'query' object"))
    val unknownQ = qNode.fieldNames.asScala.toSet --
      Set("rescore_query", "query_weight", "rescore_query_weight", "score_mode")
    require(unknownQ.isEmpty,
      s"unsupported rescore.query option(s): ${unknownQ.mkString(", ")}")
    val rq = Option(qNode.get("rescore_query"))
      .getOrElse(throw new IllegalArgumentException("rescore needs 'rescore_query'"))
    val wq = Option(qNode.get("query_weight")).map(_.asDouble).getOrElse(1.0)
    val wr = Option(qNode.get("rescore_query_weight")).map(_.asDouble).getOrElse(1.0)
    val mode = Option(qNode.get("score_mode")).map(_.asText).getOrElse("total")
    val base = root.deepCopy[ObjectNode]()
    base.remove("rescore")
    val cq = QueryCompiler.compile(base.toString, 10, idCol,
      schema = docs.schema)
    require(cq.sort.isEmpty, "rescore: a body 'sort' cannot be combined with " +
      "rescore (ES rejects it) — the rescored window is ranked by _score")
    require(cq.collapseField.isEmpty, "rescore: a body 'collapse' cannot be " +
      "combined with rescore (ES rejects it)")
    require(cq.searchAfter.isEmpty, "rescore: a body 'search_after' cannot be " +
      "combined with rescore — page the rescored window with from/size")
    val size = cq.limit.getOrElse(10)
    require(cq.from.toLong + size <= window,
      s"rescore: from + size (${cq.from} + $size) must fit window_size ($window) — " +
        "the below-window original-order splice is not modeled (declared subset)")
    val hits = rankHits(scoredMatches(docs, cq),
      cq.copy(limit = Some(window), from = 0), cfg, idCol)
    val rqC = QueryCompiler.compile(bodyOf("query", rq).toString, Int.MaxValue, idCol,
      schema = docs.schema)
    val orig = col("_score") * wq
    val rs = rqC.score * wr
    val combined = mode match {
      case "total" => orig + rs
      case "multiply" => orig * rs
      case "avg" => (orig + rs) / 2
      case "max" => greatest(orig, rs)
      case "min" => least(orig, rs)
      case other => throw new IllegalArgumentException(
        s"rescore: unknown score_mode '$other' (total|multiply|avg|max|min)")
    }
    val rescored = hits.withColumn("_score", when(rqC.predicate, combined).otherwise(orig))
    shapeHits(rankHits(rescored, CompiledQuery(lit(true), col("_score"), Some(size),
        from = cq.from), cfg, idCol),
      docs.columns.toSeq, QueryMeta(body), cq, Seq(idCol))
  }

  /** ES `_msearch`: several search bodies answered in one call. Each body
    * runs through [[search]] independently and the hits stack with a
    * `_msearch_index` ordinal (the response-array position). Plans stay
    * lazy, so the union is N independently-pruned top-ks over the same
    * scan lineage — not one fat materialized pass. */
  def msearch(docs: DataFrame, bodies: Seq[String],
              cfg: IndexConfig = IndexConfig(),
              pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(bodies.nonEmpty, "msearch needs at least one body")
    bodies.zipWithIndex.map { case (b, i) =>
      search(docs, b, cfg, pkCols).withColumn("_msearch_index", lit(i))
    }.reduce(_.unionByName(_))
  }

  /** ES search template (`_search/template` with inline source): renders
    * mustache `{{var}}` placeholders from `params`, then runs the result
    * like any other body. Declared subset: simple variable substitution —
    * a QUOTED `"{{var}}"` splices the param's typed JSON value (numbers,
    * booleans, arrays land unquoted; strings keep their quotes), a bare
    * `{{var}}` inside a longer string splices a scalar's text; mustache
    * sections/partials/toJson stay out (loud). Unknown placeholders and
    * unused params are loud — a typo'd param silently matching nothing is
    * exactly the miscompile class the fail-loud contract exists for. */
  def searchTemplate(docs: DataFrame, request: String,
                     cfg: IndexConfig = IndexConfig(),
                     pkCols: Seq[String] = Seq("doc_id")): DataFrame =
    search(docs, renderTemplate(request), cfg, pkCols)

  /** The rendering half of [[searchTemplate]], exposed for validation. */
  def renderTemplate(request: String): String = {
    val root = mapper.readTree(request)
    require(root != null && root.isObject, "search template must be a JSON object")
    val unknownKeys = root.fieldNames.asScala.toSet -- Set("source", "params")
    require(unknownKeys.isEmpty,
      s"unsupported search template option(s): ${unknownKeys.mkString(", ")}")
    val srcN = Option(root.get("source")).getOrElse(
      throw new IllegalArgumentException("search template needs 'source'"))
    // ES accepts the source inline as an object or as a string
    val source = if (srcN.isTextual) srcN.asText else srcN.toString
    require(!source.contains("{{#") && !source.contains("{{^") &&
      !source.contains("{{>") && !source.contains("{{!"),
      "mustache sections/partials/comments are not supported (declared subset)")
    val placeholders = "\\{\\{([a-zA-Z0-9_.]+)\\}\\}".r
      .findAllMatchIn(source).map(_.group(1)).toSet
    val paramsN = Option(root.get("params")).map { n =>
      require(n.isObject, s"search template params must be an object, got: $n")
      n.fieldNames.asScala.toSeq.map(k => k -> n.get(k))
    }.getOrElse(Seq.empty)
    val paramKeys = paramsN.map(_._1).toSet
    require(placeholders.subsetOf(paramKeys),
      s"search template placeholders without params: " +
        (placeholders -- paramKeys).mkString(", "))
    require(paramKeys.subsetOf(placeholders),
      s"search template params without placeholders: " +
        (paramKeys -- placeholders).mkString(", "))
    var out = source
    for ((k, v) <- paramsN) {
      // quoted occurrence first: the param's typed JSON value replaces the
      // whole quoted token ("5" -> 5, "x" -> "x", "[1,2]" -> [1,2])
      out = out.replace("\"{{" + k + "}}\"", v.toString)
      // bare occurrence (inside a longer string): scalar text splice
      if (out.contains("{{" + k + "}}")) {
        require(v.isValueNode,
          s"search template param '$k' splices into a string and must be a scalar")
        out = out.replace("{{" + k + "}}", if (v.isTextual) v.asText else v.toString)
      }
    }
    require(!out.contains("{{"),
      s"search template placeholders left unrendered: $out")
    out
  }

  /** ES terms LOOKUP: `{"terms": {"f": {"index": i, "id": v, "path": p}}}`
    * uses ONE stored document's field value(s) as the terms list.
    * Resolution happens BEFORE compile: the lookup is a bounded single-doc
    * read (ES's own contract — the list lives in one document), spliced
    * into the body as a literal array, so the compiled plan is the
    * ordinary isin predicate and composes with every body consumer
    * (search, aggs query, delete-by-query). A missing lookup doc resolves
    * to the empty list — matches nothing, ES semantics.
    * Reference: bodies pass to ES verbatim (ElasticIndex.java:663); the
    * lookup form is the ES terms-query variant users send when the list
    * is server-side. */
  def resolveTermsLookup(body: String, tables: Map[String, DataFrame],
                         idCol: String = "doc_id"): String = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val root = mapper.readTree(body)
    def addScalar(arr: ArrayNode, v: Any): Unit = v match {
      case null =>
      case s: String => arr.add(s)
      case i: Int => arr.add(i)
      case l: Long => arr.add(l)
      case d: Double => arr.add(d)
      case f: Float => arr.add(f.toDouble)
      case b: Boolean => arr.add(b)
      case other => arr.add(String.valueOf(other))
    }
    def resolve(t: ObjectNode, f: String, spec: JsonNode): Unit = {
      val unknown = spec.fieldNames.asScala.toSet -- Set("index", "id", "path")
      require(unknown.isEmpty,
        s"unsupported terms-lookup option(s) on '$f': ${unknown.mkString(", ")}")
      def req(k: String): JsonNode = Option(spec.get(k)).getOrElse(
        throw new IllegalArgumentException(s"terms lookup on '$f' needs '$k'"))
      val idx = req("index").asText
      val idNode = req("id")
      val path = req("path").asText
      val tbl = tables.getOrElse(idx, throw new IllegalArgumentException(
        s"terms lookup on '$f': unknown lookup index '$idx'"))
      val idVal: Any = if (idNode.isTextual) idNode.asText else idNode.numberValue
      val rows = tbl.where(col(idCol) === lit(idVal))
        .select(col(path)).limit(2).collect()
      require(rows.length <= 1,
        s"terms lookup on '$f': id '$idVal' is not unique in '$idx'")
      val arr = mapper.createArrayNode()
      rows.headOption.filterNot(_.isNullAt(0)).foreach { r =>
        r.get(0) match {
          case s: scala.collection.Seq[_] => s.foreach(addScalar(arr, _))
          case x => addScalar(arr, x)
        }
      }
      t.set[JsonNode](f, arr)
    }
    def walk(n: JsonNode): Unit = {
      if (n.isObject) {
        val o = n.asInstanceOf[ObjectNode]
        Option(o.get("terms")).filter(_.isObject).foreach { t =>
          t.fieldNames.asScala.toList.foreach { f =>
            val v = t.get(f)
            if (v.isObject) resolve(t.asInstanceOf[ObjectNode], f, v)
          }
        }
        o.properties.asScala.foreach(e => walk(e.getValue))
      } else if (n.isArray) n.elements.asScala.foreach(walk)
    }
    walk(root)
    root.toString
  }

  /** ES `runtime_mappings`: per-search computed fields. Each mapping's
    * script (the [[Aggs.Script]] arithmetic/boolean mini-language over the
    * document's own columns — the same painless subset the pipeline aggs
    * speak) becomes a `withColumn` cast to the declared type, so the
    * runtime field is an ordinary column for every downstream consumer
    * (query predicates, aggs, sort, `_source`) and Catalyst folds it into
    * the one scan — query-time computation, nothing materialized, exactly
    * ES's runtime-field contract. Returns the widened frame plus the body
    * with `runtime_mappings` stripped, ready for [[search]]/[[Aggs.run]].
    * Declared subset: numeric/boolean scripts (the mini-language has no
    * string literals), types double | long | boolean. */
  def withRuntimeFields(docs: DataFrame, body: String): (DataFrame, String) = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "search body must be a JSON object")
    val rm = Option(root.get("runtime_mappings")).filter(_.isObject)
    if (rm.isEmpty) return (docs, body)
    val binding = docs.columns.map(c => c -> col(c)).toMap
    val out = rm.get.properties.asScala.foldLeft(docs) { (df, e) =>
      val (name, spec) = (e.getKey, e.getValue)
      val unknown = spec.fieldNames.asScala.toSet -- Set("type", "script")
      require(unknown.isEmpty,
        s"unsupported runtime field option(s) on '$name': ${unknown.mkString(", ")}")
      val sparkType = Option(spec.get("type")).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"runtime field '$name' needs a 'type'")) match {
        case "double" => "double"
        case "long" => "long"
        case "boolean" => "boolean"
        case other => throw new IllegalArgumentException(
          s"runtime field '$name': unsupported type '$other' " +
            "(double | long | boolean — declared subset)")
      }
      val scriptNode = Option(spec.get("script")).getOrElse(
        throw new IllegalArgumentException(s"runtime field '$name' needs a 'script'"))
      val src =
        if (scriptNode.isTextual) scriptNode.asText
        else Option(scriptNode.get("source")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            s"runtime field '$name': script must be a string or {source: ...}"))
      df.withColumn(name,
        Aggs.Script.compile(src, binding, s"runtime field '$name'").cast(sparkType))
    }
    val stripped = root.asInstanceOf[ObjectNode]
    stripped.remove("runtime_mappings")
    (out, stripped.toString)
  }

  /** ES percolator, inverted-search direction: which STORED queries match
    * each document. Every stored query (Lucene-lite or DSL JSON) compiles
    * to a predicate column; one projection evaluates all of them per row
    * and explodes the matching ids — a single corpus scan with zero
    * shuffle, where the stored-query set is the bounded side (ES stores
    * them in a percolator index; ours ride the plan as compiled columns).
    * Declared divergence: no candidate pre-pruning via indexed query
    * terms (ES's optimization, same answers), every predicate evaluates —
    * fine up to thousands of stored queries, the percolator's real-world
    * shape (alerting rules). Returns (query_id, doc id) match pairs. */
  def percolate(docs: DataFrame, stored: Seq[(String, String)],
                cfg: IndexConfig = IndexConfig(),
                idCol: String = "doc_id"): DataFrame = {
    require(stored.nonEmpty, "percolate needs at least one stored query")
    require(stored.map(_._1).distinct.size == stored.size,
      "percolate stored query ids must be unique")
    val matches = array(stored.map { case (qid, q) =>
      val pred = QueryCompiler.compile(q, Int.MaxValue, idCol,
        cfg.defaultOperator, docs.schema).predicate
      when(coalesce(pred, lit(false)), lit(qid))
    }: _*)
    docs.select(col(idCol),
        explode(filter(matches, x => x.isNotNull)).as("query_id"))
      .select(col("query_id"), col(idCol))
  }

  /** ES `suggest` term suggester: spelling corrections for each analyzed
    * input token, drawn from the corpus' term dictionary within
    * `max_edits` Levenshtein distance, ranked distance-then-frequency
    * (frequency = document frequency, ES's ranking signal). One dictionary
    * aggregate + one broadcast of the (tiny) input tokens over it — the
    * dictionary is vocabulary-bounded, never corpus-bounded, and no
    * all-pairs shape exists. Declared subset: suggest_mode=always (ES's
    * default `missing` gate — only suggest for absent terms — is the
    * caller's one extra filter). */
  def termSuggest(docs: DataFrame, field: String, text: String,
                  size: Int = 5, maxEdits: Int = 2,
                  idCol: String = "doc_id"): DataFrame = {
    require(size >= 1, s"term suggester size must be >= 1, got $size")
    require(maxEdits >= 1 && maxEdits <= 2, // ES's own cap
      s"term suggester max_edits must be 1 or 2, got $maxEdits")
    val spark = docs.sparkSession
    import spark.implicits._
    val input = Seq(text).toDF("_txt")
      .select(explode(array_distinct(WordRuns.column(col("_txt")))).as("token"))
    val dict = graft.pipeline.Spread.scanFloor(docs, col(field))
      .select(explode(array_distinct(WordRuns.column(col(field)))).as("cand"))
      .groupBy("cand").agg(count(lit(1)).as("freq"))
    val cands = dict.crossJoin(broadcast(input))
      .where(col("cand") =!= col("token"))
      .withColumn("distance", levenshtein(col("token"), col("cand")))
      .where(col("distance") <= maxEdits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(asc("distance"), desc("freq"), asc("cand"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= size)
      .select(col("token"), col("cand").as("suggestion"), col("distance"),
        col("freq"), col("rank"))
      .orderBy(asc("token"), asc("rank"))
  }

  /** [[termSuggest]] served from a [[writeCompletionStore]] store: the
    * term suggester's dictionary (per-term DOCUMENT counts) is exactly
    * the completion dictionary summed over its context columns — each doc
    * carries one scalar context value, so the restricted sums count it
    * once. One vocabulary-sized store scan replaces the per-call corpus
    * dictionary aggregate; identical output on the same corpus
    * (`q_suggest_term_store` shares `q_suggest_term`'s oracle, SearchSpec
    * pins the frame compare). */
  def termSuggestFromStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, text: String,
                           size: Int = 5, maxEdits: Int = 2): DataFrame = {
    require(size >= 1, s"term suggester size must be >= 1, got $size")
    require(maxEdits >= 1 && maxEdits <= 2,
      s"term suggester max_edits must be 1 or 2, got $maxEdits")
    import spark.implicits._
    val input = Seq(text).toDF("_txt")
      .select(explode(array_distinct(WordRuns.column(col("_txt")))).as("token"))
    val store = StoreFs.read(spark, Seq(path), Some(path))
    require(Set("suggestion", "freq").subsetOf(store.columns.toSet),
      s"$path is not a completion store (needs suggestion/freq columns, " +
        s"found: ${store.columns.mkString(", ")})")
    val dict = store
      .groupBy(col("suggestion").as("cand"))
      .agg(sum(col("freq")).cast("long").as("freq"))
    val cands = dict.crossJoin(broadcast(input))
      .where(col("cand") =!= col("token"))
      .withColumn("distance", levenshtein(col("token"), col("cand")))
      .where(col("distance") <= maxEdits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(asc("distance"), desc("freq"), asc("cand"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= size)
      .select(col("token"), col("cand").as("suggestion"), col("distance"),
        col("freq"), col("rank"))
      .orderBy(asc("token"), asc("rank"))
  }

  /** ES `has_child` over the single-index join-field model: parent and
    * child rows share one frame, discriminated by `typeCol`; child rows
    * carry their parent's id in `parentCol`. Returns the rows whose id is
    * the parent of at least one `childType` row matching `query` (a full
    * DSL body compiled by [[QueryCompiler]] against this frame). One
    * left-semi join on the parent id — the distributed shape ES's
    * doc-values join emulates; AQE broadcasts the matching-id side when
    * small. Declared subset: no scoring (ES's default score_mode none) —
    * parent and child id spaces must be disjoint, which the join-field
    * model guarantees. */
  def hasChild(docs: DataFrame, childType: String, query: String,
               typeCol: String = "join_name", parentCol: String = "join_parent",
               idCol: String = "doc_id"): DataFrame = {
    val pred = QueryCompiler.compile(query, Int.MaxValue, idCol,
      schema = docs.schema).predicate
    val matchIds = docs.where(col(typeCol) === childType && pred)
      .select(col(parentCol).as("__pid")).where(col("__pid").isNotNull)
    docs.join(matchIds, col(idCol) === col("__pid"), "left_semi")
  }

  /** [[hasChild]] with ES `inner_hits`: each returned parent also carries
    * the first `k` matching child ids (ascending — the deterministic
    * stand-in for score order under score_mode none) and the total match
    * count. Children aggregate per parent BEFORE the join, so the join
    * payload is one capped array per matching parent — never a
    * parent×child row explosion. */
  def hasChildInnerHits(docs: DataFrame, childType: String, query: String,
                        k: Int, typeCol: String = "join_name",
                        parentCol: String = "join_parent",
                        idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"inner_hits size must be >= 1, got $k")
    val pred = QueryCompiler.compile(query, Int.MaxValue, idCol,
      schema = docs.schema).predicate
    val inner = docs.where(col(typeCol) === childType && pred)
      .where(col(parentCol).isNotNull)
      .groupBy(col(parentCol).as("__pid"))
      .agg(slice(sort_array(collect_list(col(idCol))), 1, k).as("inner_hits"),
        count(lit(1)).as("inner_total"))
    docs.join(inner, col(idCol) === col("__pid"), "inner").drop("__pid")
  }

  /** ES `has_parent`: the dual of [[hasChild]] — returns CHILD rows whose
    * parent row is of `parentType` and matches `query`. Same left-semi
    * join shape, keyed the other way around. */
  def hasParent(docs: DataFrame, parentType: String, query: String,
                typeCol: String = "join_name", parentCol: String = "join_parent",
                idCol: String = "doc_id"): DataFrame = {
    val pred = QueryCompiler.compile(query, Int.MaxValue, idCol,
      schema = docs.schema).predicate
    val matchIds = docs.where(col(typeCol) === parentType && pred)
      .select(col(idCol).as("__pid"))
    docs.where(col(parentCol).isNotNull)
      .join(matchIds, col(parentCol) === col("__pid"), "left_semi")
  }

  /** ES `phrase` suggester (did-you-mean): whole-phrase corrections for a
    * multi-token input, ranked by a stupid-backoff bigram language model
    * over the corpus — the reproducible subset of ES's smoothed-LM scoring
    * (reference pipe: any suggest body goes to ES verbatim,
    * ElasticIndex.java:663).
    *
    * Per position, candidates = the input token itself (corpus frequency,
    * 0 if absent) plus the top `perTermCandidates - 1` dictionary terms
    * within `maxEdits` Levenshtein distance, ranked
    * distance-then-frequency (the term-suggester machinery). Phrases are
    * scored `Π cond(w_{i-1}, w_i)` with
    * `cond = count(w1 w2) / count(w1)` when the bigram occurs, else
    * `0.4 * count(w2) / N` (stupid backoff, ES's default discount 0.4).
    *
    * Scale: the unigram and bigram counts are vocabulary-bounded
    * distributed aggregates; everything collected is provably tiny —
    * per-position candidates (≤ positions × perTermCandidates rows) and
    * the candidate-bigram counts (≤ Σ |C_i|·|C_{i+1}| rows, broadcast
    * semi-joined against the corpus bigrams). The final path search runs
    * on those collected counts with a beam of `max(10 * size, 100)`
    * partial paths — exact whenever the full combination count fits the
    * beam (always true for two-token inputs). */
  def phraseSuggest(docs: DataFrame, field: String, text: String,
                    size: Int = 3, maxEdits: Int = 2,
                    perTermCandidates: Int = 5): DataFrame = {
    // ONE corpus tokenize pass feeds both LM tables (guide §6: read once —
    // r14 built unigrams and bigrams in two separate corpus passes). The
    // fused aggregate is vocabulary-sized; persisting IT (not the corpus)
    // keeps the suggester's several driver actions from re-running the
    // build, and every action completes inside phraseSuggestOver, so the
    // unpersist is immediate — no cached relation outlives the call (the
    // r14 leak: an un-unpersisted MEMORY_ONLY unigram table per call).
    val counts = lmGramCounts(docs, field)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try phraseSuggestOver(
      counts.where(!col("g").contains(" "))
        .select(col("g").as("w"), col("freq")),
      counts.where(col("g").contains(" "))
        .select(col("g").as("b"), col("freq")),
      text, size, maxEdits, perTermCandidates)
    finally counts.unpersist()
  }

  /** The phrase suggester's LM statistics in ONE corpus pass: unigram
    * OCCURRENCE counts (LM semantics — not the term suggester's document
    * frequency) and adjacent-bigram counts share a single tokenize +
    * explode + hash aggregate. Analyzer tokens are `[a-z0-9_]+` runs, so
    * a gram is a bigram iff it contains a space — the two tables split
    * back out of the fused aggregate with a filter, never a second corpus
    * read. The token array is bound to a column first so the tokenizer
    * evaluates once per row, not once per gram family. */
  private def lmGramCounts(docs: DataFrame, field: String): DataFrame =
    graft.pipeline.Spread.scanFloor(docs, col(field))
      .select(WordRuns.column(col(field)).as("_ts"))
      .select(explode(concat(col("_ts"),
        graft.functions.TextSketchFunctions.word_grams(col("_ts"), 2))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("freq"))

  /** The 100 TB shape behind [[phraseSuggest]], materialized: the
    * suggester's LM build is corpus-linear (measured the worst sf1 scale
    * ratio on the bench, 13× for 10× rows — postings-style construction
    * inside the timed query), while serving a suggestion needs only
    * vocabulary-sized lookups. Write the unigram/bigram tables ONCE;
    * every suggestion after that reads the store and never touches the
    * corpus. The bigram table is written sorted on the bigram key so the
    * candidate-pair probe prunes parquet row groups by min/max instead of
    * scanning the whole table. */
  def writeSuggestStore(docs: DataFrame, field: String, path: String): Unit = {
    // one tokenize pass builds both tables (see [[lmGramCounts]]); the
    // fused vocabulary-sized aggregate is persisted across the two write
    // actions and released before returning
    val counts = lmGramCounts(docs, field)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      counts.where(!col("g").contains(" ")).select(col("g").as("w"), col("freq"))
        .write.mode("overwrite").parquet(s"$path/unigrams")
      counts.where(col("g").contains(" ")).select(col("g").as("b"), col("freq"))
        .sort("b").write.mode("overwrite").parquet(s"$path/bigrams")
    } finally counts.unpersist()
  }

  /** Incremental maintenance for [[writeSuggestStore]] (the
    * [[TextIndex.appendPostings]] analog): aggregate the LM delta over
    * ONLY the new docs, then merge it into the stored count tables by key
    * — one batch-sized pass plus a vocabulary-bounded rewrite, never a
    * corpus pass. Counts are associative, so
    * `append(A); append(B)` ≡ `write(A ∪ B)` exactly (pinned by
    * `q_suggest_store_append` against the full-corpus oracle and a
    * SearchSpec frame-equality case). Contract: `newDocs` are NEW
    * documents — an in-place EDIT would need its old tokens subtracted;
    * rebuild (or reindex the edited segment) for that, as with postings
    * frequency stats. The ES analog: suggesters read the live index, so
    * every doc write keeps them current implicitly
    * (reference: ElasticIndex.java:470-621). */
  def appendSuggestStore(newDocs: DataFrame, field: String, path: String): Unit =
    appendSuggestStore(newDocs, field, path, None)

  /** [[appendSuggestStore]] with per-batch idempotence for at-least-once
    * callers (the streamed insert path). r14: each sub-store's LM delta
    * lands as a batch-sized delta SEGMENT
    * ([[graft.pipeline.TextStats]]'s flat-count-store discipline) —
    * O(|batch|) instead of the previous whole-table rewrite, which the
    * streamed insert path paid PER MICRO-BATCH. The delta dir's rename is
    * the atomic commit and (for batch appends) carries the batch id, so a
    * redelivered batch skips sub-appends that already landed — the LM
    * tables carry no doc keys, so without that a replayed append would
    * silently double the batch's counts. [[graft.Maintain
    * .compactCountStore]] folds segments back into the sorted base on the
    * maintenance cadence (auto past `graft.countstore.maxDeltas`). */
  def appendSuggestStore(newDocs: DataFrame, field: String, path: String,
                         batchId: Option[Long]): Unit = {
    val spark = newDocs.sparkSession
    def appendSub(delta: DataFrame, sub: String, key: String): Unit = {
      val dir = s"$path/$sub"
      if (batchId.exists(graft.pipeline.TextStats
          .countStoreHoldsBatch(spark, dir, _))) return
      graft.pipeline.TextStats.writeCountDelta(spark, dir, delta, key, batchId)
    }
    // one batch tokenize pass feeds both sub-deltas (see [[lmGramCounts]]);
    // persisted across the two delta writes, released before returning
    val counts = lmGramCounts(newDocs, field)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      appendSub(counts.where(!col("g").contains(" "))
        .select(col("g").as("w"), col("freq")), "unigrams", "w")
      appendSub(counts.where(col("g").contains(" "))
        .select(col("g").as("b"), col("freq")), "bigrams", "b")
    } finally counts.unpersist()
  }

  /** Serve [[phraseSuggest]] from a [[writeSuggestStore]] store —
    * identical output to the direct form on the same corpus (pinned in
    * SearchSpec). Cost: one vocabulary-bounded scan for corrections + a
    * row-group-pruned probe of the bigram table; the corpus is never
    * read. */
  def phraseSuggestFromStore(spark: org.apache.spark.sql.SparkSession,
                             path: String, text: String,
                             size: Int = 3, maxEdits: Int = 2,
                             perTermCandidates: Int = 5): DataFrame = {
    // the unigram table feeds three actions (see [[phraseSuggestOver]]) —
    // persist the vocabulary-sized read across them and release before
    // returning (every action completes inside the call)
    val unis = graft.pipeline.TextStats
      .readCountStore(spark, s"$path/unigrams", "w", "freq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try phraseSuggestOver(unis,
      graft.pipeline.TextStats.readCountStore(spark, s"$path/bigrams", "b", "freq"),
      text, size, maxEdits, perTermCandidates)
    finally unis.unpersist()
  }

  private def phraseSuggestOver(unis0: DataFrame, bigs0: DataFrame, text: String,
                                size: Int, maxEdits: Int,
                                perTermCandidates: Int): DataFrame = {
    // the unigram table feeds THREE actions below (the totalN aggregate,
    // the corrections collect, the originals branch of the same union).
    // Persistence is the CALLER's job (r15 — the r14 persist here was
    // never unpersisted and leaked one cached relation per call):
    // [[phraseSuggest]] persists its fused in-query LM build around this
    // call and releases it on return; the store-served form reads a
    // vocabulary-sized parquet table per action, which is already cheap.
    val unis = unis0
    val spark = unis.sparkSession
    import spark.implicits._
    val toks = WordRuns.tokens(text)
    require(toks.size >= 2 && toks.size <= 6,
      s"phrase suggester supports 2..6 analyzed tokens (declared subset), " +
        s"got ${toks.size}")
    require(size >= 1, s"phrase suggester size must be >= 1, got $size")
    require(maxEdits >= 1 && maxEdits <= 2,
      s"phrase suggester max_edits must be 1 or 2, got $maxEdits")
    require(perTermCandidates >= 2 && perTermCandidates <= 10,
      s"phrase suggester per-term candidates must be 2..10, got $perTermCandidates")
    // coalesce + floor-at-1: an empty corpus sums to NULL and would make
    // every backoff a 0/0 NaN — with no occurrences the numerators are 0,
    // so the floor only turns those into honest 0.0 scores
    val totalN = math.max(1L,
      unis.agg(coalesce(sum(col("freq")), lit(0L))).as[Long].head())
    val inputDf = toks.zipWithIndex.toDF("token", "pos")
    // top corrections per position (vocabulary x tiny-input cross join)
    val corrW = org.apache.spark.sql.expressions.Window
      .partitionBy("pos").orderBy(asc("distance"), desc("freq"), asc("w"))
    val corrections = unis.crossJoin(broadcast(inputDf))
      .where(col("w") =!= col("token") &&
        levenshtein(col("token"), col("w")) <= maxEdits)
      .withColumn("distance", levenshtein(col("token"), col("w")))
      .withColumn("rank", row_number().over(corrW))
      .where(col("rank") <= perTermCandidates - 1)
      .select(col("pos"), col("w"), col("freq"))
    // the input token itself always stays a candidate (freq 0 if absent —
    // backoff scores it 0, ranking it last); inner join + driver-side
    // zero-fill keeps the broadcast on the tiny side
    val originals = unis.join(broadcast(inputDf), col("token") === col("w"))
      .select(col("pos"), col("w"), col("freq"))
    val found =
      corrections.unionByName(originals)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val zeroFill = toks.zipWithIndex.collect {
      case (t, i) if !found.exists(f => f._1 == i && f._2 == t) => (i, t, 0L)
    }
    val cands: Map[Int, Seq[(String, Long)]] =
      (found ++ zeroFill)
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).toSeq.sortBy(_._1)).toMap
    // counts for just the candidate bigrams: a tiny pair list broadcast
    // against the corpus-bigram aggregate
    val pairList = (0 until toks.size - 1).flatMap { i =>
      for ((w1, _) <- cands.getOrElse(i, Seq.empty);
           (w2, _) <- cands.getOrElse(i + 1, Seq.empty)) yield w1 + " " + w2
    }.distinct
    val bigCounts: Map[String, Long] =
      if (pairList.isEmpty) Map.empty
      else bigs0.join(broadcast(pairList.toDF("pair")), col("b") === col("pair"))
        .select("b", "freq").as[(String, Long)].collect().toMap
    val uniOf: Map[String, Long] =
      cands.values.flatten.toMap
    // beam over positions; product of bigram conditionals
    def cond(w1: String, w2: String): Double = {
      val bc = bigCounts.getOrElse(w1 + " " + w2, 0L)
      if (bc > 0) bc.toDouble / uniOf(w1)
      else 0.4 * uniOf.getOrElse(w2, 0L) / totalN
    }
    val beam = math.max(10 * size, 100)
    var paths: Seq[(Vector[String], Double)] =
      cands.getOrElse(0, Seq.empty).map { case (w, _) => (Vector(w), 1.0) }
    for (i <- 1 until toks.size) {
      paths = paths.flatMap { case (p, s0) =>
        cands.getOrElse(i, Seq.empty).map { case (w, _) =>
          (p :+ w, s0 * cond(p.last, w))
        }
      }.sortBy { case (p, s0) => (-s0, p.mkString(" ")) }.take(beam)
    }
    val top = paths
      .map { case (p, s0) => (p.mkString(" "), s0) }
      .sortBy { case (t, s0) => (-s0, t) }
      .take(size)
      .zipWithIndex.map { case ((t, s0), i) => (t, s0, i + 1) }
    top.toDF("suggestion", "score", "rank")
  }

  /** ES completion suggester, re-expressed over the corpus term
    * dictionary: terms with the given prefix ranked by document frequency
    * (ES ranks by indexed weight over a dedicated FST field — our weight
    * IS the doc frequency; declared analog). The prefix filter lands on
    * the dictionary aggregate, so the cost is one vocabulary-bounded
    * groupBy + a top-k. */
  def completionSuggest(docs: DataFrame, field: String, prefix: String,
                        size: Int = 5): DataFrame = {
    require(prefix.nonEmpty, "completion suggester needs a non-empty prefix")
    require(size >= 1, s"completion suggester size must be >= 1, got $size")
    graft.pipeline.Spread.scanFloor(docs, col(field))
      .select(explode(array_distinct(WordRuns.column(col(field)))).as("suggestion"))
      .where(col("suggestion").startsWith(prefix.toLowerCase))
      .groupBy("suggestion").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("suggestion"))
      .limit(size)
  }

  /** ES completion suggester with `contexts` and `fuzzy` — the production
    * form of [[completionSuggest]] (ES context suggester docs: a completion
    * field indexed under category contexts; a fuzzy prefix tolerates typos).
    *
    * Contexts: each (column → allowed values) entry restricts the corpus
    * BEFORE the dictionary aggregate — the Spark analog of ES's per-context
    * FST partition, and a plain pushed-down `IN` filter on the scan.
    *
    * Fuzzy (declared subset of ES's `fuzzy` object): a dictionary term
    * matches when its first `len(prefix)` characters are within Levenshtein
    * distance `fuzziness` of the prefix, with the first `fuzzyPrefixLength`
    * characters required exact (ES `prefix_length`, default 1 here — ES
    * defaults fuzziness AUTO / prefix_length 1). `fuzziness = 0` degenerates
    * to the exact form. Ranking stays weight-first (freq desc — ES ranks
    * fuzzy completions by weight, not distance); `distance` is surfaced as
    * a column for the caller. The distance computation runs on the
    * vocabulary-bounded dictionary (post-aggregate), not per document —
    * levenshtein on every corpus row would be the 100 TB mistake. */
  def completionSuggestFuzzy(docs: DataFrame, field: String, prefix: String,
                             size: Int = 5,
                             contexts: Map[String, Seq[String]] = Map.empty,
                             fuzziness: Int = 0,
                             fuzzyPrefixLength: Int = 1): DataFrame = {
    require(prefix.nonEmpty, "completion suggester needs a non-empty prefix")
    require(size >= 1, s"completion suggester size must be >= 1, got $size")
    require(fuzziness >= 0 && fuzziness <= 2,
      s"completion fuzziness must be 0..2, got $fuzziness")
    require(fuzzyPrefixLength >= 0,
      s"fuzzy prefix_length must be >= 0, got $fuzzyPrefixLength")
    val p = prefix.toLowerCase
    val filtered = contexts.foldLeft(docs) { case (df, (c, vs)) =>
      require(vs.nonEmpty, s"completion context '$c' needs at least one value")
      df.where(col(c).isin(vs: _*))
    }
    val dict = graft.pipeline.Spread.scanFloor(filtered, col(field))
      .select(explode(array_distinct(WordRuns.column(col(field)))).as("suggestion"))
      .groupBy("suggestion").agg(count(lit(1)).as("freq"))
    completionOver(dict, p, size, fuzziness, fuzzyPrefixLength)
  }

  /** Shared completion core over a `(suggestion, freq)` dictionary. */
  private def completionOver(dict: DataFrame, p: String, size: Int,
                             fuzziness: Int, fuzzyPrefixLength: Int): DataFrame = {
    val head = substring(col("suggestion"), 1, p.length)
    val matched =
      if (fuzziness == 0) dict.where(col("suggestion").startsWith(p))
        .withColumn("distance", lit(0))
      else {
        val exactHead = fuzzyPrefixLength.min(p.length)
        dict
          // cheap exact-head prune first so levenshtein runs on a sliver of
          // the vocabulary (and the scan-side filter stays a prefix match)
          .where(substring(col("suggestion"), 1, exactHead) === p.take(exactHead))
          .withColumn("distance", levenshtein(head, lit(p)))
          .where(col("distance") <= fuzziness)
      }
    matched.orderBy(desc("freq"), asc("suggestion")).limit(size)
      .select(col("suggestion"), col("freq"), col("distance"))
  }

  /** Materialized completion dictionary (the [[writeSuggestStore]] pattern
    * for the completion suggester): per (context columns…, term) DOC
    * counts, written `partitionBy(contextCols)` (directory pruning for
    * context filters) and term-sorted within files (row-group pruning for
    * the prefix probe). Contract: each context column is SCALAR per doc,
    * so a doc lands in exactly one partition combo and restricted sums
    * count it once — exactly the corpus-filtered doc frequency the direct
    * form computes. */
  def writeCompletionStore(docs: DataFrame, field: String, path: String,
                           contextCols: Seq[String] = Seq.empty): Unit = {
    val dict = graft.pipeline.Spread.scanFloor(docs, col(field))
      .select(contextCols.map(col) :+
        explode(array_distinct(WordRuns.column(col(field)))).as("suggestion"): _*)
      .groupBy((contextCols :+ "suggestion").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    completionWriter(dict, contextCols).mode("overwrite").parquet(path)
  }

  /** A completion dictionary's write: clustered by its context columns and
    * term-sorted within files. */
  private def completionWriter(dict: DataFrame, contextCols: Seq[String]) =
    StoreFs.sortedWrite(
      if (contextCols.nonEmpty) dict.repartition(contextCols.map(col): _*) else dict,
      contextCols, Seq("suggestion"))

  /** Incremental maintenance for [[writeCompletionStore]]: per-context
    * doc-count delta over ONLY the new docs, merged into the stored
    * dictionary by (contexts…, term) — batch-sized pass + vocabulary-
    * bounded rewrite, same associativity/NEW-docs contract and swap
    * discipline as [[appendSuggestStore]]. The context columns are read
    * from the store's own partition layout (not re-declared by the
    * caller), and the delta's context values are cast to the store's
    * read-back partition types so the merge keys align. */
  def appendCompletionStore(newDocs: DataFrame, field: String, path: String): Unit = {
    val spark = newDocs.sparkSession
    StoreFs.recover(spark, path) // the layout read below precedes the swap
    val store = StoreFs.read(spark, Seq(path), Some(path))
    require(Set("suggestion", "freq").subsetOf(store.columns.toSet),
      s"$path is not a completion store (needs suggestion/freq columns, " +
        s"found: ${store.columns.mkString(", ")})")
    val contextCols =
      store.columns.filterNot(Set("suggestion", "freq").contains).toSeq
    val delta0 = newDocs
      .select(contextCols.map(col) :+
        explode(array_distinct(WordRuns.column(col(field)))).as("suggestion"): _*)
      .groupBy((contextCols :+ "suggestion").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    val delta = contextCols.foldLeft(delta0)((df, c) =>
      df.withColumn(c, col(c).cast(store.schema(c).dataType)))
    StoreFs.stagedRewrite(spark, path) { tmp =>
      val merged = store.unionByName(delta)
        .groupBy((contextCols :+ "suggestion").map(col): _*)
        .agg(sum(col("freq")).cast("long").as("freq"))
      completionWriter(merged, contextCols).parquet(tmp)
    }
  }

  /** Serve [[completionSuggestFuzzy]] from a [[writeCompletionStore]]
    * store — identical output on the same corpus for any context filter
    * over the store's context columns (SearchSpec pins it). Cost: a
    * directory/row-group-pruned scan of the vocabulary-sized dictionary +
    * one re-aggregate; the corpus is never read. */
  def completionSuggestFromStore(spark: org.apache.spark.sql.SparkSession,
                                 path: String, prefix: String, size: Int = 5,
                                 contexts: Map[String, Seq[String]] = Map.empty,
                                 fuzziness: Int = 0,
                                 fuzzyPrefixLength: Int = 1): DataFrame = {
    require(prefix.nonEmpty, "completion suggester needs a non-empty prefix")
    require(size >= 1, s"completion suggester size must be >= 1, got $size")
    require(fuzziness >= 0 && fuzziness <= 2,
      s"completion fuzziness must be 0..2, got $fuzziness")
    val store = StoreFs.read(spark, Seq(path), Some(path))
    val filtered = contexts.foldLeft(store) { case (df, (c, vs)) =>
      require(vs.nonEmpty, s"completion context '$c' needs at least one value")
      df.where(col(c).isin(vs: _*))
    }
    val dict = filtered.groupBy("suggestion")
      .agg(sum(col("freq")).cast("long").as("freq"))
    completionOver(dict, prefix.toLowerCase, size, fuzziness, fuzzyPrefixLength)
  }

  /** ES 8.14+ retriever tree: `{"retriever": {…}, "size": N}` — the
    * modern search-API composition surface. Declared subset of retriever
    * types: `standard` (a query body over the doc frame), `knn` (the ES-8
    * knn shape over a vector column of the SAME frame), and `rrf` over a
    * list of child retrievers (`rank_window_size` caps each child's hit
    * list, `rank_constant` feeds [[rrf]]). Every leaf is a capped top-k;
    * the fusion is a union + one hash aggregate over ≤ Σk rows — the tree
    * never widens past its window sizes, whatever the corpus size. */
  def retriever(docs: DataFrame, body: String, cfg: IndexConfig = IndexConfig(),
                pkCols: Seq[String] = Seq("doc_id")): DataFrame = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "retriever body must be a JSON object")
    val unknownTop = root.fieldNames.asScala.toSet -- Set("retriever", "size")
    require(unknownTop.isEmpty,
      s"unsupported retriever body key(s): ${unknownTop.mkString(", ")}")
    val rNode = Option(root.get("retriever")).filter(_.isObject)
      .getOrElse(throw new IllegalArgumentException("body needs a 'retriever' object"))
    val size = Option(root.get("size")).map(_.asInt).getOrElse(10)
    require(size >= 1, s"retriever size must be >= 1, got $size")
    def eval(node: JsonNode, cap: Int): DataFrame = {
      require(node.isObject && node.size == 1,
        s"retriever must be a single-type object, got: $node")
      val tpe = node.fieldNames.asScala.next()
      val spec = node.get(tpe)
      tpe match {
        case "standard" =>
          val unknownS = spec.fieldNames.asScala.toSet - "query"
          require(unknownS.isEmpty,
            s"unsupported standard retriever key(s): ${unknownS.mkString(", ")}")
          val q = Option(spec.get("query")).getOrElse(
            throw new IllegalArgumentException("standard retriever needs 'query'"))
          search(docs, bodyOf("query", q).put("size", cap).toString, cfg, pkCols)
            .select(col(pkCols.head), col("_score"))
        case "knn" =>
          knnSearch(docs, bodyOf("knn", spec).put("size", cap).toString, cfg, pkCols.head)
            .select(col(pkCols.head), col("_score"))
        case "rrf" =>
          val unknownR = spec.fieldNames.asScala.toSet --
            Set("retrievers", "rank_window_size", "rank_constant")
          require(unknownR.isEmpty,
            s"unsupported rrf retriever key(s): ${unknownR.mkString(", ")}")
          val children = Option(spec.get("retrievers")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              "rrf retriever needs 'retrievers': [...]"))
          require(children.size >= 2, "rrf needs at least two child retrievers")
          val window = Option(spec.get("rank_window_size")).map(_.asInt)
            .getOrElse(math.max(cap, 10))
          val rc = Option(spec.get("rank_constant")).map(_.asInt).getOrElse(60)
          rrf(children.map(eval(_, window)), pkCols.head, rc, cap, cfg)
        case other => throw new IllegalArgumentException(
          s"unsupported retriever type '$other' (standard/knn/rrf — declared subset)")
      }
    }
    eval(rNode, size)
  }

  /** ES index-pattern resolution: expand `logs-*`-style patterns (comma
    * lists, `*`/`?` wildcards, `-name` exclusions — the _search/_msearch
    * target grammar) against a catalog of named frames and union the
    * matches by column name, each row tagged with its source index in
    * `_index` (the ES hit metadata field). Missing columns null-fill like
    * ES's sparse mappings. Fail-loud when nothing matches (ES
    * allow_no_indices=false). */
  def indexPattern(catalog: Map[String, DataFrame],
                   pattern: String): DataFrame = {
    val parts = pattern.split(',').map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "empty index pattern")
    val (excludes, includes) = parts.partition(_.startsWith("-"))
    require(includes.nonEmpty, s"index pattern '$pattern' has no inclusions")
    def rx(p: String) = ("^" + java.util.regex.Pattern.quote(p)
      .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "$").r
    val inc = includes.map(rx)
    val exc = excludes.map(e => rx(e.stripPrefix("-")))
    val matched = catalog.keys.toSeq.sorted.filter(n =>
      inc.exists(_.findFirstIn(n).isDefined) &&
        !exc.exists(_.findFirstIn(n).isDefined))
    require(matched.nonEmpty,
      s"index pattern '$pattern' matches nothing " +
        s"(catalog: ${catalog.keys.toSeq.sorted.mkString(", ")})")
    matched.map(n => catalog(n).withColumn("_index", lit(n)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** ES `indices_boost`: per-index score multipliers over an
    * index-pattern search's hits (the `_index` column [[indexPattern]]
    * tags). First matching pattern wins, factor 1 when none — ES's own
    * first-match rule for the object-array form. Integer factors (the
    * engine's integer-scoring subset); pure column math on the hit rows. */
  def indicesBoost(hits: DataFrame, boosts: Seq[(String, Int)]): DataFrame = {
    require(boosts.nonEmpty, "indices_boost needs at least one entry")
    require(hits.columns.contains("_index"),
      "indices_boost needs the _index column (search over indexPattern output)")
    boosts.foreach { case (p, f) => require(f >= 1,
      s"indices_boost '$p': factor must be a positive integer " +
        s"(integer-scoring subset), got $f") }
    def rxStr(p: String) = "^" + java.util.regex.Pattern.quote(p)
      .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "$"
    val factor = boosts.foldLeft(lit(null).cast("long")) { case (acc, (p, f)) =>
      coalesce(acc, when(col("_index").rlike(rxStr(p)), lit(f.toLong)))
    }
    hits.withColumn("_score", col("_score") * coalesce(factor, lit(1L)))
  }

  /** ES `_terms_enum`: the low-latency keyword-autocomplete endpoint —
    * distinct values of a keyword field starting with `prefix`,
    * ascending, capped at `size`. The prefix filter pushes to the scan
    * (StartsWith pushdown), the distinct is one hash aggregate over the
    * surviving slice, and the cap fuses into TakeOrderedAndProject. */
  def termsEnum(docs: DataFrame, field: String, prefix: String,
                size: Int = 10, caseInsensitive: Boolean = false): DataFrame = {
    require(size >= 1, s"terms_enum size must be >= 1, got $size")
    val c = col(field)
    val p =
      if (caseInsensitive) lower(c).startsWith(prefix.toLowerCase)
      else c.startsWith(prefix)
    docs.where(c.isNotNull && p).select(c.as("term")).distinct()
      .orderBy(asc("term")).limit(size)
  }

  /** Global 1-based rank of every row under a TOTAL order (the caller's
    * sort keys must be tie-free — ours always end in the unique pk),
    * computed WITHOUT a single-partition window: the custom
    * [[graft.plans.GlobalRankPlan]] operator range-partitions the sort
    * and each task ranks only its own slice against a prefix-summed
    * per-partition offset — the frame never funnels through one partition,
    * so the rank survives an unbounded (corpus-sized) input where
    * `Window.orderBy` (no partitionBy) would not. Lazy at construction
    * (nothing runs until an action), and structurally consistent: the
    * count pass and the output pass share ONE materialized child RDD, so
    * the rank no longer depends on the optimizer reusing a range exchange
    * between two declarative branches (which `spark.sql.exchange.reuse=
    * false` broke — see GlobalRank.scala for the failure mode). */
  private[graft] def globalRank(df: DataFrame, order: Seq[Column],
                                rankCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
    import org.apache.spark.sql.graft.Bridge
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.GlobalRankStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.GlobalRankStrategy
    val sortOrders = order.map(c => Bridge.catalystExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    val rankAttr = AttributeReference(rankCol,
      org.apache.spark.sql.types.LongType, nullable = false)()
    Bridge.ofRows(spark,
      graft.plans.GlobalRankPlan(sortOrders, rankAttr, Bridge.logicalPlan(df)))
  }

  /** ES 8 `rrf` retriever: reciprocal rank fusion of several ranked hit
    * lists — score(d) = Σ_r 1/(rank_constant + rank_r(d)), documents
    * missing from a ranking contribute nothing for it (the ES window
    * semantics). Each input frame must carry `idCol` and `_score`; its
    * ranking order is [[relevanceOrder]] — the engine's deterministic hit
    * order — and the fused list is ranked by [[rankHits]] under `cfg`'s
    * max-results cap.
    *
    * 100 TB shape: every input is an already-capped top-k hit list (ES
    * caps at rank_window_size; ours at maxResults), so the per-ranking
    * [[globalRank]] runs on k rows, and the fusion is a union +
    * one hash aggregate over ≤ Σk rows — never corpus-sized. */
  def rrf(rankings: Seq[DataFrame], idCol: String = "doc_id",
          rankConstant: Int = 60, size: Int = 10,
          cfg: IndexConfig = IndexConfig()): DataFrame = {
    require(rankings.size >= 2, "rrf needs at least two rankings")
    require(rankConstant >= 1, s"rrf rank_constant must be >= 1, got $rankConstant")
    require(size >= 1, s"rrf size must be >= 1, got $size")
    val contribs = rankings.map { r =>
      globalRank(r.select(col(idCol), col("_score")), relevanceOrder(idCol), "_rrf_rank")
        .select(col(idCol),
          (lit(1.0) / (lit(rankConstant.toDouble) + col("_rrf_rank")))
            .as("_rrf_contrib"))
    }
    rankHits(contribs.reduce(_ unionAll _)
      .groupBy(col(idCol))
      .agg(sum(col("_rrf_contrib")).as("_score"),
        count(lit(1)).cast("int").as("_rrf_matched")), size, cfg, idCol)
  }

  /** ES `_rank_eval`: relevance evaluation of a query battery against
    * graded judgments. For each request: run the search top-`k`, join the
    * (tiny, broadcast) rated set, emit the standard metrics —
    * `precision_at_k` (rated-relevant hits / k), `recall_at_k`
    * (rated-relevant hits / total relevant), `mrr` (1/rank of the first
    * relevant hit; 0 when none), and `dcg` (Σ (2^rating − 1) /
    * log2(rank + 1) — the ES dcg_at_k form). Ratings > 0 count as
    * relevant, like ES's default.
    *
    * Each per-request frame is k rows; metrics are one aggregate over it.
    * The battery is a client batch — the union is request-count-bounded. */
  def rankEval(docs: DataFrame, requests: Seq[(String, String, Map[String, Int])],
               cfg: IndexConfig, pkCols: Seq[String] = Seq("doc_id"),
               k: Int = 10): DataFrame = {
    require(requests.nonEmpty, "_rank_eval needs at least one request")
    require(k >= 1, s"_rank_eval k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    requests.map { case (qid, query, ratings) =>
      require(ratings.nonEmpty, s"_rank_eval request '$qid' needs ratings")
      val rated = ratings.toSeq.toDF("_re_id", "_re_rating")
      val totalRelevant = ratings.values.count(_ > 0)
      val pk = pkCols.head
      // rank in the engine's hit order — (score desc, pk asc) on the pk's
      // NATIVE type (a string-cast rank would resort numerically-keyed
      // docs lexicographically). Only the top-k matter, so the cut is a
      // distributed TakeOrderedAndProject and the rank runs on ≤ k rows —
      // never a corpus-sized single-partition window.
      val topK = rankHits(search(docs, query, cfg, pkCols).select(col(pk), col("_score")),
        k, cfg, pk)
      val hits = globalRank(topK, relevanceOrder(pk), "_re_rank")
        .select(col(pk).cast("string").as("_re_hit"), col("_re_rank"))
      val joined = hits.join(broadcast(rated),
          hits("_re_hit") === rated("_re_id"), "left")
        .withColumn("_re_rel",
          when(coalesce(col("_re_rating"), lit(0)) > 0, 1).otherwise(0))
      joined.agg(
          sum(col("_re_rel")).as("_hits_rel"),
          min(when(col("_re_rel") === 1, col("_re_rank"))).as("_first_rel"),
          sum(when(col("_re_rel") === 1,
              (pow(lit(2.0), coalesce(col("_re_rating"), lit(0)).cast("double"))
                - 1.0) / log2(col("_re_rank").cast("double") + 1.0))
            .otherwise(0.0)).as("_dcg"))
        .select(lit(qid).as("query_id"),
          (coalesce(col("_hits_rel"), lit(0L)).cast("double") / k)
            .as("precision_at_k"),
          (coalesce(col("_hits_rel"), lit(0L)).cast("double") /
            totalRelevant.max(1)).as("recall_at_k"),
          coalesce(lit(1.0) / col("_first_rel"), lit(0.0)).as("mrr"),
          coalesce(col("_dcg"), lit(0.0)).as("dcg"))
    }.reduce(_ unionAll _)
  }

  /** ES `_termvectors`: per-document term statistics for the given doc
    * ids — term frequency, first position (1-based), and corpus document
    * frequency, over the index analyzer's token view. The doc-id list is a
    * client batch (like [[mget]]): tf/position come from the selected
    * docs only, while df needs one vocabulary-bounded aggregate over the
    * corpus — joined to the (tiny) per-doc term set broadcast-side, so the
    * corpus is scanned once and never shuffled by row. */
  def termVectors(docs: DataFrame, pkCol: String, field: String,
                  ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, "_termvectors needs at least one doc id")
    val toks = WordRuns.column(col(field))
    val selected = docs.where(col(pkCol).cast("string").isin(ids: _*))
      .select(col(pkCol).cast("string").as("_tv_id"), toks.as("_tv_tokens"))
    val perDoc = selected
      .select(col("_tv_id"), explode(col("_tv_tokens")).as("term"),
        col("_tv_tokens"))
      .groupBy(col("_tv_id"), col("term"))
      .agg(count(lit(1)).as("term_freq"),
        first(array_position(col("_tv_tokens"), col("term"))).as("first_position"))
    // corpus df, restricted to the terms the response can mention (r15):
    // only the SELECTED docs' terms ever reach the output's left join, so
    // the corpus term relation is semi-joined against that (tiny,
    // broadcast) term set BELOW the df aggregate — the aggregate's
    // exchange then carries ~|selected docs' vocabulary| rows instead of
    // the corpus vocabulary (guide §2.3: shuffle fewer bytes; output
    // unchanged — dropped terms could only have joined to nothing)
    val selTerms = selected
      .select(explode(array_distinct(col("_tv_tokens"))).as("term")).distinct()
    val dfStats = graft.pipeline.Spread.scanFloor(docs, col(field))
      .select(explode(array_distinct(toks)).as("term"))
      .join(broadcast(selTerms), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    perDoc.join(dfStats, Seq("term"), "left")
      .select(col("_tv_id"), col("term"), col("term_freq"),
        col("first_position"), coalesce(col("doc_freq"), lit(0L)).as("doc_freq"))
  }

  /** ES `_mget`: batch get-by-id. One output row per REQUESTED id, in
    * request order, with `found` false (and null doc columns) for absent
    * ids — the ES `_mget` response contract. The reference serves doc-by-PK
    * point reads one hit at a time (StreamingPartitionIterator.java:113-126);
    * the batch form is one scan.
    *
    * 100 TB shape: the id list is a client batch (bounded — ES bulk
    * conventions put it in the thousands), so it broadcasts onto the doc
    * scan as an inner join (pushable IN/bloom on the PK), and only the
    * ≤|ids| fetched rows come back to be outer-joined (again broadcast)
    * with the request list. The big table is never shuffled and never
    * outer-joined. */
  def mget(docs: DataFrame, pkCol: String, ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, "_mget needs at least one id")
    val spark = docs.sparkSession
    import spark.implicits._
    val req = ids.zipWithIndex.map { case (id, i) => (id, i.toLong) }
      .toDF("_mget_id", "_mget_ord")
    val fetched = docs
      .join(broadcast(req.select("_mget_id")),
        docs(pkCol).cast("string") === col("_mget_id"))
      .drop("_mget_id")
    req.join(broadcast(fetched), req("_mget_id") === fetched(pkCol).cast("string"),
        "left")
      .withColumn("found", fetched(pkCol).isNotNull)
      .drop(pkCol)
      .withColumnRenamed("_mget_id", "_id")
      .withColumnRenamed("_mget_ord", "_ord")
  }

  /** ES `explain=true`: per-hit score breakdown for a BM25 search — the
    * response-metadata parity piece for [[bm25]] (the reference surfaces
    * ES hit metadata per row, SearchResultPartitionIterator-style
    * enrichment; `_explanation` is the standard debug companion).
    *
    * [[bm25]]'s own scan/stats body, emitting the per-term stats beside
    * the folded sum: an `_explanation` array with one struct per query
    * term — `(term, tf, df, idf, contrib)` — ordered by term, plus the
    * `_bm25` total (identical to [[bm25]]'s — the same expression). Same
    * two-codegen-scan cost as [[bm25]]; the struct column adds no extra
    * pass. */
  def bm25Explain(docs: DataFrame, textCol: String, terms: Seq[String],
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 explain needs at least one term")
    bm25Scored(docs, textCol, terms, k1, b, explain = true)
  }

  /** ES `_mvt` vector-tile search (`GET /<idx>/_mvt/<field>/<z>/<x>/<y>`),
    * hits layer: the docs whose point falls inside web-mercator tile
    * (z, x, y), each with its integer pixel position in the tile's
    * `extent`×`extent` coordinate grid (ES default extent 4096 — the MVT
    * spec's local grid; this analog returns the decoded feature rows, not
    * the protobuf encoding). One scan: the tile-membership predicate and
    * the pixel math are the same codegen'd mercator expressions as
    * geotile_grid — a point is in the tile iff its global pixel at zoom z
    * lands in [x·extent, (x+1)·extent) × [y·extent, (y+1)·extent). Docs
    * with a null point drop; latitude clips to ES's mercator bound
    * ±85.05112878 (as in geotile_grid). */
  def mvtHits(docs: DataFrame, field: String, z: Int, x: Long, y: Long,
              extent: Int = 4096): DataFrame = {
    require(z >= 0 && z <= 29, s"mvt zoom must be 0..29, got $z")
    val n = 1L << z
    require(x >= 0 && x < n && y >= 0 && y < n,
      s"mvt tile ($x,$y) out of range for zoom $z")
    require(extent >= 1, "mvt extent must be >= 1")
    val world = lit(n.toDouble * extent) // global pixel span at zoom z
    val maxMercLat = 85.05112878
    val latClip = greatest(least(col(field).getField("lat"), lit(maxMercLat)),
      lit(-maxMercLat))
    val latR = radians(latClip)
    val pxG = floor((col(field).getField("lon") + lit(180.0)) / lit(360.0) * world)
    val pyG = floor((lit(1.0) -
      log(tan(latR) + lit(1.0) / cos(latR)) / lit(math.Pi)) / lit(2.0) * world)
    val px = pxG - lit(x * extent)
    val py = pyG - lit(y * extent)
    docs.where(col(field).isNotNull &&
        px >= 0 && px < extent && py >= 0 && py < extent)
      .withColumn("px", px.cast("long"))
      .withColumn("py", py.cast("long"))
  }

  /** `_mvt` aggs layer: the tile's hits bucketed on the MVT grid —
    * `grid_precision` extra zoom levels inside the tile (ES default 8 →
    * 2^8×2^8 cells, i.e. geotile cells at zoom z+8 clipped to this tile),
    * one `doc_count` per non-empty cell keyed by the in-tile cell
    * coordinates "gx/gy". Same single hash aggregate as geotile_grid —
    * the cell id is integer division of the pixel position. */
  def mvtGrid(docs: DataFrame, field: String, z: Int, x: Long, y: Long,
              extent: Int = 4096, gridPrecision: Int = 8): DataFrame = {
    require(gridPrecision >= 1 && gridPrecision <= 12,
      s"mvt grid_precision must be 1..12, got $gridPrecision")
    val cells = 1 << gridPrecision
    require(extent % cells == 0,
      s"extent $extent must be divisible by 2^grid_precision ($cells)")
    val cellPx = extent / cells
    mvtHits(docs, field, z, x, y, extent)
      .groupBy(concat_ws("/",
        floor(col("px") / cellPx),
        floor(col("py") / cellPx)).as("cell"))
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), asc("cell"))
  }
}
