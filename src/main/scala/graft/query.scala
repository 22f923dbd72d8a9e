package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Query metadata: the `#options:k=v,k2=v2#<query>` prefix protocol
  * (reference: QueryMetaData.java:28-75; tests QueryMetaDataTest.java:26-57).
  */
final case class QueryMeta(query: String, loadRows: Boolean = true,
                           loadSource: Boolean = false, // reference default: false
                           options: Map[String, String] = Map.empty)

object QueryMeta {
  private val Prefix = "#options:"

  /** Parse the option prefix. No prefix → the string passes through unchanged;
    * trailing `#`s after the first closing one belong to the query
    * (reference fixture: `"...#plop=42###"` → query `plop=42###`). */
  def parse(raw: String): QueryMeta =
    if (raw == null || !raw.startsWith(Prefix)) QueryMeta(raw)
    else {
      val close = raw.indexOf('#', Prefix.length)
      if (close < 0) QueryMeta(raw)
      else {
        val opts = raw.substring(Prefix.length, close).split(',')
          .iterator.map(_.trim).filter(_.nonEmpty)
          .map { kv =>
            val i = kv.indexOf('=')
            if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
          }.toMap
        // Boolean.valueOf semantics, case-insensitive: present and not
        // "true" (any case) → false (reference: QueryMetaData.java:64-75;
        // `load-rows=FALSE` must disable row loading)
        QueryMeta(raw.substring(close + 1),
          loadRows = opts.get("load-rows").forall(_.equalsIgnoreCase("true")),
          // absent → false, matching the reference
          loadSource = opts.get("load-source").exists(_.equalsIgnoreCase("true")),
          options = opts)
      }
    }
}

/** A compiled search: a boolean predicate, a deterministic relevance score,
  * and a result cap.
  *
  * The reference delegates all query syntax to Elasticsearch/Lucene
  * (ElasticIndex.java:127, 663-665 wraps the raw string; README.md:176-211).
  * A Spark engine must own the grammar, so this compiler supports a declared,
  * reproducible subset — Lucene-lite (`field:term`, `field:pre*` / `te?t`
  * wildcards, `field:/regex/` whole-token regex, `field:term~N` fuzzy,
  * `field:"a b"~N` ordered proximity ([[proximityMatch]]),
  * `field:term^N` boost, `field:[a TO b]`, `_exists_:field`,
  * `AND`/`OR`/`NOT`, `+`required/`-`prohibited, parentheses, field
  * grouping `field:(a OR b)^N`, and `\`-escaped literal specials —
  * see [[termMatch]] for the declared word-boundary anchor semantics)
  * and the ES-DSL JSON
  * operators `term`, `terms`, `ids`, `match`, `match_phrase` (with `slop`),
  * `match_phrase_prefix`, `match_bool_prefix`, `prefix`, `wildcard`,
  * `regexp` (whole-token),
  * `fuzzy`, `range`, `exists`, `multi_match` (declared `most_fields`
  * scoring), `constant_score`, `dis_max` (max-of-subqueries scoring,
  * tie_breaker 0), `function_score` (weight / field_value_factor
  * functions in the integer-scoring subset),
  * `bool{must,should,must_not,filter,minimum_should_match}`,
  * `query_string`, `simple_query_string` (its own mini-language, see
  * [[QueryCompiler.SimpleQs]]), `match_all` with top-level `size` — each leaf in both
  * the short scalar form and the long object body ES clients emit
  * (`{"match":{"f":{"query":…,"boost":…}}}`).
  *
  * Scoring: `_score` = number of positive leaf clauses the row matches —
  * deterministic and oracle-computable, standing in for ES relevance
  * (reference surfaces ES `_score` opaquely, ElasticIndex.java:679-716).
  * Everything compiles to `Column` trees, so predicates push down to the
  * Parquet scan and stay inside whole-stage codegen.
  */
/** `searchAfter` is ES keyset pagination (`"search_after": [score, id]` in
  * the DSL body): resume strictly after that (score, tiebreak-id) position
  * in the engine's total (score DESC, id ASC) order. Deep pagination at
  * 100 TB must be keyset — `from`+`size` offset paging re-ranks the whole
  * prefix per page, which is why ES itself caps `from` at 10k and points
  * users at search_after.
  *
  * `sort` is the ES body's field sort (`"sort": [{"f": "desc"}, ...]`,
  * short or long `{"order": ...}` form; `"_score"` names relevance;
  * `{"_geo_distance": {FIELD: {lat, lon}, "order": ...}}` sorts by
  * haversine meters from the point): `(sort column, ascending)` pairs
  * replacing the default (score DESC, id ASC) order; the executor's id
  * tiebreak always appends, so results stay totally ordered. Declared
  * subset: search_after pairs with the DEFAULT relevance order only —
  * combining it with a custom sort is rejected at compile, not silently
  * mis-paginated. */
/** `sourceFields` is the ES body's `_source` filter (`"_source": ["f", …]`
  * or `false`): which document fields a hit returns. `Some(fields)` keeps
  * exactly those (+ PK + `_score`); `Some(Nil)` (`_source: false`) keeps
  * only PK + `_score`. On Spark this is not cosmetic: the projection
  * reaches the Parquet scan as column pruning, so asking for 2 of 40
  * columns reads 2 of 40 columns — at 100 TB the difference between a
  * response-shaping nicety and a 20× I/O cut. */
/** `from` is ES offset paging (`"from": N` + `size`): skip N ranked hits.
  * Fine for UI pages; the executor enforces ES's own guard —
  * `from + size` must fit max-results (ES max_result_window), because
  * offset paging re-ranks its whole prefix; deep pagination belongs to
  * `search_after`. */
/** `collapseField` is ES field collapsing (`"collapse": {"field": f}`):
  * one hit per distinct value of `f` — the top hit in the result order —
  * before the size cut. A key-partitioned window, never a global one. */
final case class CompiledQuery(predicate: Column, score: Column, limit: Option[Int],
                               searchAfter: Option[(Double, Any)] = None,
                               sort: Option[Seq[(Column, Boolean)]] = None,
                               sourceFields: Option[Seq[String]] = None,
                               from: Int = 0,
                               collapseField: Option[String] = None,
                               collapseInner: Option[Int] = None,
                               minScore: Option[Double] = None,
                               // name → script source; resolved against the
                               // doc frame's columns at execution (the
                               // compiler has no frame to bind against)
                               scriptFields: Option[Seq[(String, String)]] = None)

object QueryCompiler {

  /** Compile either syntax: a string starting with `{` is ES-DSL JSON
    * (reference: ElasticIndex.java:133, 663), anything else Lucene-lite.
    * `idCol` is the column the DSL `ids` operator targets (the ES `_id`
    * analog — callers with a different PK pass it through). */
  def compile(query: String, defaultLimit: Int = 10000,
              idCol: String = "doc_id",
              defaultOperator: String = "AND",
              schema: org.apache.spark.sql.types.StructType = null): CompiledQuery = {
    val meta = QueryMeta.parse(query)
    val q = meta.query.trim
    val dOr = resolveOperator(meta, defaultOperator) == "OR"
    if (q.startsWith("{"))
      // the schema (when the caller has a frame) scopes the DateMath
      // fallback: unparseable "now…" on a DATE field raises like ES,
      // on a keyword field it degrades to the scalar compare
      DslJson.schemaHint.withValue(schema) {
        DslJson.compile(q, defaultLimit, idCol, dOr)
      }
    else LuceneLite.compile(q, defaultLimit, defaultField = None, defaultOr = dOr)
  }

  /** Named-query support (`_name`): walk a DSL JSON tree, collect every
    * leaf clause carrying `_name` in its long-form body, and return the
    * query with the names STRIPPED (so the core compiler never sees the
    * annotation) plus each named clause as a standalone single-clause
    * query string. The caller compiles each independently — ES's
    * matched_queries is per-hit membership of each named predicate, which
    * composes at the JSON level without threading state through the
    * compiler. Declared subset: `_name` on term / match / match_phrase /
    * wildcard / prefix / range long forms (the places clients put it). */
  def namedClauses(query: String): (String, Seq[(String, String)]) = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(query)
    require(root != null && root.isObject, "named-query walk needs DSL JSON")
    val nameable = Set("term", "match", "match_phrase", "wildcard", "prefix",
      "range")
    val found = scala.collection.mutable.ListBuffer[(String, String)]()
    def walk(n: JsonNode): Unit = n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val fields = o.fieldNames.asScala.toSeq
        fields.foreach { k =>
          val v = o.get(k)
          if (nameable.contains(k) && v.isObject && v.size == 1) {
            val f = v.fieldNames.asScala.next()
            val body = v.get(f)
            if (body.isObject && body.has("_name")) {
              val nm = body.get("_name")
              require(nm.isTextual && nm.asText.nonEmpty,
                s"_name must be a non-empty string, got: $nm")
              body.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                .remove("_name")
              val clause = mapper.createObjectNode()
              clause.set[JsonNode](k, v.deepCopy[JsonNode]())
              found += nm.asText -> clause.toString
            }
          }
          walk(v)
        }
      case a if a != null && a.isArray => a.elements.asScala.foreach(walk)
      case _ =>
    }
    walk(root)
    val names = found.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate _name: ${names.diff(names.distinct).distinct.mkString(", ")}")
    (root.toString, found.toSeq)
  }

  /** Query-time SYNONYM expansion — the analyzer synonym-graph filter
    * re-expressed as a pre-compile DSL rewrite (same effect as ES's
    * search_analyzer synonyms: a query term matches itself or any listed
    * synonym). Walks the query tree; every `match`/`term` leaf whose
    * analyzed token hits the map expands to a `bool.should` of the
    * original plus one leaf per synonym (minimum_should_match 1 — the OR
    * the filter produces). Multi-token match values expand per token into
    * a `bool.must` of per-token shoulds under the default-AND contract.
    * Non-leaf operators pass through untouched; the rewritten JSON then
    * compiles normally, so every downstream path (scoring, pushdown,
    * highlight) sees plain DSL. */
  def expandSynonyms(query: String, synonyms: Map[String, Seq[String]]): String = {
    require(synonyms.values.forall(_.nonEmpty), "synonym lists must be non-empty")
    val mapper = new ObjectMapper()
    val root = mapper.readTree(query)
    require(root != null && root.isObject, "synonym expansion needs a DSL JSON query")
    def leafFor(op: String, field: String, value: String): JsonNode = {
      val leaf = mapper.createObjectNode()
      leaf.putObject(op).put(field, value)
      leaf
    }
    def expandLeaf(op: String, field: String, value: String): JsonNode = {
      val tokens =
        if (op == "term") Seq(value)
        else graft.functions.WordRuns.tokens(value)
      def tokenNode(tok: String): JsonNode = synonyms.get(tok) match {
        case Some(syns) =>
          val bool = mapper.createObjectNode()
          val b = bool.putObject("bool")
          val should = b.putArray("should")
          (tok +: syns).foreach(sv => should.add(leafFor(op, field, sv)))
          b.put("minimum_should_match", 1)
          bool
        case None => leafFor(op, field, tok)
      }
      if (tokens.size == 1) tokenNode(tokens.head)
      else if (tokens.forall(t => !synonyms.contains(t)))
        leafFor(op, field, value) // no hits — leave the leaf verbatim
      else {
        val bool = mapper.createObjectNode()
        val must = bool.putObject("bool").putArray("must")
        tokens.foreach(t => must.add(tokenNode(t)))
        bool
      }
    }
    def walk(n: JsonNode): JsonNode =
      if (n.isArray) {
        val arr = mapper.createArrayNode()
        n.elements.asScala.foreach(e => arr.add(walk(e)))
        arr
      } else if (n.isObject && n.size == 1 &&
          Seq("match", "term").contains(n.fieldNames.asScala.next()) &&
          n.get(n.fieldNames.asScala.next()).isObject &&
          n.get(n.fieldNames.asScala.next()).size == 1 &&
          n.get(n.fieldNames.asScala.next())
            .get(n.get(n.fieldNames.asScala.next())
              .fieldNames.asScala.next()).isTextual) {
        val op = n.fieldNames.asScala.next()
        val field = n.get(op).fieldNames.asScala.next()
        expandLeaf(op, field, n.get(op).get(field).asText)
      } else if (n.isObject) {
        val obj = mapper.createObjectNode()
        n.fields.asScala.foreach(e => obj.set[JsonNode](e.getKey, walk(e.getValue)))
        obj
      } else n
    walk(root).toString
  }

  /** The operator bare adjacency compiles to, normalized to "AND"/"OR":
    * the per-query `#options:default-operator=or#` override wins over the
    * store-level [[IndexConfig.defaultOperator]]. Callers that strip the
    * option prefix before compiling (Search, TextIndex) resolve against
    * the ORIGINAL meta and pass the result down. Other values are loud. */
  private[graft] def resolveOperator(meta: QueryMeta, configured: String): String = {
    val op = meta.options.getOrElse("default-operator", configured)
    require(op.equalsIgnoreCase("AND") || op.equalsIgnoreCase("OR"),
      s"default operator must be AND or OR, got '$op'")
    op.toUpperCase
  }

  /** Eager validation (R11): compile and surface syntax errors as
    * `IllegalArgumentException` before any execution, mirroring the
    * reference's `_validate?explain` round-trip
    * (reference: ElasticIndex.java:733-782; EsSecondaryIndex.java:432-439). */
  def validate(query: String): Either[String, CompiledQuery] =
    try Right(compile(query)) catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** `_validate/query?explain=true`: the success payload. ES returns the
    * rewritten Lucene query as the `explanation` field on valid queries
    * (the reference forwards it verbatim, ElasticIndex.java:733-782);
    * here the analog is the compiled predicate rendered as ANSI SQL — the
    * exact expression the scan will evaluate, which is this engine's
    * "rewritten query". Invalid queries keep the Left(error) shape. */
  def validateExplain(query: String): Either[String, String] =
    validate(query).map(cq =>
      org.apache.spark.sql.graft.Bridge.sql(cq.predicate))

  // ---- shared leaf semantics (declared; see Scaladoc above) ----

  /** `field:term` → case-insensitive whole-token containment; `*` (any run)
    * and `?` (exactly one char) wildcards become regex fragments anchored to
    * token boundaries (Lucene wildcard semantics; reference defers to Lucene,
    * ElasticIndex.java:663-665). A backslash escapes the following character
    * (`a\-b` is the literal term `a-b`, `c\*` a literal asterisk, `\\` a
    * literal backslash) — escaped `*`/`?` never wildcard.
    *
    * Declared divergence: anchors are word boundaries (`\b`), the
    * standard-analyzer view of a token. A `?` adjacent to the token edge
    * therefore only matches a WORD character there — `src1?` matches
    * `src1x` but not `src1-` (raw Lucene `?`, with no analyzer in front,
    * would match both; an analyzer would have stripped the `-` anyway).
    * The same applies to literal terms that start/end with a non-word
    * character.
    *
    * Evaluation: a plain literal or a trailing-`*` prefix (the shapes of
    * nearly every leaf) runs as the native [[graft.functions.WordMatch]]
    * kernel, the same answer without the regex on ASCII values; every
    * other wildcard shape runs `lower(c) RLIKE termPattern(term)`. This is
    * the one definition of "term matches" — every term/prefix leaf of both
    * grammars, nested `match` and ES|QL `MATCH` go through it. */
  private[graft] def termMatch(c: Column, term: String): Column = {
    val (pattern, word) = termForms(term)
    word match {
      case Some((literal, prefix)) => org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WordMatch(org.apache.spark.sql.graft.Bridge.expression(c),
          literal, prefix, pattern))
      case None => lower(c).rlike(pattern)
    }
  }

  /** The regex [[termMatch]] evaluates, as a string — shared with
    * [[graft.Search.highlight]], which wraps the SAME matches in markup
    * (highlighting diverging from matching would be a lie in the output). */
  private[graft] def termPattern(term: String): String = termForms(term)._1

  /** One parse of a term into its regex and, for a plain term or a term
    * whose only wildcard is one trailing `*` (then `prefix`), its
    * lowercased, unescaped literal: the two shapes whose regex is
    * `\b<literal>\b` / `\b<literal>[^\s]*`, which
    * [[graft.functions.WordMatch]] evaluates without the regex. One parse,
    * so the kernel and the regex cannot disagree. */
  private def termForms(term: String): (String, Option[(String, Boolean)]) = {
    // a wildcard char is active only when preceded by an even number of
    // backslashes
    def unescapedAt(i: Int): Boolean = {
      var b = 0; var k = i - 1
      while (k >= 0 && term(k) == '\\') { b += 1; k -= 1 }
      b % 2 == 0
    }
    val hasWildcard = term.indices
      .exists(i => (term(i) == '*' || term(i) == '?') && unescapedAt(i))
    if (hasWildcard) {
      // literal runs (Left) and active wildcards (Right), in order
      val parts = scala.collection.mutable.ListBuffer[Either[String, Char]]()
      val run = new StringBuilder
      def flush(): Unit = if (run.nonEmpty) { parts += Left(run.toString); run.clear() }
      val t = term.toLowerCase
      var i = 0
      while (i < t.length) {
        t(i) match {
          case '\\' if i + 1 < t.length => run += t(i + 1); i += 2
          case w @ ('*' | '?') => flush(); parts += Right(w); i += 1
          case c   => run += c; i += 1
        }
      }
      flush()
      val body = parts.map {
        case Left(s) => java.util.regex.Pattern.quote(s)
        case Right('*') => "[^\\s]*"
        case Right(_) => "[^\\s]"
      }.mkString
      // `?` consumes exactly one non-space char, so token-boundary anchors
      // stay; only a leading/trailing unescaped `*` (zero-or-more) drops its
      val lead = !t.startsWith("*")
      val trail = !(t.endsWith("*") && unescapedAt(t.length - 1))
      val native = parts.toList match {
        case List(Left(s), Right('*')) if lead && !trail => Some((s, true))
        case _ => None
      }
      ((if (lead) "\\b" else "") + body + (if (trail) "\\b" else ""), native)
    } else {
      val literal = new StringBuilder
      var i = 0
      while (i < term.length) {
        if (term(i) == '\\' && i + 1 < term.length) { literal += term(i + 1); i += 2 }
        else { literal += term(i); i += 1 }
      }
      val lit = literal.toString.toLowerCase
      ("\\b" + java.util.regex.Pattern.quote(lit) + "\\b", Some((lit, false)))
    }
  }

  /** Shared geo math for the geo queries, distance_feature, and the
    * geo_distance aggregation: haversine great-circle distance on ES's
    * mean earth radius, expressed in built-in double functions so every
    * consumer stays inside whole-stage codegen. */
  private[graft] object Geo {
    /** ES GeoUtils.EARTH_MEAN_RADIUS, meters. */
    val EarthRadius = 6371008.7714150598

    /** Distance in meters from a struct<lat,lon> column to a fixed point. */
    def haversineMeters(point: Column, latDeg: Double, lonDeg: Double): Column = {
      val pLat = radians(point.getField("lat"))
      val pLon = radians(point.getField("lon"))
      val qLat = lit(math.toRadians(latDeg))
      val qLon = lit(math.toRadians(lonDeg))
      val sinDLat = sin((pLat - qLat) / 2)
      val sinDLon = sin((pLon - qLon) / 2)
      val h = sinDLat * sinDLat + cos(pLat) * cos(qLat) * sinDLon * sinDLon
      lit(2 * EarthRadius) * asin(sqrt(h))
    }

    private val DistRe =
      "^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*(m|km|mi|nmi|yd|ft|in|cm|mm)\\s*$".r

    /** Parse an ES distance string ("100km") to meters — loud on anything
      * unparseable. */
    def distanceMeters(s: String): Double = s.toLowerCase match {
      case DistRe(v, u) =>
        val scale = u match {
          case "m" => 1.0; case "km" => 1000.0; case "mi" => 1609.344
          case "nmi" => 1852.0; case "yd" => 0.9144; case "ft" => 0.3048
          case "in" => 0.0254; case "cm" => 0.01; case "mm" => 0.001
        }
        v.toDouble * scale
      case _ => throw new IllegalArgumentException(
        s"unparseable distance '$s' (expected <number><unit>, e.g. \"100km\")")
    }

    /** Even-odd ray-cast containment of a struct<lat,lon> point in a
      * closed vertex ring: an XOR chain of per-edge crossing predicates in
      * pure double math (fully codegen'd, no UDF). An edge toggles
      * containment when it crosses the horizontal ray at the point's lat
      * with the crossing right of its lon. A horizontal edge never
      * crosses the ray (both its ends are on the same side of it), so it
      * is left out — exactly, and no predicate compares an expression
      * with itself. A ring whose edges are all horizontal encloses no
      * area and contains no point.
      * Boundary points follow raw double comparison. */
    def pointInRing(point: Column, verts: Seq[(Double, Double)]): Column = {
      val pLat = point.getField("lat")
      val pLon = point.getField("lon")
      verts.zip(verts.tail :+ verts.head).collect {
        case ((latI, lonI), (latJ, lonJ)) if latI != latJ =>
          ((lit(latI) > pLat) =!= (lit(latJ) > pLat)) &&
            pLon < (lit(lonJ - lonI) * (pLat - lit(latI)) /
              lit(latJ - latI) + lit(lonI))
      }.reduceOption(_ =!= _) // odd crossings = inside
        .getOrElse(lit(false))
    }

    /** Parse and range-check a {lat, lon} object. */
    def latLonOf(n: JsonNode, ctx: String): (Double, Double) = {
      require(n != null && n.isObject, s"$ctx expects {lat, lon}, got: $n")
      val la = Option(n.get("lat")).filter(_.isNumber).map(_.asDouble)
        .getOrElse(throw new IllegalArgumentException(s"$ctx needs numeric 'lat'"))
      val lo = Option(n.get("lon")).filter(_.isNumber).map(_.asDouble)
        .getOrElse(throw new IllegalArgumentException(s"$ctx needs numeric 'lon'"))
      require(la >= -90 && la <= 90, s"$ctx lat out of range: $la")
      require(lo >= -180 && lo <= 180, s"$ctx lon out of range: $lo")
      (la, lo)
    }
  }

  private val ReMeta = ".^$*+?()[]{}|\\".toSet
  private def reQuote(s: String): String =
    s.flatMap(c => if (ReMeta(c)) "\\" + c else c.toString)

  /** `field:"t1 … tk"~N` / DSL `match_phrase` with `slop` — ordered
    * proximity: the phrase tokens appear in order with at most N foreign
    * tokens between each ADJACENT pair. Declared divergence from Lucene
    * span slop, which budgets the total position-edit across the whole
    * phrase and admits transpositions at cost 2: the ordered per-gap form
    * is the regex-expressible subset (and the common user intent). Slop 0
    * is match_phrase modulo whitespace runs. */
  private[graft] def proximityMatch(field: String, phrase: String, slop: Int): Column =
    lower(col(field)).rlike(proximityPattern(phrase, slop))

  /** The regex [[proximityMatch]] evaluates (see [[termPattern]]). */
  private[graft] def proximityPattern(phrase: String, slop: Int): String = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val toks = phrase.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    require(toks.nonEmpty, "empty phrase in proximity match")
    if (toks.length == 1) termPattern(escapeTerm(toks.head))
    else {
      val gap = "(?:\\s+\\S+){0," + slop + "}\\s+"
      "\\b" + toks.map(reQuote).mkString(gap) + "\\b"
    }
  }

  /** Escape wildcard/escape specials so user text reaches [[termMatch]] as
    * LITERAL analyzed text — the ES `match` family never interprets `*`/`?`
    * (that is `wildcard`'s job); without this, a phrase containing `*`
    * would silently widen and a trailing `\` would swallow an appended
    * prefix-`*`. */
  private[graft] def escapeTerm(s: String): String =
    s.replace("\\", "\\\\").replace("*", "\\*").replace("?", "\\?")

  /** Parse one `"field"` / `"field^N"` entry from an ES `fields` array —
    * a '^' present MUST carry a well-formed positive-integer boost, or the
    * malformed tail would silently become a (nonexistent) column name and
    * die only at analysis time. Shared by `multi_match` and
    * `simple_query_string`. */
  private[graft] def fieldBoost(raw: String): (String, Int) =
    raw.lastIndexOf('^') match {
      case -1 => (raw, 1)
      case i =>
        val suffix = raw.substring(i + 1)
        require(i > 0 && suffix.nonEmpty && suffix.forall(_.isDigit) &&
          suffix.toInt >= 1,
          s"field boost must be a positive integer: '$raw'")
        (raw.substring(0, i), suffix.toInt)
    }

  /** Weighted leaf score: Σ over leaf contributions. A plain leaf's
    * contribution is `when(matched, boost).otherwise(0)` ([[leaf]]);
    * composite operators (dis_max) push an already-shaped score column. */
  private[graft] def scoreOf(leaves: Seq[Column]): Column =
    if (leaves.isEmpty) lit(0) else leaves.reduce(_ + _)

  /** Contribution of one positive leaf: boost if matched, else 0. */
  private[graft] def leaf(c: Column, w: Int): Column = when(c, w).otherwise(0)

  // ---- Lucene-lite recursive-descent parser ----

  private[graft] object LuceneLite {
    sealed trait Node
    /** A clause that matches on its own; a positive one scores `boost`. */
    sealed trait Leaf extends Node { def boost: Int }
    case class Term(field: String, value: String, boost: Int = 1) extends Leaf
    case class Regex(field: String, pattern: String, boost: Int = 1) extends Leaf
    case class Exists(field: String, boost: Int = 1) extends Leaf
    case class Fuzzy(field: String, value: String, dist: Int, boost: Int = 1) extends Leaf
    case class Proximity(field: String, phrase: String, slop: Int, boost: Int = 1) extends Leaf
    case class Range(field: String, lo: String, hi: String,
                     incLo: Boolean, incHi: Boolean, boost: Int = 1) extends Leaf
    case class And(l: Node, r: Node) extends Node
    case class Or(l: Node, r: Node) extends Node
    case class Not(n: Node) extends Node
    /** `+clause` under `default_operator=OR`: a MUST clause (Lucene occur
      * flag). Never constructed under the AND default, where `+` is a
      * no-op. */
    case class Required(n: Node) extends Node
    /** A clause that no longer constrains matching but still contributes
      * relevance score — ES's SHOULD clauses when MUST clauses exist. */
    case class ScoreOnly(n: Node) extends Node

    /** Parsed AST without compilation — [[TextIndex]] walks it to decide
      * which leaves a postings store can serve (candidate pre-filter). */
    private[graft] def ast(q: String, defaultField: Option[String] = None,
                           defaultOr: Boolean = false): Node =
      parse(q, defaultField, defaultOr)

    /** The one Lucene-lite evaluator: `ast`'s predicate and score, each
      * leaf's match column given by `leafCol`. [[compile]] matches the doc
      * columns; [[TextIndex]]'s pure-index path reads postings flags. */
    private[graft] def evaluate(ast: Node)(leafCol: Leaf => Column): (Column, Column) = {
      val leaves = scala.collection.mutable.ArrayBuffer[Column]()
      // `pos` tracks polarity: only positive leaves contribute to the score
      def toCol(n: Node, pos: Boolean): Column = n match {
        case lf: Leaf =>
          val c = leafCol(lf); if (pos) leaves += leaf(c, lf.boost); c
        case And(l, r) => toCol(l, pos) && toCol(r, pos)
        case Or(l, r)  => toCol(l, pos) || toCol(r, pos)
        // Lucene/ES negation matches docs where the field is absent;
        // coalesce defeats SQL three-valued logic (!NULL = NULL would
        // silently drop null-field rows)
        case Not(x)    => !coalesce(toCol(x, pos = false), lit(false))
        case Required(x) => toCol(x, pos)
        // evaluate for the score leaves, then drop the match constraint
        case ScoreOnly(x) => { toCol(x, pos); lit(true) }
      }
      val pred = toCol(ast, pos = true)
      (pred, scoreOf(leaves.toSeq))
    }

    def compile(q: String, defaultLimit: Int,
                defaultField: Option[String] = None,
                defaultOr: Boolean = false): CompiledQuery = {
      val (pred, score) = evaluate(parse(q, defaultField, defaultOr)) {
        case Term(f, v, _) => termMatch(col(f), v)
        // whole-token regex, same anchor model as the DSL `regexp`
        case Regex(f, pat, _) => lower(col(f)).rlike("\\b(?:" + pat + ")\\b")
        case Exists(f, _) => col(f).isNotNull
        case Fuzzy(f, v, dist, _) =>
          graft.functions.TextSketchFunctions.fuzzy_token_match(col(f), v, dist)
        case Proximity(f, p, slop, _) => proximityMatch(f, p, slop)
        case Range(f, lo, hi, il, ih, _) =>
          val base = col(f)
          val loC = if (lo == "*") lit(true) else if (il) base >= lo else base > lo
          val hiC = if (hi == "*") lit(true) else if (ih) base <= hi else base < hi
          loC && hiC
      }
      CompiledQuery(pred, score, Some(defaultLimit))
    }

    // tokenizer: parens, AND/OR/NOT keywords, field:value atoms, ranges,
    // field groups. `defaultField` is the field bare terms bind to — set
    // only inside a `field:(...)` group (Lucene's grouping syntax,
    // README.md:176-211 shows user queries that use it).
    private def parse(q: String, defaultField: Option[String] = None,
                      defaultOr: Boolean = false): Node = {
      val toks = tokenize(q)
      val (node, rest) = parseOr(toks, defaultField, defaultOr)
      require(rest.isEmpty, s"trailing tokens: ${rest.mkString(" ")}")
      node
    }

    /** Multiply every positive-leaf boost by `n` — a trailing `^N` on a
      * group distributes over its terms. */
    private def mapBoost(node: Node, n: Int): Node = node match {
      case t: Term  => t.copy(boost = t.boost * n)
      case r: Regex => r.copy(boost = r.boost * n)
      case e: Exists => e.copy(boost = e.boost * n)
      case f: Fuzzy => f.copy(boost = f.boost * n)
      case r: Range => r.copy(boost = r.boost * n)
      case p: Proximity => p.copy(boost = p.boost * n)
      case And(l, r) => And(mapBoost(l, n), mapBoost(r, n))
      case Or(l, r)  => Or(mapBoost(l, n), mapBoost(r, n))
      case Not(x)    => Not(x) // negated leaves never score
      case Required(x) => Required(mapBoost(x, n))
      case ScoreOnly(x) => ScoreOnly(mapBoost(x, n))
    }

    private def tokenize(q: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      val s = q
      while (i < s.length) {
        s(i) match {
          case c if c.isWhitespace => i += 1
          case '(' | ')' => out += s(i).toString; i += 1
          case '[' | '{' =>
            val end = s.indexWhere(ch => ch == ']' || ch == '}', i)
            require(end > 0, s"unclosed range in: $q")
            out += s.substring(i, end + 1); i = end + 1
          case _ =>
            var j = i
            while (j < s.length && !s(j).isWhitespace && s(j) != '(' && s(j) != ')') {
              if (s(j) == ':' && j + 1 < s.length && (s(j + 1) == '[' || s(j + 1) == '{')) {
                val end = s.indexWhere(ch => ch == ']' || ch == '}', j + 1)
                require(end > 0, s"unclosed range in: $q")
                j = end + 1
              } else if (s(j) == '"') {
                // phrase: field:"a b c" or a bare "a b c" inside a group —
                // inner whitespace belongs to the token
                val end = s.indexOf('"', j + 1)
                require(end > 0, s"unclosed phrase in: $q")
                j = end + 1
              } else if (s(j) == ':' && j + 1 < s.length && s(j + 1) == '(') {
                // field group: field:(...) — one token spanning the
                // balanced parens (inner syntax parsed recursively in atom).
                // Parens inside quoted phrases are literal: skip the span,
                // or `text:("a)" OR b)` would close the group mid-phrase
                var k = j + 1
                var depth = 0
                var closed = false
                while (k < s.length && !closed) {
                  if (s(k) == '"') {
                    val end = s.indexOf('"', k + 1)
                    require(end > 0, s"unclosed phrase in: $q")
                    k = end
                  } else if (s(k) == '(') depth += 1
                  else if (s(k) == ')') { depth -= 1; closed = depth == 0 }
                  k += 1
                }
                require(closed, s"unclosed group in: $q")
                j = k
              } else j += 1
            }
            out += s.substring(i, j); i = j
        }
      }
      out.toList
    }

    private def parseOr(t: List[String], df: Option[String],
                        defaultOr: Boolean): (Node, List[String]) = {
      if (!defaultOr) {
        var (l, rest) = parseAnd(t, df, defaultOr)
        while (rest.headOption.exists(_.equalsIgnoreCase("OR"))) {
          val (r, rr) = parseAnd(rest.tail, df, defaultOr); l = Or(l, r); rest = rr
        }
        (l, rest)
      } else {
        // default_operator=OR uses Lucene's flat occur-flag model, not a
        // binary OR fold: `a -b` must stay "a, excluding b" (a naive
        // Or(a, Not(b)) would match nearly everything). Adjacent and
        // OR-separated clauses are SHOULD; `-`/NOT clauses are MUST_NOT;
        // `+` clauses are MUST. With any MUST present, SHOULD clauses stop
        // constraining and only score (ES bool semantics). Declared
        // divergence: an explicit `a AND b` stays one binary sub-clause,
        // it does not promote its neighbors to MUST the way Lucene's
        // query parser does.
        var clauses = List.empty[Node]
        var rest = t
        var first = true
        while (rest.headOption.exists(h => h != ")") || first) {
          val next =
            if (!first && rest.headOption.exists(_.equalsIgnoreCase("OR"))) rest.tail
            else rest
          val (c, rr) = parseAnd(next, df, defaultOr)
          clauses :+= c; rest = rr; first = false
        }
        val excls = clauses.collect { case n: Not => n }
        val reqs = clauses.collect { case Required(x) => x }
        val opts = clauses.filter(c =>
          !c.isInstanceOf[Not] && !c.isInstanceOf[Required])
        // SHOULD clauses stop constraining only when MUST clauses exist
        // (ES minimum_should_match: must_not alone does not demote them —
        // `a -b` stays "a, excluding b")
        val node =
          if (opts.isEmpty) (reqs ++ excls).reduce(And)
          else if (reqs.isEmpty) (excls :+ opts.reduce(Or)).reduce(And)
          else (reqs ++ excls :+ (ScoreOnly(opts.reduce(Or)): Node)).reduce(And)
        (node, rest)
      }
    }

    private def parseAnd(t: List[String], df: Option[String],
                         defaultOr: Boolean): (Node, List[String]) = {
      var (l, rest) = parseUnary(t, df, defaultOr)
      while (rest.headOption.exists(h =>
        h.equalsIgnoreCase("AND") ||
          (!defaultOr && !h.equalsIgnoreCase("OR") && h != ")"))) {
        // implicit AND for adjacent clauses under the AND default; with
        // default_operator=OR adjacency belongs to the clause level above
        val next = if (rest.head.equalsIgnoreCase("AND")) rest.tail else rest
        val (r, rr) = parseUnary(next, df, defaultOr); l = And(l, r); rest = rr
      }
      (l, rest)
    }

    private def parseUnary(t: List[String], df: Option[String],
                           defaultOr: Boolean): (Node, List[String]) = t match {
      case h :: tail if h.equalsIgnoreCase("NOT") =>
        val (n, rest) = parseUnary(tail, df, defaultOr); (Not(n), rest)
      // Lucene required/prohibited operators: `+t` is AND-semantics (a
      // no-op under our implicit-AND default; a MUST marker under OR),
      // `-t` is NOT. A bare `+`/`-` token prefixes a parenthesized group:
      // `-(a OR b)`.
      case ("+" | "-") :: tail =>
        val (n, rest) = parseUnary(tail, df, defaultOr)
        (if (t.head == "-") Not(n) else if (defaultOr) Required(n) else n, rest)
      case h :: tail if h.length > 1 && (h(0) == '+' || h(0) == '-') =>
        val inner = atom(h.substring(1), df, defaultOr)
        (if (h(0) == '-') Not(inner)
         else if (defaultOr) Required(inner) else inner, tail)
      case "(" :: tail =>
        val (n, rest) = parseOr(tail, df, defaultOr)
        require(rest.headOption.contains(")"), "missing )")
        (n, rest.tail)
      case h :: tail => (atom(h, df, defaultOr), tail)
      case Nil => throw new IllegalArgumentException("empty query")
    }

    private val RangeRx =
      """([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])(?:\^(\d+))?""".r

    private val BoostRx = """(.*)\^(\d+)$""".r
    private val FuzzyRx = """(.*)~(\d*)$""".r

    private def atom(tok: String, df: Option[String] = None,
                     defaultOr: Boolean = false): Node = {
      // a token opening with a quote or a slash is a bare phrase/regex
      // (group context binds it to the group's field): any ':' inside is
      // literal, not a field separator — `text:("a:b" OR c)` must not
      // parse field `"a`, nor `text:(/a:b/ OR c)` field `/a`
      if (tok.startsWith("\"") || tok.startsWith("/"))
        return atomValue(df.getOrElse(throw new IllegalArgumentException(
          s"expected field:term, got '$tok'")), tok, tok)
      val ci = tok.indexOf(':')
      // field group `field:(a OR b)` with optional trailing `^N`: parse the
      // body with the field as default, distributing it over bare terms —
      // plain distributivity over the existing AST. A group boost multiplies
      // every positive leaf inside.
      if (ci > 0 && ci + 1 < tok.length && tok(ci + 1) == '(') {
        val (body, boost) = tok.substring(ci + 1) match {
          case BoostRx(v, b) if v.endsWith(")") => (v, b.toInt)
          case v => (v, 1)
        }
        require(body.endsWith(")"), s"malformed group in '$tok'")
        val inner = parse(body.substring(1, body.length - 1),
          Some(tok.substring(0, ci)), defaultOr)
        return if (boost == 1) inner else mapBoost(inner, boost)
      }
      // bare term inside a group binds to the group's field
      val (field, rest) =
        if (ci > 0) (tok.substring(0, ci), tok.substring(ci + 1))
        else (df.getOrElse(throw new IllegalArgumentException(
          s"expected field:term, got '$tok'")), tok)
      rest match {
        case RangeRx(lb, lo, hi, rb, boost) =>
          Range(field, lo, hi, lb == "[", rb == "]",
            Option(boost).map(_.toInt).getOrElse(1))
        // Lucene/ES query_string field-existence syntax: _exists_:f
        // (composable with NOT for the absent-field test)
        case _ if field == "_exists_" =>
          val (v, boost) = rest match {
            case BoostRx(x, b) if !x.endsWith("\\") => (x, b.toInt)
            case x => (x, 1)
          }
          require(v.nonEmpty, s"_exists_ needs a field name in '$tok'")
          Exists(v, boost)
        case _ =>
          atomValue(field, rest, tok)
      }
    }

    private def atomValue(field: String, tok0: String, tok: String): Node = {
        // Lucene boost suffix: field:term^N (integer boost weights the
        // score contribution; match semantics unchanged). An escaped caret
        // `\^` is a literal term character anywhere in the token: a
        // trailing escaped caret suppresses boost parsing, and every
        // remaining `\^` is unescaped before matching (so `c\^2^5` is the
        // literal term c^2 boosted by 5).
        val (value1, boost) = tok0 match {
          case BoostRx(v, b) if !v.endsWith("\\") => (v, b.toInt)
          case v => (v, 1)
        }
        // Lucene regex syntax: field:/pattern/ (optional ^boost already
        // stripped) — whole-token match like the DSL `regexp`. `\/` is a
        // literal slash inside the pattern; the declared subset takes no
        // whitespace inside /…/ (tokens split on whitespace first).
        if (value1.length >= 2 && value1.startsWith("/") && value1.endsWith("/")
            && !value1.endsWith("\\/")) {
          val pat = value1.substring(1, value1.length - 1).replace("\\/", "/")
          require(pat.nonEmpty, s"empty regex in '$tok'")
          try java.util.regex.Pattern.compile(pat) catch {
            case e: java.util.regex.PatternSyntaxException =>
              throw new IllegalArgumentException(s"invalid regex '$pat': ${e.getMessage}")
          }
          return Regex(field, pat, boost)
        }
        // Lucene fuzzy suffix on the remaining value: term~N (N edits) or
        // bare term~ (Lucene default 2); `\~` is a literal tilde. A quoted
        // phrase with ~N is PROXIMITY, not fuzziness; fuzzy ranges stay
        // rejected instead of silently reinterpreting as whole-string
        // fuzzies.
        val (value0, fuzzy) = value1 match {
          case FuzzyRx(v, d) if !v.endsWith("\\") =>
            if (v.startsWith("\"")) {
              require(v.length >= 2 && v.endsWith("\""), s"unclosed phrase in '$tok'")
              require(d.nonEmpty,
                s"phrase proximity requires an explicit slop value: '$tok'")
              return Proximity(field, v.substring(1, v.length - 1), d.toInt, boost)
            }
            require(!v.startsWith("[") && !v.startsWith("{"),
              s"fuzzy ranges are not supported: '$tok'")
            (v, Some(if (d.isEmpty) 2 else d.toInt))
          case v => (v, None)
        }
        val value = value0.replace("\\^", "^").replace("\\~", "~")
        // phrase terms keep their inner spaces, quotes stripped
        val unquoted =
          if (value.length >= 2 && value.startsWith("\"") && value.endsWith("\""))
            value.substring(1, value.length - 1)
          else value
        require(unquoted.nonEmpty, s"empty term in '$tok'")
        fuzzy match {
          case Some(d) => Fuzzy(field, unquoted, d, boost)
          case None => Term(field, unquoted, boost)
        }
    }
  }

  // ---- simple_query_string mini-language ----

  /** ES `simple_query_string` syntax (the never-throws-on-user-typos search
    * box language; here malformed input IS loud — a silent partial parse
    * would return wrong results without a trace, against the engine's
    * fail-loud contract). Supported operators: `+` (AND), `|` (OR), `-`
    * (negate the next clause), `"..."` phrase with optional `~N` slop,
    * trailing `*` prefix, `term~N` fuzzy, `(...)` grouping, `\`-escapes.
    * Bare adjacency combines with the query's `default_operator` (ES
    * default OR for this operator). Operators are LEFT-ASSOCIATIVE with
    * equal precedence (`a + b | c` = `(a AND b) OR c`), the Lucene
    * SimpleQueryParser fold, NOT the Lucene classic-parser precedence.
    * Multi-field semantics follow the engine's declared `most_fields`
    * convention (see `multi_match`): an atom matches if any field matches;
    * one scoring leaf per field with its `^N` boost. */
  private[graft] object SimpleQs {
    private sealed trait Tok
    private case object LP extends Tok
    private case object RP extends Tok
    private case object OrOp extends Tok
    private case object AndOp extends Tok
    private case object NotOp extends Tok
    /** `text` is literal (escapes resolved). `fuzzy` and `prefix` are
      * mutually exclusive — `te*~2` is rejected at tokenize. */
    private case class TermTok(text: String, prefix: Boolean,
                               fuzzy: Option[Int]) extends Tok
    private case class PhraseTok(text: String, slop: Int) extends Tok

    def compile(q: String, fields: Seq[(String, Int)], defaultOr: Boolean,
                leaves: scala.collection.mutable.ArrayBuffer[Column],
                scoring: Boolean): Column = {
      require(fields.nonEmpty, "simple_query_string requires at least one field")
      val toks = tokenize(q)
      require(toks.nonEmpty, "simple_query_string query has no clauses")
      val (pred, rest) = parseExpr(toks, fields, defaultOr, leaves, scoring)
      require(rest.isEmpty, s"unbalanced ')' in simple_query_string: '$q'")
      pred
    }

    private def tokenize(q: String): List[Tok] = {
      val out = scala.collection.mutable.ListBuffer[Tok]()
      var i = 0
      // a '~' after a term/phrase takes an explicit digit run; bare '~'
      // uses the Lucene defaults (fuzzy 2 / slop 0 — i.e. no-op for phrase)
      def tilde(dflt: Int): Option[Int] =
        if (i < q.length && q(i) == '~') {
          i += 1
          val start = i
          while (i < q.length && q(i).isDigit) i += 1
          Some(if (i > start) q.substring(start, i).toInt else dflt)
        } else None
      while (i < q.length) {
        q(i) match {
          case c if c.isWhitespace => i += 1
          case '(' => out += LP; i += 1
          case ')' => out += RP; i += 1
          case '|' => out += OrOp; i += 1
          case '+' => out += AndOp; i += 1
          case '-' => out += NotOp; i += 1
          case '"' =>
            val sb = new StringBuilder
            i += 1
            var closed = false
            while (i < q.length && !closed) {
              if (q(i) == '\\' && i + 1 < q.length) { sb += q(i + 1); i += 2 }
              else if (q(i) == '"') { closed = true; i += 1 }
              else { sb += q(i); i += 1 }
            }
            require(closed, s"unclosed phrase in simple_query_string: '$q'")
            require(sb.toString.trim.nonEmpty, "empty phrase in simple_query_string")
            out += PhraseTok(sb.toString, tilde(0).getOrElse(0))
          case _ =>
            val sb = new StringBuilder
            var lastEscaped = false
            // '\' is not special: it enters the loop and escapes its
            // successor (so `\+`, `\"`, `\ ` are literal term chars)
            def special(c: Char) =
              c.isWhitespace || "()|+-\"~".contains(c)
            while (i < q.length && !special(q(i))) {
              if (q(i) == '\\' && i + 1 < q.length) {
                sb += q(i + 1); lastEscaped = true; i += 2
              } else { sb += q(i); lastEscaped = false; i += 1 }
            }
            val fuzzy = tilde(2)
            val raw = sb.toString
            val prefix = raw.endsWith("*") && !lastEscaped
            val text = if (prefix) raw.dropRight(1) else raw
            require(text.nonEmpty,
              s"empty term in simple_query_string: '$q'")
            require(!(prefix && fuzzy.isDefined),
              s"'$raw~${fuzzy.get}': prefix and fuzzy cannot combine")
            out += TermTok(text, prefix, fuzzy)
        }
      }
      out.toList
    }

    /** Left-associative fold: clause ((op|adjacency) clause)*. */
    private def parseExpr(toks: List[Tok], fields: Seq[(String, Int)],
                          defaultOr: Boolean,
                          leaves: scala.collection.mutable.ArrayBuffer[Column],
                          scoring: Boolean): (Column, List[Tok]) = {
      var (acc, rest) = parseClause(toks, fields, leaves, scoring, defaultOr)
      var done = false
      while (!done) rest match {
        case Nil | RP :: _ => done = true
        case OrOp :: tail =>
          val (r, rr) = parseClause(tail, fields, leaves, scoring, defaultOr)
          acc = acc || r; rest = rr
        case AndOp :: tail =>
          val (r, rr) = parseClause(tail, fields, leaves, scoring, defaultOr)
          acc = acc && r; rest = rr
        case _ => // bare adjacency — the default operator
          val (r, rr) = parseClause(rest, fields, leaves, scoring, defaultOr)
          acc = if (defaultOr) acc || r else acc && r; rest = rr
      }
      (acc, rest)
    }

    private def parseClause(toks: List[Tok], fields: Seq[(String, Int)],
                            leaves: scala.collection.mutable.ArrayBuffer[Column],
                            scoring: Boolean,
                            defaultOr: Boolean): (Column, List[Tok]) =
      toks match {
        case NotOp :: tail =>
          // negation: null-safe (a null field is "not matching", so the
          // negation KEEPS it — SQL three-valued logic would drop it);
          // negated atoms never score, like Lucene prohibited clauses
          val (inner, rest) =
            parseClause(tail, fields, scala.collection.mutable.ArrayBuffer[Column](),
              scoring = false, defaultOr)
          (!coalesce(inner, lit(false)), rest)
        case LP :: tail =>
          val (inner, rest) = parseExpr(tail, fields, defaultOr, leaves, scoring)
          rest match {
            case RP :: rr => (inner, rr)
            case _ => throw new IllegalArgumentException(
              "unclosed '(' in simple_query_string")
          }
        case (t: TermTok) :: rest => (atom(t, fields, leaves, scoring), rest)
        case (p: PhraseTok) :: rest => (atom(p, fields, leaves, scoring), rest)
        case other => throw new IllegalArgumentException(
          s"dangling operator in simple_query_string at: $other")
      }

    /** Positive (non-negated) atoms of `field` as highlight specs —
      * (regex patterns, fuzzy (text, dist, prefix) triples), mirroring the
      * compile walk so highlighting marks EXACTLY what the predicate can
      * match: clauses under `-` never match a returned row's negated span,
      * so they yield nothing. Malformed input → empty (the compiler is the
      * loud path). */
    private[graft] def leafSpecs(q: String, field: String,
                                 fields: Seq[String])
        : (Seq[String], Seq[(String, Int, Int)]) = {
      if (!fields.contains(field)) return (Nil, Nil)
      val pats = scala.collection.mutable.ListBuffer[String]()
      val fuzz = scala.collection.mutable.ListBuffer[(String, Int, Int)]()
      def clause(toks: List[Tok], neg: Boolean): List[Tok] = toks match {
        case NotOp :: tail => clause(tail, neg = true)
        case LP :: tail =>
          var rest = expr(tail, neg)
          rest match { case RP :: rr => rr; case other => other }
        case TermTok(t, _, Some(d)) :: rest =>
          if (!neg) fuzz += ((t, d, 0)); rest
        case TermTok(t, prefix, None) :: rest =>
          if (!neg) pats += termPattern(escapeTerm(t) + (if (prefix) "*" else ""))
          rest
        case PhraseTok(p, 0) :: rest =>
          if (!neg) pats += termPattern(escapeTerm(p)); rest
        case PhraseTok(p, s) :: rest =>
          if (!neg) pats += proximityPattern(p, s); rest
        case other => other
      }
      def expr(toks: List[Tok], neg: Boolean): List[Tok] = {
        var rest = clause(toks, neg)
        var done = false
        while (!done) rest match {
          case Nil | RP :: _ => done = true
          case (OrOp | AndOp) :: tail => rest = clause(tail, neg)
          case _ => rest = clause(rest, neg)
        }
        rest
      }
      try expr(tokenize(q), neg = false)
      catch { case _: Exception => return (Nil, Nil) }
      (pats.toList, fuzz.toList)
    }

    private def atom(tok: Tok, fields: Seq[(String, Int)],
                     leaves: scala.collection.mutable.ArrayBuffer[Column],
                     scoring: Boolean): Column = {
      val perField = fields.map { case (f, b) =>
        val c = tok match {
          case TermTok(t, _, Some(d)) => graft.functions.TextSketchFunctions
            .fuzzy_token_match(col(f), t, d)
          case TermTok(t, prefix, None) =>
            termMatch(col(f), escapeTerm(t) + (if (prefix) "*" else ""))
          case PhraseTok(p, 0) => termMatch(col(f), escapeTerm(p))
          case PhraseTok(p, s) => proximityMatch(f, p, s)
          case other => throw new IllegalStateException(s"not an atom: $other")
        }
        (c, b)
      }
      if (scoring) perField.foreach { case (c, b) => leaves += leaf(c, b) }
      perField.map(_._1).reduce(_ || _)
    }
  }

  // ---- ES date math ----

  /** ES date-math expressions for range bounds: `now` or `<ISO>||` anchor,
    * `±N(y|M|w|d|h|H|m|s)` arithmetic, one trailing `/unit` rounding —
    * `now-7d/d`, `2024-01-15||+1M/d`. Resolution returns BOTH period ends:
    * ES's operator-dependent rounding picks the floor for gte/lt and the
    * ceiling for gt/lte (so `lte: now/d` spans all of today). DECLARED
    * DIVERGENCE: the ceiling is start-of-next-period minus one MICROsecond
    * (this engine's timestamp resolution) where ES subtracts one
    * millisecond (its own); weeks round to Monday (ISO, as ES). All math
    * in UTC — the deterministic contract (a non-UTC `time_zone` on the
    * range is rejected, not ignored). */
  private[graft] object DateMath {
    import java.time._
    import java.time.temporal.ChronoUnit
    private val OpRx = "([+-])(\\d+)([yMwdhHms])".r

    def looksLike(s: String): Boolean =
      s.startsWith("now") || s.contains("||")

    /** (floor, ceil) instants of the resolved expression's period; equal
      * when no rounding is requested. */
    def resolve(expr: String, now: Instant): (Instant, Instant) = {
      val (anchorStr, math) =
        if (expr.startsWith("now")) ("now", expr.drop(3))
        else {
          val i = expr.indexOf("||")
          require(i > 0, s"date math needs a 'now' or '<date>||' anchor: '$expr'")
          (expr.take(i), expr.drop(i + 2))
        }
      var t: ZonedDateTime =
        if (anchorStr == "now") now.atZone(ZoneOffset.UTC)
        else parseAnchor(anchorStr)
      var rest = math
      var rounding: Option[Char] = None
      while (rest.nonEmpty) {
        if (rest.startsWith("/")) {
          require(rest.length == 2 && "yMwdhHms".contains(rest(1)),
            s"date-math rounding must be a single trailing /unit: '$expr'")
          rounding = Some(rest(1)); rest = ""
        } else OpRx.findPrefixMatchOf(rest) match {
          case Some(m) =>
            val n = m.group(2).toLong * (if (m.group(1) == "-") -1L else 1L)
            t = m.group(3).charAt(0) match {
              case 'y' => t.plusYears(n)
              case 'M' => t.plusMonths(n)
              case 'w' => t.plusWeeks(n)
              case 'd' => t.plusDays(n)
              case 'h' | 'H' => t.plusHours(n)
              case 'm' => t.plusMinutes(n)
              case 's' => t.plusSeconds(n)
            }
            rest = rest.substring(m.end)
          case None => throw new IllegalArgumentException(
            s"bad date math '$expr' at '$rest'")
        }
      }
      rounding match {
        case None => (t.toInstant, t.toInstant)
        case Some(u) =>
          val floor = u match {
            case 's' => t.truncatedTo(ChronoUnit.SECONDS)
            case 'm' => t.truncatedTo(ChronoUnit.MINUTES)
            case 'h' | 'H' => t.truncatedTo(ChronoUnit.HOURS)
            case 'd' => t.truncatedTo(ChronoUnit.DAYS)
            case 'w' => t.`with`(java.time.temporal.TemporalAdjusters
                .previousOrSame(DayOfWeek.MONDAY)).truncatedTo(ChronoUnit.DAYS)
            case 'M' => t.withDayOfMonth(1).truncatedTo(ChronoUnit.DAYS)
            case 'y' => t.withDayOfYear(1).truncatedTo(ChronoUnit.DAYS)
          }
          val next = u match {
            case 's' => floor.plusSeconds(1)
            case 'm' => floor.plusMinutes(1)
            case 'h' | 'H' => floor.plusHours(1)
            case 'd' => floor.plusDays(1)
            case 'w' => floor.plusWeeks(1)
            case 'M' => floor.plusMonths(1)
            case 'y' => floor.plusYears(1)
          }
          (floor.toInstant, next.minusNanos(1000L).toInstant)
      }
    }

    private def parseAnchor(s: String): ZonedDateTime = {
      val d = "\\d{4}-\\d{2}-\\d{2}".r
      s match {
        case _ if s.matches("\\d{4}-\\d{2}-\\d{2}") =>
          LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC)
        case _ if s.matches(d.regex + "[T ]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?") =>
          LocalDateTime.parse(s.replace(' ', 'T')).atZone(ZoneOffset.UTC)
        case _ if s.matches(d.regex + "T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?Z") =>
          Instant.parse(s).atZone(ZoneOffset.UTC)
        case _ => throw new IllegalArgumentException(
          s"date-math anchor must be ISO yyyy-MM-dd[THH:mm:ss[.SSS][Z]], got '$s'")
      }
    }
  }

  // ---- ES-DSL JSON subset ----

  private[graft] object DslJson {
    private val mapper = new ObjectMapper()

    /** Pinned `now` for date-math resolution, scoped per compile: the
      * body's top-level `"now"` (engine extension — ES takes the
      * coordinator's clock; a distributed deterministic engine must pin
      * it explicitly, same rule as the TTL/IndexationDate literals).
      * Absent → wall clock at compile time. */
    private[graft] val nowAnchor =
      new scala.util.DynamicVariable[java.time.Instant](null)

    /** The target frame's schema when the caller has one (search entry
      * points pass it) — lets field-type-dependent compile decisions
      * (the DateMath fallback) match ES, which always knows the mapping.
      * Null (no frame in scope) keeps the lenient legacy behavior. */
    private[graft] val schemaHint =
      new scala.util.DynamicVariable[org.apache.spark.sql.types.StructType](null)

    def compile(json: String, defaultLimit: Int,
                idCol: String = "doc_id",
                defaultOr: Boolean = false): CompiledQuery = {
      val root = mapper.readTree(json)
      require(root != null && root.isObject, "DSL query must be a JSON object")
      val size = Option(root.get("size")).map(_.asInt).getOrElse(defaultLimit)
      val qNode = Option(root.get("query"))
        .getOrElse(throw new IllegalArgumentException("missing 'query'"))
      val after = Option(root.get("search_after")).map { a =>
        require(a.isArray && a.size == 2,
          s"'search_after' must be [score, id], got: $a")
        val id = if (a.get(1).isTextual) a.get(1).asText
                 else if (a.get(1).isIntegralNumber) a.get(1).asLong
                 else a.get(1).asDouble
        (a.get(0).asDouble, id: Any)
      }
      val sort = Option(root.get("sort")).map { s =>
        require(s.isArray && s.size > 0, s"'sort' must be a non-empty array, got: $s")
        s.elements.asScala.toSeq.map { e =>
          require(e.isObject && e.size == 1, s"sort entry must be {field: order}, got: $e")
          val f = e.fieldNames.asScala.next()
          if (f == "_geo_distance") {
            // {"_geo_distance": {FIELD: {lat, lon}[, "order"][, "unit"]}}
            // — sort by haversine distance from the point. The unit is
            // accepted and ignored: a monotone rescale cannot change the
            // order. ES default order for _geo_distance is asc (nearest
            // first).
            val gb = e.get(f)
            val unknownGs = gb.fieldNames.asScala.toSet -- Set("order", "unit")
            require(unknownGs.size == 1,
              s"_geo_distance sort needs exactly one field with {lat, lon}, " +
                s"got: ${unknownGs.mkString(", ")}")
            val gf = unknownGs.head
            val (sLat, sLon) = Geo.latLonOf(gb.get(gf), "_geo_distance sort")
            val ord = Option(gb.get("order")).map(_.asText).getOrElse("asc")
            require(ord == "asc" || ord == "desc", s"bad sort order '$ord'")
            (Geo.haversineMeters(col(gf), sLat, sLon), ord == "asc")
          } else {
            val ord = if (e.get(f).isTextual) e.get(f).asText
                      else Option(e.get(f).get("order")).map(_.asText).getOrElse("asc")
            require(ord == "asc" || ord == "desc", s"bad sort order '$ord'")
            (col(f), ord == "asc")
          }
        }
      }
      require(after.isEmpty || sort.isEmpty,
        "search_after pairs with the default relevance order (declared subset); " +
          "remove 'sort' or paginate without it")
      val source = Option(root.get("_source")).map { s =>
        if (s.isBoolean && !s.asBoolean) Seq.empty[String]
        else {
          require(s.isArray, s"'_source' must be false or an array of fields, got: $s")
          val fields = s.elements.asScala.toSeq.map(_.asText)
          require(fields.forall(_.nonEmpty), "'_source' fields must be non-empty")
          fields
        }
      }
      val from = Option(root.get("from")).map(_.asInt).getOrElse(0)
      require(from >= 0, s"'from' must be >= 0, got $from")
      require(from == 0 || after.isEmpty,
        "'from' and 'search_after' are mutually exclusive (ES semantics)")
      val collapse = Option(root.get("collapse")).map { c =>
        val unknownC = c.fieldNames.asScala.toSet -- Set("field", "inner_hits")
        require(unknownC.isEmpty,
          s"unsupported collapse option(s): ${unknownC.mkString(", ")}")
        val f = Option(c.get("field")).filter(_.isTextual).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            "'collapse' needs {\"field\": ...}"))
        require(f.nonEmpty, "'collapse' field must be non-empty")
        f
      }
      // collapse inner_hits: each collapsed hit also carries the top-k
      // hits of its group ({"name": n, "size": k} — name accepted as ES
      // cosmetics, the flat result encodes group membership in the
      // collapse-key column itself). Declared subset: default relevance
      // order (a custom inner sort would need a per-group re-sort spec).
      val collapseInner = Option(root.get("collapse"))
        .flatMap(c => Option(c.get("inner_hits"))).map { ih =>
          require(ih.isObject, s"'inner_hits' must be an object, got: $ih")
          val unknown = ih.fieldNames.asScala.toSet -- Set("name", "size")
          require(unknown.isEmpty,
            s"unsupported collapse inner_hits option(s): ${unknown.mkString(", ")} " +
              "(name/size — declared subset, default relevance order)")
          val k = Option(ih.get("size")).map(_.asInt).getOrElse(3)
          require(k >= 1 && k <= 100,
            s"collapse inner_hits size must be in [1, 100], got $k")
          k
        }
      require(collapse.isEmpty || after.isEmpty,
        "'collapse' with 'search_after' is not supported (declared subset)")
      require(collapseInner.isEmpty || sort.isEmpty,
        "'collapse' inner_hits with a custom 'sort' is not supported (declared subset)")
      // ES `min_score`: drop hits scoring below the floor BEFORE paging —
      // a post-scoring filter, not a re-rank
      val minScore = Option(root.get("min_score")).map { n =>
        require(n.isNumber, s"'min_score' must be a number, got: $n")
        n.asDouble
      }
      val leaves = scala.collection.mutable.ArrayBuffer[Column]()
      val anchor = Option(root.get("now")).map { n =>
        require(n.isTextual, s"'now' must be an ISO instant string, got: $n")
        java.time.Instant.parse(n.asText)
      }.orNull
      val pred = nowAnchor.withValue(anchor) {
        node(qNode, leaves, scoring = true, idCol, defaultOr)
      }
      // ES `script_fields`: per-hit derived values through the shared
      // Script grammar — {"name": {"script": "doc.a * 2"}} (or the long
      // {"script": {"source": …}} form). Sources carry through to the
      // search executor, which binds `doc.<col>` against the actual frame.
      val scriptFields = Option(root.get("script_fields")).map { sf =>
        require(sf.isObject && sf.size > 0,
          s"'script_fields' must be a non-empty object, got: $sf")
        sf.fieldNames.asScala.toSeq.map { n =>
          val body = sf.get(n)
          val src = Option(body.get("script")).map { s =>
            if (s.isTextual) s.asText
            else Option(s.get("source")).filter(_.isTextual).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                s"script_fields '$n' script needs a string or {source}"))
          }.getOrElse(throw new IllegalArgumentException(
            s"script_fields '$n' needs a 'script'"))
          n -> src
        }
      }
      CompiledQuery(pred, scoreOf(leaves.toSeq), Some(size), after, sort, source,
        from, collapse, collapseInner, minScore, scriptFields)
    }

    private def node(n: JsonNode,
                     leaves: scala.collection.mutable.ArrayBuffer[Column],
                     scoring: Boolean, idCol: String = "doc_id",
                     defaultOr: Boolean = false): Column = {
      require(n.isObject && n.size == 1, s"expected single-operator object, got: $n")
      val op = n.fieldNames.asScala.next()
      val body = n.get(op)
      op match {
        case "match_all" => lit(true)
        case "match_none" => lit(false)
        case "parent_id" =>
          // {"parent_id": {"type": t, "id": v}} — children of ONE parent
          // in the join-field model: a plain equality on the parent
          // pointer (the type names the child relation; the single-index
          // frame carries it in join_name). Declared columns: join_name /
          // join_parent, same as has_child/has_parent.
          val unknownPi = body.fieldNames.asScala.toSet -- Set("type", "id")
          require(unknownPi.isEmpty,
            s"unsupported parent_id option(s): ${unknownPi.mkString(", ")}")
          val pit = Option(body.get("type")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "parent_id needs 'type'"))
          val piv = Option(body.get("id")).map(scalarOf)
            .getOrElse(throw new IllegalArgumentException(
              "parent_id needs 'id'"))
          val pic = col("join_name") === pit && col("join_parent") === lit(piv)
          if (scoring) leaves += leaf(pic, 1)
          pic
        case "term" | "match" | "match_phrase" | "prefix" | "wildcard" =>
          val (f, vRaw) = singleField(body)
          // both forms: short scalar {"match":{"f":"x"}} and the long
          // object body ES clients emit — {"match":{"f":{"query":"x",
          // "boost":2}}} / {"term":{"f":{"value":…,"boost":…}}}. Unknown
          // sub-keys (operator, fuzziness, case_insensitive, …) are
          // rejected, not silently dropped.
          val valueKey = op match {
            case "match" | "match_phrase" => "query"
            case _                        => "value"
          }
          val (v, boost, slop, matchAnd) =
            if (!vRaw.isObject) (vRaw, 1, 0, false)
            else {
              // match_phrase additionally takes ES's `slop` (ordered
              // proximity, see proximityMatch); match takes `operator`
              // (how ITS analyzed terms combine — AND/OR, ES default OR);
              // term/prefix/wildcard take `case_insensitive`
              val extra = op match {
                case "match_phrase" => Set("slop")
                case "match" => Set("operator")
                case "term" | "prefix" | "wildcard" => Set("case_insensitive")
                case _ => Set.empty[String]
              }
              val unknown = vRaw.fieldNames.asScala.toSet --
                (Set(valueKey, "boost") ++ extra)
              require(unknown.isEmpty,
                s"unsupported $op option(s): ${unknown.mkString(", ")}")
              val value = Option(vRaw.get(valueKey)).getOrElse(
                throw new IllegalArgumentException(s"$op long form requires '$valueKey'"))
              val b = Option(vRaw.get("boost")).map { n =>
                require(n.isIntegralNumber && n.asInt >= 1,
                  s"boost must be a positive integer, got: $n")
                n.asInt
              }.getOrElse(1)
              val sl = Option(vRaw.get("slop")).map { n =>
                require(n.isIntegralNumber && n.asInt >= 0,
                  s"slop must be a non-negative integer, got: $n")
                n.asInt
              }.getOrElse(0)
              val mAnd = Option(vRaw.get("operator")).map { n =>
                require(n.isTextual && (n.asText.equalsIgnoreCase("and")
                    || n.asText.equalsIgnoreCase("or")),
                  s"match operator must be and or or, got: $n")
                n.asText.equalsIgnoreCase("and")
              }.getOrElse(false)
              (value, b, sl, mAnd)
            }
          // ES 7.10 case_insensitive: `term` compares raw values (case-
          // sensitive), so true switches to a lowercased compare; prefix/
          // wildcard match ANALYZED (lowercased) text already — true is
          // the existing behavior (accepted), false would demand case-
          // sensitive wildcards the analyzed field cannot give (loud).
          val caseInsensitive =
            vRaw.isObject && Option(vRaw.get("case_insensitive")).exists { n =>
              require(n.isBoolean,
                s"case_insensitive must be a boolean, got: $n")
              require(n.asBoolean || op == "term",
                s"$op: case_insensitive:false unsupported — $op matches " +
                  "analyzed (lowercased) text (declared subset)")
              n.asBoolean
            }
          def text: String = {
            require(v.isTextual && v.asText.nonEmpty,
              s"$op expects a non-empty string value, got: $v")
            v.asText
          }
          op match {
            // `match` ANALYZES its text: whitespace terms combine with OR
            // (ES's default) or AND via `operator`; every term is its own
            // scoring clause, like the ES bool-of-terms rewrite. Phrase
            // semantics belong to match_phrase, not multi-word match.
            case "match" =>
              val toks = text.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
              require(toks.nonEmpty, s"match expects a non-empty string value, got: $v")
              val cols = toks.map(t => termMatch(col(f), escapeTerm(t)))
              if (scoring) cols.foreach(tc => leaves += leaf(tc, boost))
              if (matchAnd) cols.reduce(_ && _) else cols.reduce(_ || _)
            case _ =>
              val c = op match {
                case "term" if caseInsensitive =>
                  lower(col(f)) === lit(text.toLowerCase)
                case "term"         => col(f) === lit(scalarOf(v)) // exact value
                // contiguous-token phrase: quoted-term semantics (termMatch
                // keeps inner spaces inside the \b…\b anchor); with slop,
                // ordered per-gap proximity
                case "match_phrase" =>
                  if (slop == 0) termMatch(col(f), escapeTerm(text))
                  else proximityMatch(f, text, slop)
                case "prefix"       => termMatch(col(f), escapeTerm(text) + "*")
                case "wildcard"     => termMatch(col(f), text)       // value carries '*' / '?'
              }
              if (scoring) leaves += leaf(c, boost)
              c
          }
        case "fuzzy" =>
          // {"fuzzy":{"f":"v"}} (Lucene default distance 2) or
          // {"fuzzy":{"f":{"value":"v","fuzziness":1|"AUTO",
          // "prefix_length":1,"boost":3}}} — AUTO is ES's length-banded
          // budget (0 below 3 chars, 1 through 5, else 2); prefix_length
          // chars must match verbatim before any edit. Unknown keys are
          // rejected, not silently dropped.
          val (f, v) = singleField(body)
          val (text, dist, prefix, boost) =
            if (v.isTextual) (v.asText, 2, 0, 1)
            else {
              val unknown = v.fieldNames.asScala.toSet --
                Set("value", "fuzziness", "prefix_length", "boost")
              require(unknown.isEmpty, s"unsupported fuzzy option(s): ${unknown.mkString(", ")}")
              val value = Option(v.get("value"))
                .getOrElse(throw new IllegalArgumentException("fuzzy requires 'value'"))
              require(value.isTextual && value.asText.nonEmpty,
                s"fuzzy expects a non-empty string value, got: $v")
              def intOpt(key: String, dflt: Int) = Option(v.get(key)).map { n =>
                require(n.isIntegralNumber, s"$key supports integers only, got: $n")
                n.asInt
              }.getOrElse(dflt)
              val bst = intOpt("boost", 1)
              require(bst >= 1, s"boost must be a positive integer, got $bst")
              val dst = Option(v.get("fuzziness")) match {
                case Some(n) if n.isTextual =>
                  require(n.asText.equalsIgnoreCase("AUTO"),
                    s"fuzziness must be an integer or AUTO, got: $n")
                  graft.functions.TextSketchFunctions.autoFuzziness(value.asText)
                case Some(n) =>
                  require(n.isIntegralNumber, s"fuzziness supports integers or AUTO, got: $n")
                  n.asInt
                case None => 2
              }
              val pfx = intOpt("prefix_length", 0)
              require(pfx >= 0, s"prefix_length must be >= 0, got $pfx")
              (value.asText, dst, pfx, bst)
            }
          require(text.nonEmpty, "fuzzy expects a non-empty string value")
          val c = graft.functions.TextSketchFunctions
            .fuzzy_token_match(col(f), text, dist, prefix)
          if (scoring) leaves += leaf(c, boost)
          c
        case "terms" => // {"terms":{"f":["a","b",...]}} — exact-value disjunction
          val (f, v) = singleField(body)
          require(v.isArray, s"terms expects an array, got: $v")
          // [] matches NOTHING (ES allows it — "no permitted values", and
          // it's what a terms LOOKUP on a missing doc resolves to)
          val c =
            if (v.size == 0) lit(false)
            else col(f).isin(v.elements.asScala.map(scalarOf).toSeq: _*)
          if (scoring) leaves += leaf(c, 1)
          c
        case "ids" => // {"ids":{"values":[...]}} — id lookup on the ES _id analog
          val vs = Option(body.get("values"))
            .getOrElse(throw new IllegalArgumentException("ids requires 'values'"))
          require(vs.isArray && vs.size > 0, s"ids expects a non-empty values array")
          val c = col(idCol).isin(vs.elements.asScala.map(scalarOf).toSeq: _*)
          if (scoring) leaves += leaf(c, 1)
          c
        case "exists" => // {"exists":{"field":"x"}}
          val c = col(body.get("field").asText).isNotNull
          if (scoring) leaves += leaf(c, 1)
          c
        case "range" =>
          val f = body.fieldNames.asScala.next()
          val spec = body.get(f)
          val parts = spec.fields.asScala.flatMap { e =>
            val raw = e.getValue
            e.getKey match {
              // `format` is accepted and ignored: the bound parser already
              // binds both ISO strings and numbers, which is what clients
              // declare with it
              case "format" => None
              case "time_zone" =>
                require(raw.isTextual &&
                    Set("UTC", "Z", "+00:00").contains(raw.asText),
                  s"range time_zone must be UTC (deterministic contract), " +
                    s"got: $raw")
                None
              case k if raw.isTextual && DateMath.looksLike(raw.asText) =>
                // ES operator-dependent rounding: the floor of the period
                // for gte/lt, the ceiling for gt/lte. `looksLike` is a
                // HEURISTIC (any text starting with "now" trips it), so a
                // failed parse falls back to the plain scalar compare —
                // ES's behavior for a keyword-field bound like "nowhere" —
                // UNLESS the schema says the target is a date/timestamp
                // field: there ES raises a parse error, and the scalar
                // fallback would silently compile a string-vs-timestamp
                // compare (null predicate, zero hits) for a typo like
                // "now-1x".
                val anchorNow = Option(nowAnchor.value)
                  .getOrElse(java.time.Instant.now())
                val isDateField = Option(schemaHint.value).exists(sc =>
                  sc.fields.exists(fd => fd.name == f && (fd.dataType match {
                    case _: org.apache.spark.sql.types.DateType |
                         _: org.apache.spark.sql.types.TimestampType |
                         _: org.apache.spark.sql.types.TimestampNTZType => true
                    case _ => false
                  })))
                val resolved =
                  try Some(DateMath.resolve(raw.asText, anchorNow))
                  catch {
                    case e @ (_: IllegalArgumentException |
                              _: java.time.DateTimeException) =>
                      if (isDateField) throw new IllegalArgumentException(
                        s"unparseable date math '${raw.asText}' on date " +
                          s"field '$f'", e)
                      None
                  }
                Some(resolved match {
                  case Some((fl, ce)) =>
                    def ts(i: java.time.Instant) =
                      lit(java.sql.Timestamp.from(i))
                    k match {
                      case "gte" => col(f) >= ts(fl)
                      case "gt"  => col(f) > ts(ce)
                      case "lte" => col(f) <= ts(ce)
                      case "lt"  => col(f) < ts(fl)
                      case other => throw new IllegalArgumentException(
                        s"range op '$other'")
                    }
                  case None =>
                    val v = lit(scalarOf(raw))
                    k match {
                      case "gte" => col(f) >= v
                      case "gt"  => col(f) > v
                      case "lte" => col(f) <= v
                      case "lt"  => col(f) < v
                      case other => throw new IllegalArgumentException(
                        s"range op '$other'")
                    }
                })
              case k =>
                val v = lit(scalarOf(raw))
                Some(k match {
                  case "gte" => col(f) >= v
                  case "gt"  => col(f) > v
                  case "lte" => col(f) <= v
                  case "lt"  => col(f) < v
                  case other => throw new IllegalArgumentException(
                    s"range op '$other'")
                })
            }
          }.toSeq
          require(parts.nonEmpty, "empty range")
          val c = parts.reduce(_ && _)
          if (scoring) leaves += leaf(c, 1)
          c
        case "nested" =>
          // {"nested": {"path": "p", "query": {...}}} — at least one
          // element of the array-of-struct column `p` satisfies ALL inner
          // conditions TOGETHER (ES nested semantics: per-element
          // conjunction, not a cross-element AND — that distinction is the
          // whole point of the operator). Inner fields are addressed
          // "p.<field>" (ES convention). Compiled to a higher-order
          // `exists(p, elem -> ...)` — no explode, no shuffle, evaluated
          // rowwise inside codegen. Declared subset: inner query is
          // term/terms/range/match/exists or a bool of those (no
          // minimum_should_match, no nested-in-nested); score_mode only
          // "none" — scores ONE integer leaf per nested query, like
          // query_string. (Reference pipe: ElasticIndex.java:663.)
          val unknownNq = body.fieldNames.asScala.toSet --
            Set("path", "query", "score_mode", "ignore_unmapped")
          require(unknownNq.isEmpty,
            s"unsupported nested option(s): ${unknownNq.mkString(", ")}")
          Option(body.get("ignore_unmapped")).foreach(n => require(!n.asBoolean,
            "nested ignore_unmapped:true is unsupported (schemas are static " +
              "here — declared subset)"))
          Option(body.get("score_mode")).foreach { n =>
            require(n.isTextual && n.asText == "none",
              s"nested score_mode supports only 'none' (declared subset), got: $n")
          }
          val nPath = Option(body.get("path")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException("nested needs 'path'"))
          require(nPath.nonEmpty, "nested path must be non-empty")
          val nInner = Option(body.get("query")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException("nested needs 'query'"))
          def innerField(raw: String): String = {
            require(raw.startsWith(nPath + ".") && raw.length > nPath.length + 1,
              s"nested query fields must be addressed '$nPath.<field>', got: $raw")
            raw.substring(nPath.length + 1)
          }
          def elemPred(qn: JsonNode, x: Column): Column = {
            require(qn.isObject && qn.size == 1,
              s"expected single-operator object, got: $qn")
            val iop = qn.fieldNames.asScala.next()
            val ib = qn.get(iop)
            iop match {
              case "term" =>
                val (f, v) = singleField(ib)
                val value =
                  if (v.isObject) Option(v.get("value")).getOrElse(
                    throw new IllegalArgumentException(
                      "term long form requires 'value'"))
                  else v
                x.getField(innerField(f)) === lit(scalarOf(value))
              case "terms" =>
                val (f, arr) = singleField(ib)
                require(arr.isArray, s"terms expects an array, got: $arr")
                val vals = arr.elements.asScala.toSeq.map(scalarOf)
                if (vals.isEmpty) lit(false)
                else x.getField(innerField(f)).isin(vals: _*)
              case "range" =>
                val (f, spec) = singleField(ib)
                val cf = x.getField(innerField(f))
                val parts = spec.fields.asScala.map { e =>
                  val v = lit(scalarOf(e.getValue))
                  e.getKey match {
                    case "gte" => cf >= v
                    case "gt"  => cf > v
                    case "lte" => cf <= v
                    case "lt"  => cf < v
                    case k => throw new IllegalArgumentException(s"range op '$k'")
                  }
                }.toSeq
                require(parts.nonEmpty, "empty range")
                parts.reduce(_ && _)
              case "match" =>
                // analyzed like top-level match: whitespace terms OR
                val (f, v) = singleField(ib)
                require(v.isTextual && v.asText.nonEmpty,
                  s"nested match expects a non-empty string value, got: $v")
                val toks = v.asText.split("\\s+").filter(_.nonEmpty).toSeq
                toks.map(t => termMatch(x.getField(innerField(f)), escapeTerm(t)))
                  .reduce(_ || _)
              case "exists" =>
                val f = Option(ib.get("field")).filter(_.isTextual).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "exists needs 'field'"))
                x.getField(innerField(f)).isNotNull
              case "bool" =>
                val unknownB = ib.fieldNames.asScala.toSet --
                  Set("must", "filter", "must_not", "should")
                require(unknownB.isEmpty,
                  s"unsupported nested bool option(s): ${unknownB.mkString(", ")} " +
                    "(declared subset)")
                def cls(k: String): Seq[Column] =
                  clauseList(ib, k).map(elemPred(_, x))
                val positive = cls("must") ++ cls("filter")
                val req = positive ++
                  cls("must_not").map(c => !coalesce(c, lit(false)))
                val base = if (req.nonEmpty) req.reduce(_ && _) else lit(true)
                val should = cls("should")
                // ES default minimum_should_match: 0 with positive clauses
                // present, else 1
                if (should.isEmpty || positive.nonEmpty) base
                else base && should.reduce(_ || _)
              case other => throw new IllegalArgumentException(
                s"unsupported nested inner operator '$other' " +
                  "(term/terms/range/match/exists/bool — declared subset)")
            }
          }
          val nc = exists(col(nPath), x => elemPred(nInner, x))
          if (scoring) leaves += leaf(nc, 1)
          nc
        case "geo_bounding_box" =>
          // {"geo_bounding_box": {FIELD: {"top_left": {"lat","lon"},
          //  "bottom_right": {...}}}} — the geo_point is a
          // struct<lat:double,lon:double> column; pure comparisons, fully
          // codegen'd and pushdown-friendly. Boxes crossing the antimeridian
          // (left > right) wrap, as in ES.
          val (gf, gspec) = singleField(body)
          require(gspec.isObject, s"geo_bounding_box expects an object, got: $gspec")
          val unknownGb = gspec.fieldNames.asScala.toSet --
            Set("top_left", "bottom_right")
          require(unknownGb.isEmpty,
            s"unsupported geo_bounding_box option(s): ${unknownGb.mkString(", ")} " +
              "(top_left/bottom_right objects — declared subset)")
          def latLon(k: String): (Double, Double) = {
            val n0 = Option(gspec.get(k)).filter(_.isObject)
              .getOrElse(throw new IllegalArgumentException(
                s"geo_bounding_box needs '$k': {lat, lon}"))
            val la = Option(n0.get("lat")).filter(_.isNumber).map(_.asDouble)
              .getOrElse(throw new IllegalArgumentException(s"$k needs numeric 'lat'"))
            val lo = Option(n0.get("lon")).filter(_.isNumber).map(_.asDouble)
              .getOrElse(throw new IllegalArgumentException(s"$k needs numeric 'lon'"))
            require(la >= -90 && la <= 90, s"$k lat out of range: $la")
            require(lo >= -180 && lo <= 180, s"$k lon out of range: $lo")
            (la, lo)
          }
          val (top, left) = latLon("top_left")
          val (bottom, right) = latLon("bottom_right")
          require(top >= bottom,
            s"geo_bounding_box top_left.lat ($top) must be >= bottom_right.lat ($bottom)")
          val glat = col(gf).getField("lat")
          val glon = col(gf).getField("lon")
          val lonC =
            if (left <= right) glon >= lit(left) && glon <= lit(right)
            else glon >= lit(left) || glon <= lit(right) // antimeridian wrap
          val gc = glat <= lit(top) && glat >= lit(bottom) && lonC
          if (scoring) leaves += leaf(gc, 1)
          gc
        case "geo_grid" =>
          // {"geo_grid": {FIELD: {"geotile": "z/x/y"}}} (ES 8.x; also
          // geohash / geohex forms) — docs whose point falls in ONE named
          // grid cell. The predicate recomputes the cell key with the
          // SAME GeoGrid expressions the grid aggregations bucket on, so
          // drilling from a grid bucket into its member docs is exact by
          // construction. Precision derives from the key itself (geotile/
          // geohex: the z prefix; geohash: the string length). Pure
          // codegen'd math in the scan filter.
          val (ggf, ggspec) = singleField(body)
          require(ggspec.isObject && ggspec.size == 1,
            s"geo_grid expects one {geotile|geohash|geohex: key}, got: $ggspec")
          val kind = ggspec.fieldNames.asScala.next()
          val keyN = ggspec.get(kind)
          require(keyN.isTextual, s"geo_grid $kind key must be a string")
          val key = keyN.asText
          val ggc = kind match {
            case "geotile" =>
              val parts = key.split("/")
              require(parts.length == 3 && parts.forall(_.nonEmpty),
                s"geotile key must be 'z/x/y', got '$key'")
              GeoGrid.geotileKey(col(ggf), parts(0).toInt) === lit(key)
            case "geohash" =>
              require(key.nonEmpty && key.length <= 12,
                s"geohash key must be 1..12 chars, got '$key'")
              GeoGrid.geohashKey(col(ggf), key.length) === lit(key)
            case "geohex" =>
              val parts = key.split("/")
              require(parts.length == 3 && parts.forall(_.nonEmpty),
                s"geohex key must be 'z/q/r' (this engine's flat-lattice " +
                  s"cell ids — declared H3 divergence), got '$key'")
              GeoGrid.geohexKey(col(ggf), parts(0).toInt) === lit(key)
            case other => throw new IllegalArgumentException(
              s"geo_grid grid type must be geotile/geohash/geohex, got '$other'")
          }
          if (scoring) leaves += leaf(ggc, 1)
          ggc
        case "geo_distance" =>
          // {"geo_distance": {"distance": "100km", FIELD: {"lat","lon"}}} —
          // haversine great-circle distance on ES's mean earth radius
          // (GeoUtils.EARTH_MEAN_RADIUS = 6371008.7714150598 m), expressed
          // entirely in built-in double math so the whole predicate stays
          // inside whole-stage codegen.
          val distN = Option(body.get("distance")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "geo_distance needs 'distance': \"<number><unit>\""))
          val meters = Geo.distanceMeters(distN)
          val others = body.fieldNames.asScala.toSet - "distance"
          require(others.size == 1,
            s"geo_distance needs exactly one field with {lat, lon}, got: $others")
          val gdf = others.head
          val (cLat, cLon) = Geo.latLonOf(body.get(gdf), s"geo_distance $gdf")
          val gdc = Geo.haversineMeters(col(gdf), cLat, cLon) <= lit(meters)
          if (scoring) leaves += leaf(gdc, 1)
          gdc
        case "geo_polygon" =>
          // {"geo_polygon": {FIELD: {"points": [{lat,lon}, ...]}}} —
          // even-odd ray-cast containment over the closed vertex ring,
          // expressed as an XOR chain of per-edge crossing predicates in
          // pure double math (fully codegen'd, no UDF). ES serves this
          // filter for geo_point fields (deprecated in favor of geo_shape
          // but still the plain-polygon form clients emit). Declared
          // analog: boundary points follow raw double comparison — no
          // epsilon snapping.
          val (pgf, pgspec) = singleField(body)
          require(pgspec.isObject, s"geo_polygon expects an object, got: $pgspec")
          val unknownPg = pgspec.fieldNames.asScala.toSet - "points"
          require(unknownPg.isEmpty,
            s"unsupported geo_polygon option(s): ${unknownPg.mkString(", ")} " +
              "('points' vertex list — declared subset)")
          val ptsN = Option(pgspec.get("points")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              s"geo_polygon $pgf needs 'points': [{lat, lon}, ...]"))
          val verts = ptsN.elements.asScala.toSeq
            .map(n => Geo.latLonOf(n, s"geo_polygon $pgf point"))
          require(verts.size >= 3,
            s"geo_polygon needs at least 3 points, got ${verts.size}")
          val pgc = Geo.pointInRing(col(pgf), verts)
          if (scoring) leaves += leaf(pgc, 1)
          pgc
        case "geo_shape" =>
          // {"geo_shape": {FIELD: {"shape": {"type": "envelope"|"polygon",
          //   "coordinates": ...}, "relation": ...}}} — the modern ES
          // geo filter, served here for geo_point docs. GeoJSON
          // coordinate order is [lon, lat]; envelope coordinates are
          // [[minLon, maxLat], [maxLon, minLat]] (bounds inclusive, like
          // geo_bounding_box); polygon rings are CLOSED (first == last)
          // and extra rings are holes — even-odd XOR across rings gives
          // hole semantics with the same ray-cast chain. For point docs
          // intersects == within (a point is its own extent) and disjoint
          // is the negation over docs that HAVE the field; "contains" is
          // shape-vs-shape and out of the declared subset.
          val (gsf, gsspec) = singleField(body)
          require(gsspec.isObject, s"geo_shape expects an object, got: $gsspec")
          val unknownGs = gsspec.fieldNames.asScala.toSet --
            Set("shape", "relation")
          require(unknownGs.isEmpty,
            s"unsupported geo_shape option(s): ${unknownGs.mkString(", ")}")
          val relation = Option(gsspec.get("relation")).map(_.asText)
            .getOrElse("intersects")
          require(Set("intersects", "within", "disjoint").contains(relation),
            s"geo_shape relation '$relation' unsupported " +
              "(intersects/within/disjoint over point docs — declared subset)")
          val shape = Option(gsspec.get("shape")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException(
              s"geo_shape $gsf needs 'shape': {type, coordinates}"))
          val shapeType = Option(shape.get("type")).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "geo_shape shape needs 'type'")).toLowerCase
          val coords = Option(shape.get("coordinates"))
            .getOrElse(throw new IllegalArgumentException(
              "geo_shape shape needs 'coordinates'"))
          def lonLatOf(n: JsonNode): (Double, Double) = {
            require(n != null && n.isArray && n.size == 2 &&
              n.get(0).isNumber && n.get(1).isNumber,
              s"geo_shape coordinates expect [lon, lat] pairs, got: $n")
            (n.get(1).asDouble, n.get(0).asDouble) // → (lat, lon)
          }
          val inside = shapeType match {
            case "envelope" =>
              require(coords.isArray && coords.size == 2,
                "geo_shape envelope coordinates must be " +
                  "[[minLon, maxLat], [maxLon, minLat]]")
              val (maxLat, minLon) = lonLatOf(coords.get(0))
              val (minLat, maxLon) = lonLatOf(coords.get(1))
              require(maxLat >= minLat && maxLon >= minLon,
                s"geo_shape envelope corners inverted: " +
                  s"[[$minLon, $maxLat], [$maxLon, $minLat]]")
              val pLat = col(gsf).getField("lat")
              val pLon = col(gsf).getField("lon")
              pLat <= maxLat && pLat >= minLat &&
                pLon >= minLon && pLon <= maxLon
            case "polygon" =>
              require(coords.isArray && coords.size >= 1,
                "geo_shape polygon coordinates must be [[[lon, lat], ...], ...]")
              coords.elements.asScala.toSeq.map { ring =>
                require(ring.isArray && ring.size >= 4,
                  "geo_shape polygon rings need >= 4 closed points")
                val pts = ring.elements.asScala.toSeq.map(lonLatOf)
                require(pts.head == pts.last,
                  "geo_shape polygon rings must be closed (first == last)")
                Geo.pointInRing(col(gsf), pts.dropRight(1))
              }.reduce(_ =!= _) // outer XOR holes: even-odd across rings
            case other => throw new IllegalArgumentException(
              s"geo_shape type '$other' unsupported " +
                "(envelope/polygon — declared subset)")
          }
          val gsc = if (relation == "disjoint") !inside else inside
          if (scoring) leaves += leaf(gsc, 1)
          gsc
        case "distance_feature" =>
          // {"distance_feature": {"field": f, "origin": {lat,lon},
          //  "pivot": "100km"[, "boost": b]}} — matches docs WITH the geo
          // field, scored boost * pivot / (pivot + distance): ES's
          // inverse-distance decay. The score is a shaped DOUBLE leaf
          // (like dis_max), not an integer one. Declared subset: the geo
          // form; the date form's "now"-anchored origin breaks the
          // deterministic contract.
          val unknownDf = body.fieldNames.asScala.toSet --
            Set("field", "origin", "pivot", "boost")
          require(unknownDf.isEmpty,
            s"unsupported distance_feature option(s): ${unknownDf.mkString(", ")}")
          val dff = Option(body.get("field")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "distance_feature needs 'field'"))
          val (oLat, oLon) = Geo.latLonOf(body.get("origin"),
            "distance_feature origin")
          val pivotM = Geo.distanceMeters(Option(body.get("pivot"))
            .filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "distance_feature needs 'pivot': \"<number><unit>\"")))
          val dfBoost = Option(body.get("boost")).map { n =>
            require(n.isNumber && n.asDouble > 0,
              s"distance_feature boost must be a positive number, got: $n")
            n.asDouble
          }.getOrElse(1.0)
          val dfMatched = col(dff).isNotNull
          if (scoring) leaves += when(dfMatched,
            lit(dfBoost) * lit(pivotM) /
              (lit(pivotM) + Geo.haversineMeters(col(dff), oLat, oLon)))
            .otherwise(lit(0.0))
          dfMatched
        case "sparse_vector" =>
          // {"sparse_vector": {"field": f, "query_vector": {tok: w, …}}}
          // — the ELSER-style learned-sparse scoring face (ES 8.15+,
          // pre-computed query-vector form): the doc field is a
          // map<token,double> of term weights (ES rank_features storage),
          // score = Σ q_w · d_w over the query's tokens. The query vector
          // is compile-time literal, so the dot product unrolls to a
          // coalesce/element_at product chain — fully codegen'd, no
          // explode, no shuffle; a doc matches on positive overlap.
          val unknownSv = body.fieldNames.asScala.toSet --
            Set("field", "query_vector")
          require(unknownSv.isEmpty,
            s"unsupported sparse_vector option(s): ${unknownSv.mkString(", ")} " +
              "(field/query_vector — declared subset; inference forms need a model)")
          val svf = Option(body.get("field")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "sparse_vector needs 'field'"))
          val qvN = Option(body.get("query_vector")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException(
              "sparse_vector needs 'query_vector': {token: weight, …}"))
          require(qvN.size > 0, "sparse_vector query_vector is empty")
          val svScore = qvN.fields.asScala.toSeq.map { e =>
            require(e.getValue.isNumber,
              s"sparse_vector weight for '${e.getKey}' must be a number")
            coalesce(element_at(col(svf), lit(e.getKey)), lit(0.0)) *
              lit(e.getValue.asDouble)
          }.reduce(_ + _)
          val svc = svScore > lit(0.0)
          if (scoring) leaves += when(svc, svScore)
          svc
        case "rank_feature" =>
          // {"rank_feature": {"field": f, "saturation": {"pivot": p}
          //  [, "boost": b]}} — matches docs WITH the (non-negative)
          // feature field, scored boost * x / (x + pivot). Declared
          // subset: saturation with an EXPLICIT pivot — ES's default
          // pivot is an index statistic (approximate geometric mean),
          // which would make scores corpus-dependent; log/sigmoid forms
          // stay out. Double leaf, like distance_feature.
          val unknownRf = body.fieldNames.asScala.toSet --
            Set("field", "saturation", "boost")
          require(unknownRf.isEmpty,
            s"unsupported rank_feature option(s): ${unknownRf.mkString(", ")} " +
              "(saturation only — declared subset)")
          val rff = Option(body.get("field")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "rank_feature needs 'field'"))
          val satN = Option(body.get("saturation")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException(
              "rank_feature needs 'saturation': {\"pivot\": N} (declared " +
                "subset — ES's default pivot is an index statistic)"))
          val unknownSat = satN.fieldNames.asScala.toSet - "pivot"
          require(unknownSat.isEmpty,
            s"unsupported rank_feature saturation option(s): ${unknownSat.mkString(", ")}")
          val rfPivot = Option(satN.get("pivot")).filter(_.isNumber).map(_.asDouble)
            .getOrElse(throw new IllegalArgumentException(
              "rank_feature saturation needs a numeric 'pivot'"))
          require(rfPivot > 0, s"rank_feature pivot must be > 0, got $rfPivot")
          val rfBoost = Option(body.get("boost")).map { n =>
            require(n.isNumber && n.asDouble > 0,
              s"rank_feature boost must be a positive number, got: $n")
            n.asDouble
          }.getOrElse(1.0)
          val rfMatched = col(rff).isNotNull
          if (scoring) leaves += when(rfMatched,
            lit(rfBoost) * col(rff) / (col(rff) + lit(rfPivot)))
            .otherwise(lit(0.0))
          rfMatched
        case "query_string" =>
          // {"query_string":{"query":"a:b AND c:d"}} — optional
          // `default_field` binds BARE terms (ES's q=spark batch style);
          // without it a bare term stays a loud error, as in Lucene-lite.
          // `default_operator` (AND/OR) sets what bare adjacency means;
          // absent, the store-level operator applies (our configured
          // default is AND — a declared divergence from ES, whose
          // query_string default is OR)
          val unknown = body.fieldNames.asScala.toSet --
            Set("query", "default_field", "default_operator")
          require(unknown.isEmpty,
            s"unsupported query_string option(s): ${unknown.mkString(", ")}")
          val qn = Option(body.get("query"))
            .getOrElse(throw new IllegalArgumentException("query_string requires 'query'"))
          val df = Option(body.get("default_field")).map { n =>
            require(n.isTextual && n.asText.nonEmpty,
              s"default_field must be a non-empty string, got: $n")
            n.asText
          }
          val dOr = Option(body.get("default_operator")).map { n =>
            require(n.isTextual && (n.asText.equalsIgnoreCase("AND")
                || n.asText.equalsIgnoreCase("OR")),
              s"default_operator must be AND or OR, got: $n")
            n.asText.equalsIgnoreCase("OR")
          }.getOrElse(defaultOr)
          val sub = LuceneLite.compile(qn.asText, Int.MaxValue, df, dOr)
          if (scoring) leaves += leaf(sub.predicate, 1)
          sub.predicate
        case "multi_match" =>
          // {"multi_match":{"query":"x","fields":["a","b^2"]}} — declared
          // `most_fields` semantics: one scoring leaf per field, summed
          // (ES best_fields would dis_max them; the summed variant is the
          // reproducible one and an official ES type). The query text is
          // ANALYZED like `match`: whitespace terms OR within each field
          // (`operator:"and"` requires all of them per field). Per-field
          // `^N` boosts apply; rejected keys (type, …) are loud.
          val unknown = body.fieldNames.asScala.toSet --
            Set("query", "fields", "operator", "type")
          require(unknown.isEmpty,
            s"unsupported multi_match option(s): ${unknown.mkString(", ")}")
          val mmAnd = Option(body.get("operator")).map { n =>
            require(n.isTextual && (n.asText.equalsIgnoreCase("and")
                || n.asText.equalsIgnoreCase("or")),
              s"multi_match operator must be and or or, got: $n")
            n.asText.equalsIgnoreCase("and")
          }.getOrElse(false)
          val qv = Option(body.get("query"))
            .getOrElse(throw new IllegalArgumentException("multi_match requires 'query'"))
          require(qv.isTextual && qv.asText.nonEmpty,
            s"multi_match expects a non-empty string query, got: $qv")
          val fieldsNode = Option(body.get("fields"))
            .getOrElse(throw new IllegalArgumentException("multi_match requires 'fields'"))
          require(fieldsNode.isArray && fieldsNode.size > 0,
            "multi_match expects a non-empty fields array")
          val mmFields = fieldsNode.elements.asScala.toSeq.map { fn =>
            require(fn.isTextual, s"multi_match field must be a string, got: $fn")
            fieldBoost(fn.asText)
          }
          Option(body.get("type")).map(_.asText).getOrElse("most_fields") match {
            case "most_fields" =>
              // one scoring leaf per field, summed
              val perField = mmFields.map { case (f, b) =>
                val toks = qv.asText.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
                require(toks.nonEmpty, s"multi_match expects a non-empty string query")
                val termCols = toks.map(t => termMatch(col(f), escapeTerm(t)))
                (if (mmAnd) termCols.reduce(_ && _) else termCols.reduce(_ || _), b)
              }
              if (scoring) leaves ++= perField.map { case (c, b) => leaf(c, b) }
              perField.map(_._1).reduce(_ || _)
            case "best_fields" =>
              // ES semantics verbatim: dis_max over per-field match —
              // rewrite and recurse, so scoring takes the max field
              val dm = mapper.createObjectNode()
              val arr = dm.putObject("dis_max").putArray("queries")
              mmFields.foreach { case (f, b) =>
                val m = arr.addObject().putObject("match").putObject(f)
                m.put("query", qv.asText)
                if (b != 1) m.put("boost", b)
                if (mmAnd) m.put("operator", "and")
              }
              node(dm, leaves, scoring, idCol, defaultOr)
            case "phrase" =>
              // per-field match_phrase (contiguous tokens), best leaf wins
              // via the same dis_max rewrite
              val dm = mapper.createObjectNode()
              val arr = dm.putObject("dis_max").putArray("queries")
              mmFields.foreach { case (f, b) =>
                val m = arr.addObject().putObject("match_phrase").putObject(f)
                m.put("query", qv.asText)
                if (b != 1) m.put("boost", b)
              }
              node(dm, leaves, scoring, idCol, defaultOr)
            case "bool_prefix" =>
              // per-field match_bool_prefix (terms + trailing prefix),
              // best field wins — the type-ahead multi-field form
              val dm = mapper.createObjectNode()
              val arr = dm.putObject("dis_max").putArray("queries")
              mmFields.foreach { case (f, b) =>
                val m = arr.addObject().putObject("match_bool_prefix")
                  .putObject(f)
                m.put("query", qv.asText)
                if (b != 1) m.put("boost", b)
                if (mmAnd) m.put("operator", "and")
              }
              node(dm, leaves, scoring, idCol, defaultOr)
            case "cross_fields" =>
              // term-centric: each term matches in ANY field — exactly the
              // combined_fields operator; per-field boosts are rejected
              // there (term-centric weights must agree), surface that
              require(mmFields.forall(_._2 == 1),
                "multi_match cross_fields: per-field ^boosts unsupported " +
                  "(term-centric weights must agree, like combined_fields)")
              val cf = mapper.createObjectNode()
              val b = cf.putObject("combined_fields")
              b.put("query", qv.asText)
              val fa = b.putArray("fields")
              mmFields.foreach { case (f, _) => fa.add(f) }
              if (mmAnd) b.put("operator", "and")
              node(cf, leaves, scoring, idCol, defaultOr)
            case other => throw new IllegalArgumentException(
              s"multi_match type '$other' unsupported (most_fields/" +
                "best_fields/phrase/cross_fields — declared subset)")
          }
        case "simple_query_string" =>
          // {"simple_query_string":{"query":"a | b -c","fields":["f","g^2"],
          // "default_operator":"and"}} — the search-box mini-language (see
          // [[SimpleQs]]). ES defaults this operator's adjacency to OR
          // regardless of the store default; an explicit default_operator
          // wins. Declared subset: `fields` is required (the engine has no
          // "all fields" universe to expand `*` into) and unknown options
          // (flags, analyzer, …) are loud.
          val unknown = body.fieldNames.asScala.toSet --
            Set("query", "fields", "default_operator")
          require(unknown.isEmpty,
            s"unsupported simple_query_string option(s): ${unknown.mkString(", ")}")
          val qv = Option(body.get("query"))
            .getOrElse(throw new IllegalArgumentException(
              "simple_query_string requires 'query'"))
          require(qv.isTextual && qv.asText.trim.nonEmpty,
            s"simple_query_string expects a non-empty string query, got: $qv")
          val fieldsNode = Option(body.get("fields"))
            .getOrElse(throw new IllegalArgumentException(
              "simple_query_string requires 'fields' (declared subset)"))
          require(fieldsNode.isArray && fieldsNode.size > 0,
            "simple_query_string expects a non-empty fields array")
          val fields = fieldsNode.elements.asScala.toSeq.map { fn =>
            require(fn.isTextual, s"simple_query_string field must be a string, got: $fn")
            fieldBoost(fn.asText)
          }
          val sqsOr = Option(body.get("default_operator")).map { n =>
            require(n.isTextual && (n.asText.equalsIgnoreCase("AND")
                || n.asText.equalsIgnoreCase("OR")),
              s"default_operator must be AND or OR, got: $n")
            n.asText.equalsIgnoreCase("OR")
          }.getOrElse(true) // ES simple_query_string default: OR
          SimpleQs.compile(qv.asText, fields, sqsOr, leaves, scoring)
        case "regexp" =>
          // {"regexp":{"f":"pat.*n"}} (or long form {"value":…,"boost":…})
          // — whole-token regex match, the token-model analog of ES regexp's
          // full-value anchoring. Pattern validity is checked at compile.
          val (f, vRaw) = singleField(body)
          val (v, boost) =
            if (!vRaw.isObject) (vRaw, 1)
            else {
              val unknown = vRaw.fieldNames.asScala.toSet -- Set("value", "boost")
              require(unknown.isEmpty,
                s"unsupported regexp option(s): ${unknown.mkString(", ")}")
              val value = Option(vRaw.get("value")).getOrElse(
                throw new IllegalArgumentException("regexp long form requires 'value'"))
              val b = Option(vRaw.get("boost")).map { n =>
                require(n.isIntegralNumber && n.asInt >= 1,
                  s"boost must be a positive integer, got: $n")
                n.asInt
              }.getOrElse(1)
              (value, b)
            }
          require(v.isTextual && v.asText.nonEmpty,
            s"regexp expects a non-empty pattern, got: $v")
          val pat = v.asText
          try java.util.regex.Pattern.compile(pat) catch {
            case e: java.util.regex.PatternSyntaxException =>
              throw new IllegalArgumentException(s"invalid regexp '$pat': ${e.getMessage}")
          }
          val c = lower(col(f)).rlike("\\b(?:" + pat + ")\\b")
          if (scoring) leaves += leaf(c, boost)
          c
        case "dis_max" =>
          // {"dis_max":{"queries":[{...},{...}]}} — a row matches if any
          // sub-query matches; the clause's score contribution is the MAX
          // of the sub-query scores (ES best_fields semantics). Declared
          // subset: tie_breaker must be 0/absent — the fractional
          // tie-breaker would break integer scoring.
          val unknown = body.fieldNames.asScala.toSet -- Set("queries", "tie_breaker")
          require(unknown.isEmpty,
            s"unsupported dis_max option(s): ${unknown.mkString(", ")}")
          Option(body.get("tie_breaker")).foreach { n =>
            require(n.isNumber && n.asDouble == 0.0,
              s"dis_max tie_breaker must be 0 (integer-scoring subset), got: $n")
          }
          val qs = Option(body.get("queries"))
            .getOrElse(throw new IllegalArgumentException("dis_max requires 'queries'"))
          require(qs.isArray && qs.size > 0, "dis_max 'queries' must be a non-empty array")
          val children = qs.asScala.toSeq.map { q =>
            val sub = scala.collection.mutable.ArrayBuffer[Column]()
            val pred = node(q, sub, scoring, idCol, defaultOr)
            (pred, scoreOf(sub.toSeq))
          }
          val pred = children.map(_._1).reduce(_ || _)
          if (scoring) {
            val contribs = children.map { case (p, s) =>
              when(coalesce(p, lit(false)), s).otherwise(0) }
            // Spark's greatest() requires ≥2 args; one sub-query is just it
            leaves += (if (contribs.size == 1) contribs.head
                       else greatest(contribs: _*))
          }
          pred
        case "boosting" =>
          // {"boosting":{"positive":{...},"negative":{...},"negative_boost":0}}
          // — matches whatever `positive` matches (negative never filters);
          // a doc also matching `negative` is DEMOTED. Declared subset:
          // negative_boost must be 0 — the fractional demotion would break
          // integer scoring, so a demoted doc scores exactly 0.
          val unknown = body.fieldNames.asScala.toSet --
            Set("positive", "negative", "negative_boost")
          require(unknown.isEmpty,
            s"unsupported boosting option(s): ${unknown.mkString(", ")}")
          val posNode = Option(body.get("positive"))
            .getOrElse(throw new IllegalArgumentException("boosting requires 'positive'"))
          val negNode = Option(body.get("negative"))
            .getOrElse(throw new IllegalArgumentException("boosting requires 'negative'"))
          Option(body.get("negative_boost")).foreach { n =>
            require(n.isNumber && n.asDouble == 0.0,
              s"boosting negative_boost must be 0 (integer-scoring subset), got: $n")
          }
          val posLeaves = scala.collection.mutable.ArrayBuffer[Column]()
          val posPred = node(posNode, posLeaves, scoring, idCol, defaultOr)
          val negPred = node(negNode,
            scala.collection.mutable.ArrayBuffer[Column](), scoring = false, idCol)
          if (scoring)
            leaves += when(coalesce(negPred, lit(false)), 0)
              .otherwise(scoreOf(posLeaves.toSeq))
          posPred
        case "function_score" =>
          // {"function_score":{"query":{...},"functions":[{"filter":{...},
          // "weight":3},{"field_value_factor":{"field":"n","factor":2,
          // "modifier":"none","missing":0}}],"score_mode":"sum",
          // "boost_mode":"multiply","max_boost":N,"min_score":N}}
          //
          // ES function scoring in the engine's declared integer subset:
          // weights/factors are positive integers, `modifier` is
          // none/square (log/sqrt/reciprocal are fractional → loud), and
          // `field_value_factor` expects an integral field. Per ES: only
          // functions whose `filter` matches participate; if NONE matches
          // the query score passes through unchanged; `score_mode`
          // combines the participating functions (multiply default,
          // sum/max/min/first; avg is fractional → loud); `max_boost` caps
          // the combined function value; `boost_mode` folds it into the
          // query score (multiply default, sum/max/min/replace; avg loud);
          // `min_score` drops hits below the threshold — a FILTER, the one
          // place ES lets relevance constrain matching.
          val unknown = body.fieldNames.asScala.toSet --
            Set("query", "functions", "score_mode", "boost_mode", "max_boost",
              "min_score", "weight", "field_value_factor")
          require(unknown.isEmpty,
            s"unsupported function_score option(s): ${unknown.mkString(", ")}")
          val innerQ = Option(body.get("query"))
            .getOrElse(mapper.readTree("""{"match_all":{}}"""))
          val innerLeaves = scala.collection.mutable.ArrayBuffer[Column]()
          val innerPred = node(innerQ, innerLeaves, scoring = true, idCol, defaultOr)
          val queryScore = scoreOf(innerLeaves.toSeq).cast("long")
          def posInt(n: JsonNode, what: String): Int = {
            require(n.isIntegralNumber && n.asInt >= 1,
              s"$what must be a positive integer (integer-scoring subset), got: $n")
            n.asInt
          }
          // one function: (participates-predicate, long value). The short
          // single-function form ES allows (weight / field_value_factor at
          // the body top level) normalizes to a one-entry list.
          def oneFn(fn: JsonNode): (Column, Column) = {
            val keys = fn.fieldNames.asScala.toSet
            val unknownFn = keys -- Set("filter", "weight", "field_value_factor")
            require(unknownFn.isEmpty,
              s"unsupported function_score function(s): ${unknownFn.mkString(", ")} " +
                "(random_score/script_score/decay are out of the declared subset)")
            val cond = Option(fn.get("filter"))
              .map(node(_, scala.collection.mutable.ArrayBuffer[Column](),
                scoring = false, idCol, defaultOr))
              .getOrElse(lit(true))
            val weight = Option(fn.get("weight")).map(posInt(_, "weight"))
            val fvf = Option(fn.get("field_value_factor")).map { b =>
              val unknownF = b.fieldNames.asScala.toSet --
                Set("field", "factor", "modifier", "missing")
              require(unknownF.isEmpty,
                s"unsupported field_value_factor option(s): ${unknownF.mkString(", ")}")
              val f = Option(b.get("field")).filter(_.isTextual).map(_.asText)
                .getOrElse(throw new IllegalArgumentException(
                  "field_value_factor requires 'field'"))
              val factor = Option(b.get("factor")).map(posInt(_, "factor")).getOrElse(1)
              val missing = Option(b.get("missing")).map { n =>
                require(n.isIntegralNumber,
                  s"missing must be an integer (integer-scoring subset), got: $n")
                n.asLong
              }.getOrElse(0L)
              val base = coalesce(col(f), lit(missing)).cast("long") * factor
              Option(b.get("modifier")).map(_.asText).getOrElse("none") match {
                case "none"   => base
                case "square" => base * base
                case m => throw new IllegalArgumentException(
                  s"modifier '$m' is fractional — none/square only (integer-scoring subset)")
              }
            }
            require(weight.isDefined || fvf.isDefined,
              "a function needs 'weight' and/or 'field_value_factor'")
            // ES: weight MULTIPLIES a co-present function value
            val value = (weight, fvf) match {
              case (Some(w), Some(v)) => v * w
              case (Some(w), None)    => lit(w.toLong)
              case (None, Some(v))    => v
              case _ => throw new IllegalStateException("unreachable")
            }
            (cond, value.cast("long"))
          }
          val fns: Seq[(Column, Column)] = Option(body.get("functions")) match {
            case Some(arr) =>
              require(arr.isArray && arr.size > 0,
                "functions must be a non-empty array")
              require(!body.has("weight") && !body.has("field_value_factor"),
                "'functions' and a top-level short-form function are exclusive")
              arr.elements.asScala.toSeq.map(oneFn)
            case None =>
              require(body.has("weight") || body.has("field_value_factor"),
                "function_score needs 'functions' or a short-form function")
              // strip the non-function body keys before the per-function
              // unknown-key check sees them
              val fn = mapper.createObjectNode()
              Seq("weight", "field_value_factor").foreach { k =>
                if (body.has(k)) fn.set(k, body.get(k)) }
              Seq(oneFn(fn))
          }
          val anyMatched = fns.map(_._1).map(c => coalesce(c, lit(false)))
            .reduce(_ || _)
          val scoreMode = Option(body.get("score_mode")).map(_.asText)
            .getOrElse("multiply")
          val combined0: Column = scoreMode match {
            // non-participating functions sit out via the mode's neutral
            // element (multiply 1 / sum 0) or null (greatest/least/coalesce
            // skip nulls) — never a magic sentinel value
            case "multiply" =>
              fns.map { case (c, v) => when(coalesce(c, lit(false)), v).otherwise(1L) }
                .reduce(_ * _)
            case "sum" =>
              fns.map { case (c, v) => when(coalesce(c, lit(false)), v).otherwise(0L) }
                .reduce(_ + _)
            case "max" | "min" =>
              val opts = fns.map { case (c, v) => when(coalesce(c, lit(false)), v) }
              if (opts.size == 1) opts.head
              else if (scoreMode == "max") greatest(opts: _*) else least(opts: _*)
            case "first" =>
              coalesce(fns.map { case (c, v) => when(coalesce(c, lit(false)), v) }: _*)
            case m => throw new IllegalArgumentException(
              s"score_mode '$m' (avg is fractional — " +
                "multiply/sum/max/min/first only)")
          }
          val combined = Option(body.get("max_boost")) match {
            case Some(n) => least(combined0, lit(posInt(n, "max_boost").toLong))
            case None => combined0
          }
          val boosted: Column = Option(body.get("boost_mode")).map(_.asText)
            .getOrElse("multiply") match {
            case "multiply" => queryScore * combined
            case "sum"      => queryScore + combined
            case "max"      => greatest(queryScore, combined)
            case "min"      => least(queryScore, combined)
            case "replace"  => combined
            case m => throw new IllegalArgumentException(
              s"boost_mode '$m' (avg is fractional — " +
                "multiply/sum/max/min/replace only)")
          }
          val finalScore = when(anyMatched, boosted).otherwise(queryScore)
          val pred = Option(body.get("min_score")) match {
            case Some(n) =>
              require(n.isIntegralNumber,
                s"min_score must be an integer (integer-scoring subset), got: $n")
              innerPred && finalScore >= n.asLong
            case None => innerPred
          }
          if (scoring) leaves += when(coalesce(pred, lit(false)), finalScore)
            .otherwise(0L)
          pred
        case "script_score" =>
          // {"script_score":{"query":{...},"script":{"source":"...",
          // "params":{...}},"min_score":N}} — the script REPLACES the
          // query score (ES semantics). Declared subset: the script is the
          // engine's no-script-engine arithmetic grammar ([[Aggs.Script]])
          // over three binding families — `_score` (the inner query's
          // integer score), `doc.<field>` (dotted field access; ES spells
          // it doc['field'].value), `params.<k>` (integral constants from
          // the params object) — and the result is floored to LONG
          // (integer-scoring subset; ES computes doubles). Unknown
          // identifiers fail loud at compile, like every other operator.
          val unknownSs = body.fieldNames.asScala.toSet --
            Set("query", "script", "min_score")
          require(unknownSs.isEmpty,
            s"unsupported script_score option(s): ${unknownSs.mkString(", ")}")
          val innerQss = Option(body.get("query"))
            .getOrElse(mapper.readTree("""{"match_all":{}}"""))
          val innerLeavesSs = scala.collection.mutable.ArrayBuffer[Column]()
          val innerPredSs = node(innerQss, innerLeavesSs, scoring = true, idCol, defaultOr)
          val queryScoreSs = scoreOf(innerLeavesSs.toSeq).cast("long")
          val scriptNode = Option(body.get("script"))
            .getOrElse(throw new IllegalArgumentException("script_score requires 'script'"))
          val src =
            if (scriptNode.isTextual) scriptNode.asText
            else Option(scriptNode.get("source")).filter(_.isTextual).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                "script_score script needs a 'source' string"))
          // the Script grammar strips a `params.` prefix before the
          // binding lookup, so params bind by bare name; `_score` and
          // dotted `doc.<field>` idents bind whole-token
          val params = Option(scriptNode.get("params")).map { p =>
            require(p.isObject, "script_score params must be an object")
            p.properties().asScala.map { e =>
              require(e.getValue.isIntegralNumber,
                s"script_score param '${e.getKey}' must be integral " +
                  s"(integer-scoring subset), got: ${e.getValue}")
              e.getKey -> lit(e.getValue.asLong)
            }.toMap
          }.getOrElse(Map.empty[String, Column])
          val idents = "[A-Za-z_][A-Za-z0-9_.]*".r.findAllIn(src).toSet
          val binding: Map[String, Column] = idents.iterator.map {
            case "_score" => "_score" -> queryScoreSs
            case id if id.startsWith("params.") =>
              val k = id.stripPrefix("params.")
              k -> params.getOrElse(k, throw new IllegalArgumentException(
                s"script_score: param '$k' not declared in params"))
            case id if id.startsWith("doc.") && id.length > 4 =>
              id -> col(id.stripPrefix("doc."))
            case id => throw new IllegalArgumentException(
              s"script_score: unbound identifier '$id' " +
                "(_score, doc.<field>, params.<declared> only)")
          }.toMap
          val rawSs = Aggs.Script.compile(src, binding, "script_score")
          val scriptScore = floor(rawSs.cast("double")).cast("long")
          val predSs = Option(body.get("min_score")) match {
            case Some(n) =>
              require(n.isIntegralNumber,
                s"min_score must be an integer (integer-scoring subset), got: $n")
              innerPredSs && scriptScore >= n.asLong
            case None => innerPredSs
          }
          if (scoring) leaves += when(coalesce(predSs, lit(false)), scriptScore)
            .otherwise(0L)
          predSs
        case "script" =>
          // {"script": {"script": {"source": "doc.f > 10 && …"[,
          //  "params": {...}]}}} (or the short string form) — the
          // painless-lite FILTER: the shared Script grammar over
          // doc.<field> / params.<k> bindings; rows where the boolean
          // expression holds match. A pure row predicate, so it folds
          // into the scan like any other leaf (a non-boolean script fails
          // analysis loud rather than coercing).
          val unknownSq = body.fieldNames.asScala.toSet -- Set("script")
          require(unknownSq.isEmpty,
            s"unsupported script option(s): ${unknownSq.mkString(", ")}")
          val sNode = Option(body.get("script"))
            .getOrElse(throw new IllegalArgumentException(
              "script query needs 'script'"))
          val (src, paramsNode) =
            if (sNode.isTextual) (sNode.asText, None)
            else {
              val unknownSs = sNode.fieldNames.asScala.toSet --
                Set("source", "params", "lang")
              require(unknownSs.isEmpty,
                s"unsupported script option(s): ${unknownSs.mkString(", ")}")
              Option(sNode.get("lang")).foreach(l => require(
                l.isTextual && l.asText == "painless",
                s"script lang must be painless, got: $l"))
              (Option(sNode.get("source")).filter(_.isTextual).map(_.asText)
                .getOrElse(throw new IllegalArgumentException(
                  "script query needs 'source'")),
                Option(sNode.get("params")))
            }
          val sqParams: Map[String, Column] = paramsNode.map { p =>
            require(p.isObject, s"script params must be an object, got: $p")
            p.fields.asScala.map { e =>
              val v = e.getValue
              val c =
                if (v.isIntegralNumber) lit(v.asLong)
                else if (v.isNumber) lit(v.asDouble)
                else if (v.isTextual) lit(v.asText)
                else throw new IllegalArgumentException(
                  s"script param '${e.getKey}' must be a scalar, got: $v")
              e.getKey -> c
            }.toMap
          }.getOrElse(Map.empty)
          val sqIdents = "[A-Za-z_][A-Za-z0-9_.]*".r.findAllIn(src).toSet
          val sqBinding: Map[String, Column] = sqIdents.iterator.map {
            case id if id.startsWith("params.") =>
              val k = id.stripPrefix("params.")
              k -> sqParams.getOrElse(k, throw new IllegalArgumentException(
                s"script query: param '$k' not declared in params"))
            case id if id.startsWith("doc.") && id.length > 4 =>
              id -> col(id.stripPrefix("doc."))
            case id => throw new IllegalArgumentException(
              s"script query: unbound identifier '$id' " +
                "(doc.<field>, params.<declared> only)")
          }.toMap
          val sqc = Aggs.Script.compile(src, sqBinding, "script query")
          if (scoring) leaves += leaf(sqc, 1)
          sqc
        case "constant_score" =>
          // {"constant_score":{"filter":{...},"boost":N}} — the filter
          // matches or not; a matching row scores exactly `boost` for this
          // clause regardless of the filter's internal structure
          val unknown = body.fieldNames.asScala.toSet -- Set("filter", "boost")
          require(unknown.isEmpty,
            s"unsupported constant_score option(s): ${unknown.mkString(", ")}")
          val filterNode = Option(body.get("filter"))
            .getOrElse(throw new IllegalArgumentException("constant_score requires 'filter'"))
          val boost = Option(body.get("boost")).map { n =>
            require(n.isIntegralNumber && n.asInt >= 1,
              s"boost must be a positive integer, got: $n")
            n.asInt
          }.getOrElse(1)
          val inner = node(filterNode, leaves, scoring = false, idCol, defaultOr)
          if (scoring) leaves += leaf(inner, boost)
          inner
        case "match_bool_prefix" =>
          // {"match_bool_prefix":{"f":"quick bro"}} — the type-ahead query:
          // every analyzed term matches as a TERM except the last, which
          // matches as a PREFIX (the word still being typed); terms combine
          // OR by default (`operator` narrows to AND), each its own scoring
          // clause — exactly `match` semantics with a prefixed tail, and
          // unlike match_phrase_prefix, NOT positional
          val (f, vRaw) = singleField(body)
          val (v, boost, mbpAnd) =
            if (!vRaw.isObject) (vRaw, 1, false)
            else {
              val unknown = vRaw.fieldNames.asScala.toSet --
                Set("query", "boost", "operator")
              require(unknown.isEmpty,
                s"unsupported match_bool_prefix option(s): ${unknown.mkString(", ")}")
              val value = Option(vRaw.get("query")).getOrElse(throw
                new IllegalArgumentException(
                  "match_bool_prefix long form requires 'query'"))
              val b = Option(vRaw.get("boost")).map { n =>
                require(n.isIntegralNumber && n.asInt >= 1,
                  s"boost must be a positive integer, got: $n")
                n.asInt
              }.getOrElse(1)
              val a = Option(vRaw.get("operator")).map { n =>
                require(n.isTextual && (n.asText.equalsIgnoreCase("and")
                    || n.asText.equalsIgnoreCase("or")),
                  s"match_bool_prefix operator must be and or or, got: $n")
                n.asText.equalsIgnoreCase("and")
              }.getOrElse(false)
              (value, b, a)
            }
          require(v.isTextual && v.asText.trim.nonEmpty,
            s"match_bool_prefix expects a non-empty string, got: $v")
          val toks = v.asText.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
          val cols = toks.init.map(t => termMatch(col(f), escapeTerm(t))) :+
            termMatch(col(f), escapeTerm(toks.last) + "*")
          if (scoring) cols.foreach(tc => leaves += leaf(tc, boost))
          if (mbpAnd) cols.reduce(_ && _) else cols.reduce(_ || _)
        case "match_phrase_prefix" =>
          // {"match_phrase_prefix":{"f":"quick bro"}} — phrase whose last
          // term is a prefix (contiguous-token + trailing wildcard)
          val (f, vRaw) = singleField(body)
          val (v, boost) =
            if (!vRaw.isObject) (vRaw, 1)
            else {
              val unknown = vRaw.fieldNames.asScala.toSet -- Set("query", "boost")
              require(unknown.isEmpty,
                s"unsupported match_phrase_prefix option(s): ${unknown.mkString(", ")}")
              val value = Option(vRaw.get("query")).getOrElse(throw
                new IllegalArgumentException("match_phrase_prefix long form requires 'query'"))
              val b = Option(vRaw.get("boost")).map { n =>
                require(n.isIntegralNumber && n.asInt >= 1,
                  s"boost must be a positive integer, got: $n")
                n.asInt
              }.getOrElse(1)
              (value, b)
            }
          require(v.isTextual && v.asText.nonEmpty,
            s"match_phrase_prefix expects a non-empty string, got: $v")
          val c = termMatch(col(f), escapeTerm(v.asText) + "*")
          if (scoring) leaves += leaf(c, boost)
          c
        case "span_term" =>
          // positional term leaf; alone it is an exact analyzed-term match
          val (f, v) = singleField(body)
          val text =
            if (v.isTextual) v.asText
            else Option(v.get("value")).filter(_.isTextual).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                s"span_term expects a string or {value: ...}, got: $v"))
          require(text.nonEmpty, "span_term expects a non-empty term")
          val c = termMatch(col(f), escapeTerm(text))
          if (scoring) leaves += leaf(c, 1)
          c
        case "span_field_masking" =>
          // standalone masking is a no-op wrapper in ES too (it only
          // changes which field a COMPOUND sees) — evaluate the inner term
          // on the masking field, consistent with its in-compound meaning
          val (mf, mt) = spanTermOf(mapper.createObjectNode()
            .set[JsonNode]("span_field_masking", body))
          val c = termMatch(col(mf), escapeTerm(mt))
          if (scoring) leaves += leaf(c, 1)
          c
        case "span_near" =>
          // span_term clauses within `slop` intervening tokens of each
          // other. Declared subset: span_term clauses only (no nesting),
          // one shared field (Lucene's own requirement), slop counted PER
          // GAP (Lucene counts total extra positions), and `in_order:
          // false` for exactly two clauses (either order — n! orders for
          // n clauses would explode the pattern)
          val unknownS = body.fieldNames.asScala.toSet --
            Set("clauses", "slop", "in_order")
          require(unknownS.isEmpty,
            s"unsupported span_near option(s): ${unknownS.mkString(", ")}")
          val cl = Option(body.get("clauses")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              "span_near needs 'clauses': [..]"))
          require(cl.size >= 2, "span_near needs at least two clauses")
          val parts = cl.map(spanTermOf)
          val fields = parts.map(_._1).distinct
          require(fields.size == 1,
            s"span_near clauses must share one field, got: ${fields.mkString(", ")}")
          val f = fields.head
          val slop = Option(body.get("slop")).map(_.asInt).getOrElse(0)
          require(slop >= 0, s"span_near slop must be >= 0, got $slop")
          val inOrder = Option(body.get("in_order")).exists(_.asBoolean)
          val gap = "(?:\\s+\\S+){0," + slop + "}\\s+"
          def ordered(ts: Seq[String]) =
            lower(col(f)).rlike("\\b" + ts.map(reQuote).mkString(gap) + "\\b")
          val terms = parts.map(_._2)
          val c =
            if (inOrder) ordered(terms)
            else {
              require(terms.size == 2,
                "span_near in_order:false supports exactly two clauses " +
                  "(declared subset)")
              ordered(terms) || ordered(terms.reverse)
            }
          if (scoring) leaves += leaf(c, 1)
          c
        case "span_first" =>
          // the term's span must END within the first `end` positions:
          // at most end−1 tokens precede it
          val unknownF = body.fieldNames.asScala.toSet -- Set("match", "end")
          require(unknownF.isEmpty,
            s"unsupported span_first option(s): ${unknownF.mkString(", ")}")
          val st = Option(body.get("match")).flatMap(m =>
            Option(m.get("span_term")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              "span_first needs 'match': {span_term: ...} (declared subset)"))
          val (f, v) = singleField(st)
          val t = (if (v.isTextual) v.asText
            else Option(v.get("value")).map(_.asText).getOrElse("")).toLowerCase
          require(t.nonEmpty, "span_term expects a non-empty term")
          val end = Option(body.get("end")).map(_.asInt)
            .getOrElse(throw new IllegalArgumentException("span_first needs 'end'"))
          require(end >= 1, s"span_first end must be >= 1, got $end")
          val c = lower(col(f)).rlike(
            "^\\s*(?:\\S+\\s+){0," + (end - 1) + "}" + reQuote(t) + "\\b")
          if (scoring) leaves += leaf(c, 1)
          c
        case "span_or" =>
          // union of span clauses — a doc matches when ANY clause has a
          // span. Each sub-clause contributes its own integer scoring
          // leaf (the bool-should analog of Lucene's per-span scoring).
          val unknownO = body.fieldNames.asScala.toSet -- Set("clauses")
          require(unknownO.isEmpty,
            s"unsupported span_or option(s): ${unknownO.mkString(", ")}")
          val cl = Option(body.get("clauses")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              "span_or needs 'clauses': [..]"))
          require(cl.nonEmpty, "span_or needs at least one clause")
          val cols = cl.map { c =>
            require(c.isObject && c.size == 1
                && c.fieldNames.asScala.next().startsWith("span_"),
              s"span_or clauses must be span queries, got: $c")
            node(c, leaves, scoring, idCol, defaultOr)
          }
          cols.reduce(_ || _)
        case "span_not" =>
          // spans of `include` that are NOT part of an `exclude` context.
          // Declared subset: include = span_term; exclude = span_near of
          // exactly two span_terms with in_order:true whose first or last
          // clause IS the include term (the "t not followed by u" /
          // "t not preceded by u" shapes) — compiled to a negative
          // lookahead / bounded lookbehind around the include token.
          // ES `pre`/`post` slack stays unsupported (loud).
          val unknownN = body.fieldNames.asScala.toSet -- Set("include", "exclude")
          require(unknownN.isEmpty,
            s"unsupported span_not option(s): ${unknownN.mkString(", ")}")
          val incSt = Option(body.get("include")).flatMap(m =>
            Option(m.get("span_term")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              "span_not needs 'include': {span_term: ...} (declared subset)"))
          val (f, incV) = singleField(incSt)
          val incT = (if (incV.isTextual) incV.asText
            else Option(incV.get("value")).map(_.asText).getOrElse("")).toLowerCase
          require(incT.nonEmpty, "span_term expects a non-empty term")
          val exSn = Option(body.get("exclude")).flatMap(m =>
            Option(m.get("span_near")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              "span_not needs 'exclude': {span_near: ...} (declared subset)"))
          val unknownE = exSn.fieldNames.asScala.toSet --
            Set("clauses", "slop", "in_order")
          require(unknownE.isEmpty,
            s"unsupported span_not exclude option(s): ${unknownE.mkString(", ")}")
          require(Option(exSn.get("in_order")).exists(_.asBoolean),
            "span_not exclude span_near must set in_order: true (declared subset)")
          val exCl = Option(exSn.get("clauses")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              "span_not exclude needs 'clauses': [..]"))
          require(exCl.size == 2,
            "span_not exclude supports exactly two span_term clauses (declared subset)")
          val exParts = exCl.map { c =>
            val st = Option(c.get("span_term")).filter(_.isObject)
              .getOrElse(throw new IllegalArgumentException(
                "span_not exclude clauses must be span_term objects"))
            val (ef, ev) = singleField(st)
            val t = (if (ev.isTextual) ev.asText
              else Option(ev.get("value")).map(_.asText).getOrElse("")).toLowerCase
            require(t.nonEmpty, "span_term expects a non-empty term")
            (ef, t)
          }
          require(exParts.forall(_._1 == f),
            "span_not include and exclude must share one field")
          val exSlop = Option(exSn.get("slop")).map(_.asInt).getOrElse(0)
          require(exSlop >= 0, s"span_near slop must be >= 0, got $exSlop")
          require(exParts.head._2 == incT || exParts(1)._2 == incT,
            "span_not exclude must contain the include term as its first or " +
              "last clause (declared subset)")
          // when the include term is BOTH endpoints (e.g. include 'fox',
          // exclude [fox,fox]), greedy non-overlapping stripping can leave
          // a survivor Lucene would exclude — out of the declared subset
          require(!(exParts.head._2 == incT && exParts(1)._2 == incT),
            "span_not exclude with the include term at both endpoints " +
              "diverges from Lucene overlap semantics (declared subset)")
          // strip every excluded bigram span, then test for a SURVIVING
          // include occurrence. Sound for this subset: a greedy
          // non-overlapping "first gap last" match only ever consumes
          // include occurrences that are themselves within `slop` of the
          // context term (i.e. excluded); lookbehind is not an option
          // (Java requires a bounded maximum; the \s+ gaps are unbounded)
          // and this formulation is RE2-expressible for the oracle too.
          val gapN = "(?:\\s+\\S+){0," + exSlop + "}\\s+"
          val exPat = "\\b" + reQuote(exParts.head._2) + gapN +
            reQuote(exParts(1)._2) + "\\b"
          val c = regexp_replace(lower(col(f)), exPat, "")
            .rlike("\\b" + reQuote(incT) + "\\b")
          if (scoring) leaves += leaf(c, 1)
          c
        case key @ ("span_containing" | "span_within") =>
          // {big: {span_near: ...}, little: {span_term: ...}} — spans of
          // `big` that contain a `little` span. `span_containing` returns
          // the big span, `span_within` the little one; at the engine's
          // document granularity the MATCH SET is identical (Lucene
          // differs only in which span is scored), so both compile to the
          // same predicate. Declared subset: big = span_near of exactly
          // two span_terms with in_order:true, little = span_term on the
          // same field. Compiled as an exact alternation over the little
          // term's position inside the big window (an endpoint, or gap
          // token #i with the remaining gap budget slop−1−i) — each
          // alternative pins the split, so the slop budget is never
          // double-spent.
          val unknownCw = body.fieldNames.asScala.toSet -- Set("big", "little")
          require(unknownCw.isEmpty,
            s"unsupported $key option(s): ${unknownCw.mkString(", ")}")
          val litSt = Option(body.get("little")).flatMap(m =>
            Option(m.get("span_term")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              s"$key needs 'little': {span_term: ...} (declared subset)"))
          val (litF, litV) = singleField(litSt)
          val litT = (if (litV.isTextual) litV.asText
            else Option(litV.get("value")).map(_.asText).getOrElse("")).toLowerCase
          require(litT.nonEmpty, "span_term expects a non-empty term")
          val bigSn = Option(body.get("big")).flatMap(m =>
            Option(m.get("span_near")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              s"$key needs 'big': {span_near: ...} (declared subset)"))
          val unknownBg = bigSn.fieldNames.asScala.toSet --
            Set("clauses", "slop", "in_order")
          require(unknownBg.isEmpty,
            s"unsupported $key big option(s): ${unknownBg.mkString(", ")}")
          require(Option(bigSn.get("in_order")).exists(_.asBoolean),
            s"$key big span_near must set in_order: true (declared subset)")
          val bigCl = Option(bigSn.get("clauses")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              s"$key big needs 'clauses': [..]"))
          require(bigCl.size == 2,
            s"$key big supports exactly two span_term clauses (declared subset)")
          val bigParts = bigCl.map { c =>
            val st = Option(c.get("span_term")).filter(_.isObject)
              .getOrElse(throw new IllegalArgumentException(
                s"$key big clauses must be span_term objects"))
            val (bf, bv) = singleField(st)
            val t = (if (bv.isTextual) bv.asText
              else Option(bv.get("value")).map(_.asText).getOrElse("")).toLowerCase
            require(t.nonEmpty, "span_term expects a non-empty term")
            (bf, t)
          }
          require(bigParts.forall(_._1 == litF),
            s"$key big and little must share one field")
          val bigSlop = Option(bigSn.get("slop")).map(_.asInt).getOrElse(0)
          require(bigSlop >= 0, s"span_near slop must be >= 0, got $bigSlop")
          val (bgA, bgB) = (bigParts.head._2, bigParts(1)._2)
          val pats = scala.collection.mutable.ArrayBuffer[String]()
          if (litT == bgA || litT == bgB)
            // the little term IS an endpoint: every big span contains it
            pats += ("\\b" + reQuote(bgA) + "\\b(?:\\s+\\S+){0," + bigSlop +
              "}\\s+" + reQuote(bgB) + "\\b")
          for (i <- 0 until bigSlop)
            pats += ("\\b" + reQuote(bgA) + "\\b(?:\\s+\\S+){" + i + "}\\s+" +
              reQuote(litT) + "\\b(?:\\s+\\S+){0," + (bigSlop - 1 - i) +
              "}\\s+" + reQuote(bgB) + "\\b")
          // slop 0 with a non-endpoint little term: no gap token can ever
          // hold it — an empty result, not an error (ES matches nothing)
          val c = pats.map(p => lower(col(litF)).rlike(p))
            .reduceOption(_ || _).getOrElse(lit(false))
          if (scoring) leaves += leaf(c, 1)
          c
        case "span_multi" =>
          // {"span_multi":{"match":{prefix|wildcard|regexp|fuzzy: ...}}} —
          // a multi-term query lifted into span context. The engine's span
          // composition is regex-over-text, so span_multi is supported
          // where a whole-document span predicate suffices (top level,
          // span_or clauses); span_near still takes span_term clauses only
          // (declared there, loud). One integer leaf like other spans.
          val unknownSm = body.fieldNames.asScala.toSet -- Set("match")
          require(unknownSm.isEmpty,
            s"unsupported span_multi option(s): ${unknownSm.mkString(", ")}")
          val m = Option(body.get("match")).filter(n => n.isObject && n.size == 1)
            .getOrElse(throw new IllegalArgumentException(
              "span_multi needs 'match': {<multi-term query>}"))
          val mk = m.fieldNames.asScala.next()
          require(Set("prefix", "wildcard", "regexp", "fuzzy")(mk),
            s"span_multi match must be prefix/wildcard/regexp/fuzzy, got: $mk")
          val c = node(m, scala.collection.mutable.ArrayBuffer[Column](),
            scoring = false, idCol, defaultOr)
          if (scoring) leaves += leaf(c, 1)
          c
        case "intervals" =>
          // {"intervals": {FIELD: {match|prefix|wildcard|any_of|all_of}}}
          // — Lucene's interval queries in the regex-expressible subset.
          // `match` analyzes multi-word text; `max_gaps` budgets foreign
          // tokens PER GAP (declared divergence: Lucene budgets the total
          // interval width — the per-gap form is the regex-expressible
          // subset, consistent with match_phrase slop); `ordered` defaults
          // false (ES parity). Unordered+bounded is two terms only;
          // unordered+unbounded is an AND of term predicates (exactly
          // ES semantics at document granularity). `all_of` composes
          // single-term sub-rules under one ordered/max_gaps budget;
          // `any_of` is a union. `filter`/`fuzzy`/`use_field`/`analyzer`
          // rules stay out (loud). Scores ONE leaf per intervals query
          // (like query_string), regardless of inner rule count.
          val (iF, rootRule) = singleField(body)
          def singleTok(r: JsonNode): Option[String] =
            if (r.isObject && r.size == 1 && r.has("match")) {
              val mb = r.get("match")
              Option(mb.get("query")).filter(_.isTextual).map(_.asText.trim)
                .filter(t => t.nonEmpty && !t.exists(_.isWhitespace) &&
                  mb.fieldNames.asScala.toSet == Set("query"))
            } else None
          def compileRule(r: JsonNode): Column = {
            require(r.isObject && r.size == 1,
              s"an intervals rule is one object of match/prefix/wildcard/" +
                s"any_of/all_of, got: $r")
            val rk = r.fieldNames.asScala.next()
            val rb = r.get(rk)
            rk match {
              case "match" =>
                val unknownIm = rb.fieldNames.asScala.toSet --
                  Set("query", "max_gaps", "ordered")
                require(unknownIm.isEmpty,
                  s"unsupported intervals match option(s): ${unknownIm.mkString(", ")}")
                val q = Option(rb.get("query")).filter(_.isTextual).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "intervals match needs 'query'"))
                val toks = q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
                require(toks.nonEmpty, "intervals match query must be non-empty")
                val maxGaps = Option(rb.get("max_gaps")).map(_.asInt).getOrElse(-1)
                val ordered = Option(rb.get("ordered")).exists(_.asBoolean)
                if (toks.size == 1) termMatch(col(iF), escapeTerm(toks.head))
                else if (ordered && maxGaps < 0)
                  // in order, any distance: tokens chained by a free gap
                  lower(col(iF)).rlike(toks.map(t => "\\b" + reQuote(t) + "\\b")
                    .mkString("[\\s\\S]*"))
                else if (ordered)
                  proximityMatch(iF, toks.mkString(" "), maxGaps)
                else if (maxGaps < 0)
                  // any order, any distance = every term present
                  toks.map(t => termMatch(col(iF), escapeTerm(t))).reduce(_ && _)
                else {
                  require(toks.size == 2,
                    "intervals match unordered with max_gaps supports exactly " +
                      "two terms (declared subset)")
                  proximityMatch(iF, toks.mkString(" "), maxGaps) ||
                    proximityMatch(iF, toks.reverse.mkString(" "), maxGaps)
                }
              case "prefix" =>
                val p = Option(rb.get("prefix")).filter(_.isTextual).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "intervals prefix needs 'prefix'"))
                require(p.nonEmpty, "intervals prefix must be non-empty")
                termMatch(col(iF), escapeTerm(p) + "*")
              case "wildcard" =>
                val p = Option(rb.get("pattern")).filter(_.isTextual).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "intervals wildcard needs 'pattern'"))
                require(p.nonEmpty, "intervals wildcard pattern must be non-empty")
                termMatch(col(iF), p)
              case "any_of" =>
                val cl = Option(rb.get("intervals")).filter(_.isArray)
                  .map(_.elements.asScala.toSeq)
                  .getOrElse(throw new IllegalArgumentException(
                    "intervals any_of needs 'intervals': [..]"))
                require(cl.nonEmpty, "intervals any_of needs at least one rule")
                cl.map(compileRule).reduce(_ || _)
              case "all_of" =>
                val unknownAo = rb.fieldNames.asScala.toSet --
                  Set("intervals", "ordered", "max_gaps")
                require(unknownAo.isEmpty,
                  s"unsupported intervals all_of option(s): ${unknownAo.mkString(", ")}")
                val cl = Option(rb.get("intervals")).filter(_.isArray)
                  .map(_.elements.asScala.toSeq)
                  .getOrElse(throw new IllegalArgumentException(
                    "intervals all_of needs 'intervals': [..]"))
                require(cl.nonEmpty, "intervals all_of needs at least one rule")
                val ordered = Option(rb.get("ordered")).exists(_.asBoolean)
                val maxGaps = Option(rb.get("max_gaps")).map(_.asInt).getOrElse(-1)
                if (!ordered && maxGaps < 0)
                  // positions unconstrained: the conjunction of sub-rules,
                  // each of any supported shape
                  cl.map(compileRule).reduce(_ && _)
                else {
                  // a positional budget needs literal tokens: every
                  // sub-rule must be a single-term match (declared subset)
                  val toks = cl.map(c => singleTok(c).getOrElse(
                    throw new IllegalArgumentException(
                      "intervals all_of with ordered/max_gaps supports " +
                        "single-term match sub-rules only (declared subset)")))
                  if (ordered && maxGaps < 0)
                    // in order, any distance: tokens chained by a free gap
                    lower(col(iF)).rlike(toks.map(t => "\\b" + reQuote(t) +
                      "\\b").mkString("[\\s\\S]*"))
                  else if (ordered) {
                    // fail loud past the regex engine's sane repetition
                    // bound rather than silently narrowing the budget
                    require(maxGaps <= 1000,
                      "intervals all_of ordered supports max_gaps <= 1000 " +
                        "(declared subset)")
                    proximityMatch(iF, toks.mkString(" "), maxGaps)
                  } else {
                    require(toks.size == 2,
                      "intervals all_of unordered with max_gaps supports " +
                        "exactly two sub-rules (declared subset)")
                    require(maxGaps <= 1000,
                      "intervals all_of unordered supports max_gaps <= 1000 " +
                        "(declared subset)")
                    proximityMatch(iF, toks.mkString(" "), maxGaps) ||
                      proximityMatch(iF, toks.reverse.mkString(" "), maxGaps)
                  }
                }
              case other => throw new IllegalArgumentException(
                s"unsupported intervals rule '$other' (match/prefix/wildcard/" +
                  "any_of/all_of; fuzzy/filter stay out of the declared subset)")
            }
          }
          val c = compileRule(rootRule)
          if (scoring) leaves += leaf(c, 1)
          c
        case "wrapper" =>
          // {"wrapper": {"query": "<base64 of a query JSON>"}} — ES's
          // escape hatch for clients that must smuggle a query through a
          // string-typed config slot. Decode, parse, compile in place;
          // scoring flows through the inner query unchanged.
          val unknownW = body.fieldNames.asScala.toSet -- Set("query")
          require(unknownW.isEmpty,
            s"unsupported wrapper option(s): ${unknownW.mkString(", ")}")
          val qn = Option(body.get("query")).filter(_.isTextual)
            .getOrElse(throw new IllegalArgumentException(
              "wrapper needs 'query': \"<base64>\""))
          val decoded =
            try new String(java.util.Base64.getDecoder.decode(qn.asText),
              java.nio.charset.StandardCharsets.UTF_8)
            catch {
              case e: IllegalArgumentException => throw new IllegalArgumentException(
                s"wrapper query is not valid base64: ${e.getMessage}")
            }
          val inner =
            try mapper.readTree(decoded)
            catch {
              case e: Exception => throw new IllegalArgumentException(
                s"wrapper query does not decode to JSON: ${e.getMessage}")
            }
          node(inner, leaves, scoring, idCol, defaultOr)
        case "terms_set" =>
          // {"terms_set":{"f":{"terms":[...],"minimum_should_match_field":
          // "m"}}} — at least <per-doc threshold> of the terms must match
          // the field. Terms match ANALYZED (token model, like `match`) —
          // the engine's analog of ES's indexed-token term matching.
          // `minimum_should_match` (literal integer, ES 8.10+) is also
          // accepted; `minimum_should_match_script` stays out (no script
          // engine — loud). Scores one integer leaf, like `terms`.
          val (f, spec) = singleField(body)
          require(spec.isObject, s"terms_set expects an object body, got: $spec")
          val unknownTs = spec.fieldNames.asScala.toSet --
            Set("terms", "minimum_should_match_field", "minimum_should_match")
          require(unknownTs.isEmpty,
            s"unsupported terms_set option(s): ${unknownTs.mkString(", ")} " +
              "(minimum_should_match_script needs a script engine)")
          val termsNode = Option(spec.get("terms")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              "terms_set needs 'terms': [..]"))
          val ts = termsNode.elements.asScala.toSeq.map { t =>
            require(t.isTextual && t.asText.nonEmpty,
              s"terms_set terms must be non-empty strings, got: $t")
            t.asText
          }
          require(ts.nonEmpty, "terms_set needs at least one term")
          val msmField = Option(spec.get("minimum_should_match_field"))
            .map { n =>
              require(n.isTextual && n.asText.nonEmpty,
                s"minimum_should_match_field must be a field name, got: $n")
              n.asText
            }
          val msmLit = Option(spec.get("minimum_should_match")).map { n =>
            require(n.isIntegralNumber && n.asInt >= 0,
              s"minimum_should_match must be a non-negative integer, got: $n")
            n.asInt
          }
          require(msmField.isDefined != msmLit.isDefined,
            "terms_set needs exactly one of minimum_should_match_field / " +
              "minimum_should_match")
          val matchedN = ts
            .map(t => when(termMatch(col(f), escapeTerm(t)), 1).otherwise(0))
            .reduce(_ + _)
          // unclamped, like ES: a per-doc threshold larger than terms.size
          // simply matches nothing (ES users clamp via a script; we don't)
          // — and a null threshold field matches nothing rather than
          // everything
          val threshold = msmField.map(m => coalesce(col(m), lit(Int.MaxValue)))
            .getOrElse(lit(msmLit.get))
          val c = matchedN >= threshold && matchedN > 0
          if (scoring) leaves += leaf(c, 1)
          c
        case "pinned" =>
          // {"pinned":{"ids":[...],"organic":{...}}} — promoted docs rank
          // ABOVE every organic hit, in the given order. Integer-scoring
          // shape: pinned id i of n gets one leaf worth 1_000_000 * (n-i);
          // organic leaves keep their normal weights. Declared subset: the
          // organic score must stay below 1_000_000 (true for every
          // integer-subset query — boosts are small ints), so pinned
          // ordering can never be crossed by organic accumulation.
          val unknownP = body.fieldNames.asScala.toSet -- Set("ids", "organic")
          require(unknownP.isEmpty,
            s"unsupported pinned option(s): ${unknownP.mkString(", ")} " +
              "('docs' per-index pinning has no analog here)")
          val idsNode = Option(body.get("ids")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              "pinned needs 'ids': [..]"))
          val pinIds = idsNode.elements.asScala.toSeq.map(scalarOf)
          require(pinIds.nonEmpty, "pinned needs at least one id")
          val organic = Option(body.get("organic"))
            .getOrElse(throw new IllegalArgumentException(
              "pinned needs 'organic': {..}"))
          val orgPred = node(organic, leaves, scoring, idCol, defaultOr)
          val n = pinIds.size
          if (scoring) pinIds.zipWithIndex.foreach { case (id, i) =>
            leaves += when(col(idCol) === lit(id), lit(1000000L) * (n - i))
              .otherwise(0L)
          }
          orgPred || col(idCol).isin(pinIds: _*)
        case "rule" =>
          // ES query rules, self-contained: {"rule": {"organic": {...},
          //  "match_criteria": {k: v, ...}, "ruleset": [{"criteria":
          //  {k: v}, "pinned_ids": [...], "excluded_ids": [...]}, ...]}}.
          // A rule FIRES when every criteria entry equals the request's
          // match_criteria value (ES's `exact` rule type); firing rules
          // pool their pinned ids (promoted with the pinned-query scoring
          // shape, request order) and excluded ids (dropped — exclusion
          // wins over pinning, ES 8.16 exclude semantics). DECLARED
          // ANALOG: the ruleset rides in the body instead of a stored
          // ruleset id — this engine has no mutable rule store.
          val unknownR = body.fieldNames.asScala.toSet --
            Set("organic", "match_criteria", "ruleset")
          require(unknownR.isEmpty,
            s"unsupported rule option(s): ${unknownR.mkString(", ")}")
          val rOrganic = Option(body.get("organic"))
            .getOrElse(throw new IllegalArgumentException(
              "rule needs 'organic': {..}"))
          val mcNode = Option(body.get("match_criteria")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException(
              "rule needs 'match_criteria': {..}"))
          val mc = mcNode.fieldNames.asScala.map(k =>
            k -> mcNode.get(k).asText).toMap
          val ruleset = Option(body.get("ruleset")).filter(_.isArray)
            .map(_.elements.asScala.toSeq)
            .getOrElse(throw new IllegalArgumentException(
              "rule needs 'ruleset': [..]"))
          require(ruleset.nonEmpty, "rule needs at least one ruleset entry")
          val active = ruleset.filter { r =>
            val unknownRe = r.fieldNames.asScala.toSet --
              Set("criteria", "pinned_ids", "excluded_ids")
            require(unknownRe.isEmpty,
              s"unsupported ruleset entry option(s): ${unknownRe.mkString(", ")}")
            val cNode = Option(r.get("criteria")).filter(_.isObject)
              .getOrElse(throw new IllegalArgumentException(
                "ruleset entry needs 'criteria': {..}"))
            cNode.fieldNames.asScala.forall(k =>
              mc.get(k).contains(cNode.get(k).asText))
          }
          def idsOf(r: JsonNode, key: String): Seq[Any] =
            Option(r.get(key)).filter(_.isArray)
              .map(_.elements.asScala.toSeq.map(scalarOf)).getOrElse(Nil)
          val exIds = active.flatMap(idsOf(_, "excluded_ids")).distinct
          val pinIds2 = active.flatMap(idsOf(_, "pinned_ids")).distinct
            .filterNot(exIds.contains)
          val orgPred2 = node(rOrganic, leaves, scoring, idCol, defaultOr)
          if (scoring) pinIds2.zipWithIndex.foreach { case (id, i) =>
            leaves += when(col(idCol) === lit(id),
              lit(1000000L) * (pinIds2.size - i)).otherwise(0L)
          }
          val base =
            if (pinIds2.isEmpty) orgPred2
            else orgPred2 || col(idCol).isin(pinIds2: _*)
          if (exIds.isEmpty) base
          else base && !col(idCol).isin(exIds: _*)
        case "combined_fields" =>
          // {"combined_fields":{"query":"a b","fields":["f1","f2"],
          // "operator":"or"}} — TERM-centric multi-field match: each
          // analyzed term matches if it appears in ANY of the fields (ES
          // models the fields as one combined field), and `operator`
          // combines the per-term constraints. One scoring leaf per term
          // (the combined-field analog of match's per-term leaves);
          // per-field ^boosts are rejected — ES requires term-centric
          // weights to agree, and the integer subset keeps them at 1.
          val unknownC = body.fieldNames.asScala.toSet --
            Set("query", "fields", "operator")
          require(unknownC.isEmpty,
            s"unsupported combined_fields option(s): ${unknownC.mkString(", ")}")
          val qv = Option(body.get("query")).filter(_.isTextual)
            .getOrElse(throw new IllegalArgumentException(
              "combined_fields requires 'query'"))
          require(qv.asText.trim.nonEmpty,
            "combined_fields expects a non-empty string query")
          val fieldsNode = Option(body.get("fields")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              "combined_fields requires 'fields'"))
          val cfFields = fieldsNode.elements.asScala.toSeq.map { fn =>
            require(fn.isTextual && fn.asText.nonEmpty,
              s"combined_fields field must be a string, got: $fn")
            require(!fn.asText.contains("^"),
              "combined_fields rejects per-field boosts (term-centric scoring)")
            fn.asText
          }
          require(cfFields.nonEmpty, "combined_fields expects a non-empty fields array")
          val cfAnd = Option(body.get("operator")).map { n =>
            require(n.isTextual && (n.asText.equalsIgnoreCase("and")
                || n.asText.equalsIgnoreCase("or")),
              s"combined_fields operator must be and or or, got: $n")
            n.asText.equalsIgnoreCase("and")
          }.getOrElse(false)
          val toks = qv.asText.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
          val perTerm = toks.map(t =>
            cfFields.map(f => termMatch(col(f), escapeTerm(t))).reduce(_ || _))
          if (scoring) perTerm.foreach(tc => leaves += leaf(tc, 1))
          if (cfAnd) perTerm.reduce(_ && _) else perTerm.reduce(_ || _)
        case "bool" =>
          val must = clauseList(body, "must").map(node(_, leaves, scoring, idCol, defaultOr))
          val filter = clauseList(body, "filter").map(node(_, leaves, scoring = false, idCol, defaultOr))
          val mustNot = clauseList(body, "must_not").map(node(_, leaves, scoring = false, idCol, defaultOr))
          val should = clauseList(body, "should").map(node(_, leaves, scoring, idCol, defaultOr))
          // ES must_not matches when the clause is false OR the field is
          // absent — null-safe negation (see Lucene Not above)
          val positive = must ++ filter
          val req = positive ++ mustNot.map(c => !coalesce(c, lit(false)))
          val base = if (req.nonEmpty) req.reduce(_ && _) else lit(true)
          // ES minimum_should_match: explicit value wins; default is
          // 0 when must/filter present (should = scoring only), else 1 —
          // must_not does NOT count as a positive clause, so
          // should+must_not alone still requires at least one should match.
          // Supported forms: positive/negative integers and percentages
          // ("75%" = floor of the clause count; negative = how many may be
          // MISSING). Combination forms ("3<90%") stay rejected — they
          // would silently mis-count.
          val msm = Option(body.get("minimum_should_match")).map { n =>
            val total = should.size
            def fromInt(v: Int) = if (v >= 0) v else total + v
            if (n.isIntegralNumber) fromInt(n.asInt)
            else {
              require(n.isTextual,
                s"minimum_should_match must be an integer or percentage, got: $n")
              val t = n.asText.trim
              val pct = "^(-?\\d+)%$".r
              t match {
                case pct(p) =>
                  val v = p.toInt
                  if (v >= 0) v * total / 100
                  else total - (-v) * total / 100
                case _ if t.matches("-?\\d+") => fromInt(t.toInt)
                case _ => throw new IllegalArgumentException(
                  s"unsupported minimum_should_match form '$t' " +
                    "(integer or percentage)")
              }
            }
          }.getOrElse(if (positive.nonEmpty) 0 else 1)
          if (should.isEmpty || msm <= 0) base
          else if (msm == 1) base && should.reduce(_ || _)
          else {
            val matched = should
              .map(c => when(coalesce(c, lit(false)), 1).otherwise(0))
              .reduce(_ + _)
            base && (matched >= msm)
          }
        case other => throw new IllegalArgumentException(s"unsupported operator '$other'")
      }
    }

    private def clauseList(body: JsonNode, key: String): Seq[JsonNode] =
      Option(body.get(key)).toSeq.flatMap { n =>
        if (n.isArray) n.elements.asScala.toSeq else Seq(n)
      }

    private def singleField(body: JsonNode): (String, JsonNode) = {
      val f = body.fieldNames.asScala.next()
      (f, body.get(f))
    }

    /** A span-compound clause: a `span_term`, or a `span_field_masking`
      * wrapping one. Masking re-homes the inner clause onto `field` — the
      * ES idiom for mixing a differently-analyzed SUBFIELD of the same
      * source text into one span_near. In this engine spans evaluate by
      * position over the field's raw text, so the masked clause's term is
      * matched against the MASKING field (sound exactly when both fields
      * carry the same source text — ES's own documented constraint that
      * masked span positions are only meaningful for same-source fields). */
    private def spanTermOf(c: JsonNode): (String, String) = {
      def termOf(st: JsonNode): (String, String) = {
        val (f, v) = singleField(st)
        val t = if (v.isTextual) v.asText
          else Option(v.get("value")).map(_.asText).getOrElse("")
        require(t.nonEmpty, "span_term expects a non-empty term")
        (f, t.toLowerCase)
      }
      Option(c.get("span_field_masking")).filter(_.isObject) match {
        case Some(m) =>
          val unknownM = m.fieldNames.asScala.toSet -- Set("query", "field")
          require(unknownM.isEmpty,
            s"unsupported span_field_masking option(s): ${unknownM.mkString(", ")}")
          val maskF = Option(m.get("field")).filter(_.isTextual).map(_.asText)
            .getOrElse(throw new IllegalArgumentException(
              "span_field_masking needs 'field'"))
          val inner = Option(m.get("query"))
            .flatMap(q => Option(q.get("span_term")).filter(_.isObject))
            .getOrElse(throw new IllegalArgumentException(
              "span_field_masking needs 'query': {span_term: ...} (declared subset)"))
          (maskF, termOf(inner)._2)
        case None =>
          val st = Option(c.get("span_term")).filter(_.isObject)
            .getOrElse(throw new IllegalArgumentException(
              "span compound clauses must be span_term or span_field_masking " +
                "objects (declared subset)"))
          termOf(st)
      }
    }

    private def scalarOf(n: JsonNode): Any =
      if (n.isTextual) n.asText
      else if (n.isIntegralNumber) n.asLong
      else if (n.isNumber) n.asDouble
      else if (n.isBoolean) n.asBoolean
      else throw new IllegalArgumentException(s"unsupported literal: $n")
  }
}
