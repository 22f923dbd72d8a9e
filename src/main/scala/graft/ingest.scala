package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** S4: ES ingest-pipeline analog — a named document transform applied on the
  * insert path before documents reach the store.
  *
  * The reference registers one ES ingest pipeline per type at index setup
  * (`PUT /_ingest/pipeline/<type>`, reference: ElasticIndex.java:403-417,
  * requests/UpdatePipeline.java:44-47) from the `pipeline-<type>` config
  * option (IndexConfig.java:110-111, IndexConfiguration.java:91-93), and
  * switches writes to the `index` action when a pipeline exists — "Pipelines
  * can only be used with index or bulk" (ElasticIndex.java:595-605, 868).
  *
  * Here the pipeline definition is the same JSON shape
  * (`{"processors":[{...}, ...]}`) but compiles to a `DataFrame =>
  * DataFrame` of Column expressions — every processor is declarative, stays
  * inside whole-stage codegen, and pushes through the write path with zero
  * per-row interpretation. Declared processor subset (ES 5.5 ingest
  * processors the reference's pipelines target):
  *
  *  - `set` `{field, value, override?}` — literal assignment; with
  *    `override:false` only fills nulls / missing columns;
  *  - `remove` `{field}` — drop the column;
  *  - `rename` `{field, target_field}`;
  *  - `lowercase` / `uppercase` / `trim` `{field}`;
  *  - `gsub` `{field, pattern, replacement}` — regex replace-all;
  *  - `convert` `{field, type}` — cast to integer/long/float/double/
  *    string/boolean.
  *
  * Unknown processors and malformed bodies are rejected eagerly at compile
  * (same policy as [[QueryCompiler]]: loud, never silently dropped).
  */
object IngestPipeline {
  private val mapper = new ObjectMapper()

  /** Compile a pipeline definition to a DataFrame transform. */
  def compile(json: String): DataFrame => DataFrame = {
    val root = mapper.readTree(json)
    require(root != null && root.isObject, "pipeline must be a JSON object")
    val procs = Option(root.get("processors"))
      .getOrElse(throw new IllegalArgumentException("pipeline requires 'processors'"))
    require(procs.isArray, "'processors' must be an array")
    val steps = procs.elements.asScala.map(step).toSeq
    df => steps.foldLeft(df)((d, s) => s(d))
  }

  /** Eager validation: `Left(message)` instead of a throw (R11 policy). */
  def validate(json: String): Either[String, DataFrame => DataFrame] =
    try Right(compile(json)) catch {
      case e: Exception => Left(String.valueOf(e.getMessage))
    }

  private def step(n: JsonNode): DataFrame => DataFrame = {
    require(n.isObject && n.size == 1, s"expected single-processor object, got: $n")
    val op = n.fieldNames.asScala.next()
    val body = n.get(op)
    def field: String = {
      val f = Option(body.get("field"))
        .getOrElse(throw new IllegalArgumentException(s"$op requires 'field'"))
      require(f.isTextual && f.asText.nonEmpty, s"$op 'field' must be a non-empty string")
      f.asText
    }
    def text(key: String): String = {
      val v = Option(body.get(key))
        .getOrElse(throw new IllegalArgumentException(s"$op requires '$key'"))
      require(v.isTextual, s"$op '$key' must be a string")
      v.asText
    }
    op match {
      case "set" =>
        val f = field
        val v = Option(body.get("value"))
          .getOrElse(throw new IllegalArgumentException("set requires 'value'"))
        val value =
          if (v.isTextual) lit(v.asText)
          else if (v.isIntegralNumber) lit(v.asLong)
          else if (v.isNumber) lit(v.asDouble)
          else if (v.isBoolean) lit(v.asBoolean)
          else throw new IllegalArgumentException(s"unsupported set value: $v")
        val overrideExisting = Option(body.get("override")).map { o =>
          // a string "true"/"false" (common YAML/JSON round-trip damage)
          // must be rejected, not silently coerced to override=false
          require(o.isBoolean, s"set 'override' must be a boolean, got: $o")
          o.asBoolean
        }.getOrElse(true) // ES default: override
        df =>
          if (!df.columns.contains(f)) df.withColumn(f, value)
          else if (overrideExisting) df.withColumn(f, value)
          else df.withColumn(f, coalesce(col(f), value)) // fill nulls only
      case "remove" =>
        val f = field; df => df.drop(f)
      case "rename" =>
        val f = field; val t = text("target_field")
        df => {
          require(!df.columns.contains(t),
            s"rename target '$t' already exists") // ES pipeline fails the doc too
          df.withColumnRenamed(f, t)
        }
      case "lowercase" => val f = field; df => df.withColumn(f, lower(col(f)))
      case "uppercase" => val f = field; df => df.withColumn(f, upper(col(f)))
      case "trim"      => val f = field; df => df.withColumn(f, trim(col(f)))
      case "gsub" =>
        val f = field; val p = text("pattern"); val r = text("replacement")
        df => df.withColumn(f, regexp_replace(col(f), p, r))
      case "convert" =>
        val f = field
        val t = text("type") match {
          case "integer" => "int"
          case "long" | "float" | "double" | "string" | "boolean" => text("type")
          case other => throw new IllegalArgumentException(s"convert type '$other'")
        }
        df => df.withColumn(f, col(f).cast(t))
      case "split" =>
        // {field, separator} — string → array on a LITERAL separator
        val f = field; val sep = text("separator")
        df => df.withColumn(f,
          split(col(f), java.util.regex.Pattern.quote(sep)))
      case "join" =>
        val f = field; val sep = text("separator")
        df => df.withColumn(f, array_join(col(f), sep))
      case "dissect" =>
        // {field, pattern} — "%{a}<sep>%{b}" to one anchored regex, one
        // new column per key; non-matching rows yield nulls (ES's
        // ignore_failure-free behavior is per-doc failure — nulls are the
        // columnar analog, same contract as ES|QL DISSECT)
        Esql.dissectOn(field, text("pattern"), "dissect")
      case "fingerprint" =>
        // {fields: [...], target_field?, method?} — stable content hash of
        // the listed fields joined with the ES separator; sha1 default
        val fsNode = Option(body.get("fields")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            "fingerprint requires 'fields': [..]"))
        val fs = fsNode.elements.asScala.toSeq.map(_.asText)
        require(fs.nonEmpty, "fingerprint needs at least one field")
        val target = Option(body.get("target_field")).map(_.asText)
          .getOrElse("fingerprint")
        val joined = concat_ws("|", fs.map(f => col(f).cast("string")): _*)
        Option(body.get("method")).map(_.asText).getOrElse("SHA-1") match {
          case "SHA-1" => df => df.withColumn(target, sha1(joined))
          case "SHA-256" => df => df.withColumn(target, sha2(joined, 256))
          case "MD5" => df => df.withColumn(target, md5(joined))
          case other => throw new IllegalArgumentException(
            s"fingerprint method '$other' (SHA-1/SHA-256/MD5)")
        }
      case "date" =>
        // {field, formats: [f], target_field?} — declared subset: one
        // Spark datetime pattern (ES tries a format list in order)
        val f = field
        val formats = Option(body.get("formats")).filter(_.isArray)
          .map(_.elements.asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException(
            "date requires 'formats': [..]"))
        require(formats.size == 1,
          "date: exactly one format (declared subset)")
        val target = Option(body.get("target_field")).map(_.asText)
          .getOrElse("@timestamp")
        df => df.withColumn(target, to_timestamp(col(f), formats.head))
      case "kv" =>
        // {field, field_split, value_split, target_field?} — key=value
        // text to a map column (Spark's str_to_map is the exact analog)
        val f = field
        val fieldSplit = text("field_split")
        val valueSplit = text("value_split")
        val target = Option(body.get("target_field")).map(_.asText).getOrElse(f)
        df => df.withColumn(target,
          str_to_map(col(f), lit(fieldSplit), lit(valueSplit)))
      case other => throw new IllegalArgumentException(s"unsupported processor '$other'")
    }
  }
}
