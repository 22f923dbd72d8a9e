package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeBinaryLcase
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The index analyzer: the non-empty runs of `[a-z0-9_]` in `lower(child)`,
  * i.e. `filter(split(lower(child), '[^a-z0-9_]+'), t -> length(t) > 0)`.
  * Postings, norms, more_like_this, the term suggester and
  * significant_text all tokenize through it, and [[WordRuns.tokens]] is
  * the same analyzer on the driver.
  *
  * Declared semantics, the same array as the split form on every value:
  *  - an all-ASCII value of a UTF8_BINARY string: one scan of its UTF-8
  *    bytes with ASCII case folding; every maximal run of `[A-Za-z0-9_]`
  *    is emitted lowercased, in order;
  *  - any other value (a non-ASCII byte, or a UTF8_LCASE string): the
  *    separator regex splits exactly the string `lower()` yields —
  *    `CollationSupport.Lower` with the child's collation and the
  *    session's ICU case-mapping flag — with `split`'s collation flags,
  *    and the empty pieces are dropped.
  * Null in, null out, like `split`. The byte scan saves the regex engine,
  * the UTF-8 → `String` → UTF-8 round trip of every row and the
  * empty-piece filter. */
case class WordRuns(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  // the input types split(lower(x), p) accepts: split admits binary and
  // UTF8_LCASE strings, and the implicit cast is lower()'s
  override def inputTypes = Seq(StringTypeBinaryLcase)
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // resolved like Lower's own fields: collation from the child, ICU flag
  // from the session conf where the expression is evaluated or generated
  private lazy val collationId = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  @transient private lazy val runner = new WordRunner(collationId, useICU)

  override protected def nullSafeEval(v: Any): Any =
    WordRuns.runs(runner, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("wordRunner", runner, classOf[WordRunner].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.WordRuns.runs($r, $c)")
  }

  override def prettyName: String = "word_runs"
  // SQL text renders the form it is equal to, so a plan's SQL does not
  // depend on the kernel
  override def sql: String =
    s"filter(split(lower(${child.sql}), '${WordRuns.Separators}', -1), t -> length(t) > 0)"
  override protected def withNewChildInternal(c: Expression): WordRuns = copy(child = c)
}

object WordRuns {
  /** The analyzer's separator regex: what `split` cuts on after `lower`. */
  val Separators = "[^a-z0-9_]+"

  /** `word_runs(c)` as a Column. */
  def column(c: Column): Column = Bridge.column(WordRuns(Bridge.expression(c)))

  /** Static kernel shared by the interpreted and codegen'd paths. */
  def runs(r: WordRunner, v: UTF8String): ArrayData =
    new GenericArrayData(r.runs(v).asInstanceOf[Array[Any]])

  /** The analyzer on the driver: the tokens the index stores for `text`
    * (a UTF8_BINARY value under the active session's ICU flag). Unlike
    * `String.toLowerCase`, it does not depend on the JVM default locale
    * for ASCII text. */
  def tokens(text: String): Seq[String] =
    new WordRunner(CollationFactory.UTF8_BINARY_COLLATION_ID,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
      .runs(UTF8String.fromString(text)).map(_.toString).toSeq
}

/** The per-expression analyzer state: the separator regex (compiled once
  * per task copy) for values the byte scan does not take. */
final class WordRunner(collationId: Int, useICU: Boolean) extends Serializable {
  private val byteScan = collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
  @transient private lazy val separators =
    Pattern.compile(WordRuns.Separators, CollationSupport.collationAwareRegexFlags(collationId))

  def runs(v: UTF8String): Array[UTF8String] =
    if (byteScan && v.isFullAscii) scanAscii(v)
    else separators.split(CollationSupport.Lower.exec(v, collationId, useICU).toString, -1)
      .filter(_.nonEmpty).map(UTF8String.fromString)

  /** Fold the value into one fresh buffer, then cut the runs out of it:
    * every token is a slice of that buffer, so a row costs one copy. */
  private def scanAscii(v: UTF8String): Array[UTF8String] = {
    val n = v.numBytes
    val buf = new Array[Byte](n)
    var count = 0
    var i = 0
    while (i < n) {
      val b = v.getByte(i)
      buf(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (isWord(buf(i)) && (i == 0 || !isWord(buf(i - 1)))) count += 1
      i += 1
    }
    val out = new Array[UTF8String](count)
    var k = 0
    i = 0
    while (k < count) {
      while (!isWord(buf(i))) i += 1
      val start = i
      while (i < n && isWord(buf(i))) i += 1
      out(k) = UTF8String.fromBytes(buf, start, i - start)
      k += 1
    }
    out
  }

  private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '_'
}
