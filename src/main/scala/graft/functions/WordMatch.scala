package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeBinaryLcase
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `lower(child) RLIKE pattern` for the two leaf shapes that carry no
  * regex of their own: a whole-word literal and a word prefix (a literal
  * with one trailing `*`). `pattern` is [[graft.QueryCompiler.termPattern]]
  * of the term and `literal` the lowercased, unescaped text it quotes — the
  * pair comes from one parse ([[graft.QueryCompiler.termMatch]] builds
  * this expression), so the kernel and the regex cannot drift apart.
  *
  * Declared semantics, the same answer as the regex on every value:
  *  - an all-ASCII value of a UTF8_BINARY string: its UTF-8 bytes are
  *    scanned with ASCII case folding for `literal`; an occurrence counts
  *    when a `\b` word boundary precedes it and, unless `prefix`, one
  *    follows it too. An ASCII word character is `[A-Za-z0-9_]` under
  *    both the JDK 17 and the JDK 19+ definition of `\b`. A non-ASCII
  *    literal never occurs in an ASCII value, as in the regex;
  *  - any other value (a non-ASCII byte, or a UTF8_LCASE string): `pattern`
  *    runs, with RLIKE's collation flags, on exactly the string `lower()`
  *    yields — `CollationSupport.Lower` with the child's collation and the
  *    session's ICU case-mapping flag.
  * Null in, null out, like RLIKE. The byte scan saves the regex engine's
  * per-position boundary checks and the lowercase copy of every row. */
case class WordMatch(child: Expression, literal: String, prefix: Boolean,
                     pattern: String)
    extends UnaryExpression with ImplicitCastInputTypes with Predicate {
  // the input types lower(x) RLIKE p accepts: RLIKE admits binary and
  // UTF8_LCASE strings, and the implicit cast is lower()'s
  override def inputTypes = Seq(StringTypeBinaryLcase)
  override def nullIntolerant: Boolean = true

  // resolved like Lower's own fields: collation from the child, ICU flag
  // from the session conf where the expression is evaluated or generated
  private lazy val collationId = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  @transient private lazy val matcher =
    new WordMatcher(literal, prefix, pattern, collationId, useICU)

  override protected def nullSafeEval(v: Any): Any =
    WordMatch.matches(matcher, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("wordMatcher", matcher, classOf[WordMatcher].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.WordMatch.matches($m, $c)")
  }

  override def prettyName: String = "word_match"
  // SQL text renders the Column-API form it is equal to, `lower(c).rlike(p)`,
  // so a predicate's SQL (the `_validate?explain` payload) does not depend
  // on the kernel
  override def sql: String =
    Bridge.sql(org.apache.spark.sql.functions.lower(Bridge.column(child)).rlike(pattern))
  override protected def withNewChildInternal(c: Expression): WordMatch = copy(child = c)
}

object WordMatch {
  /** Static kernel shared by the interpreted and codegen'd paths. */
  def matches(m: WordMatcher, v: UTF8String): Boolean = m.matches(v)
}

/** The per-expression matcher state: literal bytes for the ASCII scan and
  * the regex (compiled once per task copy) for every other value. */
final class WordMatcher(literal: String, prefix: Boolean, pattern: String,
                        collationId: Int, useICU: Boolean) extends Serializable {
  private val lit: Array[Byte] = literal.getBytes(UTF_8)
  private val byteScan = collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
  @transient private lazy val regex =
    Pattern.compile(pattern, CollationSupport.collationAwareRegexFlags(collationId))

  def matches(v: UTF8String): Boolean =
    if (byteScan && v.isFullAscii) scanAscii(v)
    else regex.matcher(CollationSupport.Lower.exec(v, collationId, useICU).toString).find(0)

  private def scanAscii(v: UTF8String): Boolean = {
    val n = v.numBytes
    val m = lit.length
    var i = 0
    while (i <= n - m) {
      if (occursAt(v, i) && boundary(v, n, i) && (prefix || boundary(v, n, i + m)))
        return true
      i += 1
    }
    false
  }

  private def occursAt(v: UTF8String, i: Int): Boolean = {
    var j = 0
    while (j < lit.length) {
      val b = v.getByte(i + j)
      val folded = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (folded != lit(j)) return false
      j += 1
    }
    true
  }

  /** `\b` between byte `i - 1` and byte `i` (outside the value = non-word). */
  private def boundary(v: UTF8String, n: Int, i: Int): Boolean =
    (i > 0 && isWord(v.getByte(i - 1))) != (i < n && isWord(v.getByte(i)))

  private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'
}
