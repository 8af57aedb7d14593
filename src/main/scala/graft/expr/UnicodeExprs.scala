package graft.expr

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonicalization kernels — the text-normalization pass
  * every dedup/linkage pipeline needs BEFORE hashing or comparing:
  * the same visible text can arrive as composed (é = U+00E9) or
  * decomposed (e + U+0301) codepoints, and every downstream operator
  * in this engine (md5 digests, minhash shingles, Jaro-Winkler,
  * Levenshtein) compares BYTES — so un-normalized corpora silently
  * miss duplicates and matches. Spark ships no normalization
  * function; these are codegen'd expressions over the JDK's own
  * `java.text.Normalizer` (zero new dependencies), registered under
  * DuckDB's function names (`nfc_normalize`, `strip_accents` — the
  * reference's engine) so the identical SQL text runs on both engines
  * (q_unicode_norm runs that way; parity verified on composed,
  * decomposed, multi-mark, and singleton-decomposition inputs).
  *
  * `strip_accents` semantics (pinned against DuckDB 1.0 empirically):
  * canonical decomposition (NFD), then drop EVERY mark — non-spacing
  * (Mn, U+0301), spacing-combining (Mc, U+0903), and enclosing (Me,
  * U+20DD). No recomposition pass is needed for binary NFC-equality:
  * composable pairs require a mark, and no mark survives the filter
  * (singleton decompositions like U+212B → Å → A lose their mark and
  * stay decomposed on both engines).
  *
  * Both kernels fast-path clean input: ASCII (the overwhelming hot
  * path of a web corpus) short-circuits before any allocation, and
  * already-NFC non-ASCII strings return the input buffer unchanged.
  */
object UnicodeExprs {

  private def isAscii(s: UTF8String): Boolean = {
    // UTF8String exposes no direct ascii test; numBytes == numChars
    // holds exactly for pure-ASCII (every multibyte char breaks it).
    s.numBytes == s.numChars
  }

  /** NFC canonical composition; input buffer returned unchanged when
    * already normalized (ASCII or NFC-clean — no copy, no alloc
    * beyond the JDK's quick check).
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    if (isAscii(s)) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  private def isMark(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK
  }

  /** NFD + drop all marks (Mn/Mc/Me) — DuckDB `strip_accents`
    * behavior. ASCII fast path; mark-free decompositions return the
    * decomposed form (binary-identical to DuckDB, see object doc).
    */
  def stripAccents(s: UTF8String): UTF8String = {
    if (isAscii(s)) return s
    val d = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    var hasMark = false
    var i = 0
    while (i < d.length && !hasMark) {
      val cp = d.codePointAt(i)
      if (isMark(cp)) hasMark = true
      i += Character.charCount(cp)
    }
    if (!hasMark) {
      // no marks anywhere: still return the NFD? No — DuckDB returns
      // the decomposed-without-marks form, which for a mark-free
      // decomposition equals the input for all non-singleton cases;
      // singletons (U+2126 Ω) decompose without marks and must stay
      // decomposed, so return d (re-encoded only when it differs).
      return if (d == s.toString) s else UTF8String.fromString(d)
    }
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (!isMark(cp)) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Column face of [[NfcNormalizeExpr]]. */
  def nfcNormalizeCol(c: Column): Column =
    Bridge.column(NfcNormalizeExpr(Bridge.expression(c)))
}

/** `nfc_normalize(string)` — codegen'd NFC canonicalization. */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any =
    UnicodeExprs.nfcNormalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.UnicodeExprs.nfcNormalize($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `strip_accents(string)` — codegen'd NFD + drop-all-marks. */
case class StripAccentsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override protected def nullSafeEval(v: Any): Any =
    UnicodeExprs.stripAccents(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expr.UnicodeExprs.stripAccents($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
