package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text canonicalization for corpus pipelines (the CCNet-style
  * cleanup that runs BEFORE any hashing/dedup — without it, byte-distinct
  * but canonically-equal documents defeat exact dedup and fingerprinting).
  *
  * Modes: NFC / NFD / NFKC / NFKD (java.text.Normalizer — the reference
  * Unicode implementation, same standard utf8proc/DuckDB implement) and
  * STRIP_ACCENTS (NFD → drop combining marks → NFC; parity with DuckDB's
  * `strip_accents` pinned by the d_fold_accents oracle).
  *
  * Scale notes (100 TB): the hot path is the all-ASCII fast check — one
  * branch-free byte scan; web/corpus text is overwhelmingly ASCII, and
  * ASCII is a fixed point of every mode, so most rows never allocate. The
  * expression stays inside whole-stage codegen (defineCodeGen + static
  * helper, the Md5Bits packaging).
  */
object TextNorm {
  final val NFC = 0
  final val NFD = 1
  final val NFKC = 2
  final val NFKD = 3
  final val STRIP_ACCENTS = 4

  private val forms =
    Array(Normalizer.Form.NFC, Normalizer.Form.NFD,
      Normalizer.Form.NFKC, Normalizer.Form.NFKD)

  private val marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  def modeOf(name: String): Int = name.toUpperCase match {
    case "NFC" => NFC
    case "NFD" => NFD
    case "NFKC" => NFKC
    case "NFKD" => NFKD
    case "STRIP_ACCENTS" => STRIP_ACCENTS
    case other => throw new IllegalArgumentException(
      s"unknown normalization mode '$other' " +
        "(NFC|NFD|NFKC|NFKD|STRIP_ACCENTS)")
  }

  /** All-ASCII bytes are a fixed point of every mode — no decode needed. */
  private def isAscii(bytes: Array[Byte]): Boolean = {
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) return false
      i += 1
    }
    true
  }

  def normalize(s: UTF8String, mode: Int): UTF8String = {
    val bytes = s.getBytes
    if (isAscii(bytes)) return s
    val str = s.toString
    val out = mode match {
      case STRIP_ACCENTS =>
        val decomposed = Normalizer.normalize(str, Normalizer.Form.NFD)
        val stripped = marks.matcher(decomposed).replaceAll("")
        Normalizer.normalize(stripped, Normalizer.Form.NFC)
      case m =>
        Normalizer.normalize(str, forms(m))
    }
    if (out == str) s else UTF8String.fromString(out)
  }
}

/** `text_norm(s, 'NFC')` / `strip_accents(s)` — codegen'd canonicalization. */
case class TextNormExpr(child: Expression, mode: Int) extends UnaryExpression {
  require(mode >= TextNorm.NFC && mode <= TextNorm.STRIP_ACCENTS)
  override def dataType: DataType = StringType
  override def prettyName: String = "text_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    TextNorm.normalize(v.asInstanceOf[UTF8String], mode)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextNorm.normalize($c, $mode)")
  override protected def withNewChildInternal(newChild: Expression): TextNormExpr =
    copy(child = newChild)
}

/** Column-API front door. */
object TextNormFunctions {
  def textNorm(s: Column, mode: String): Column =
    ColumnBridge.column(
      TextNormExpr(ColumnBridge.expression(s), TextNorm.modeOf(mode)))
}
