package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC / NFD / NFKC / NFKD) as a codegen'd
  * Catalyst Expression — the canonicalization step a web-scale text
  * pipeline runs before hashing or dedup: the same visible text can
  * arrive as composed (U+00E9) or decomposed (U+0065 U+0301) code
  * points, and every fingerprint/shingle/exact-dedup operator downstream
  * treats those as different documents unless normalized first.
  *
  * Spark has no built-in for this; the JDK's `java.text.Normalizer`
  * (ICU-equivalent for the normalization forms) does the work, so the
  * expression needs no external library. The generated code calls
  * `Normalizer.isNormalized` first: real corpora are overwhelmingly
  * already in NFC, and the fast path then returns the input UTF8String
  * with zero allocation — the String round-trip is paid only by rows
  * that actually need rewriting.
  *
  * `form` is validated by the Column wrapper (the SQL name builds
  * through it), so analysis rejects bad forms instead of failing
  * per-row.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  // No ExpectsInputTypes (private[sql] in Spark 4); construction goes
  // through the typed wrapper, which casts to string.
  @transient private lazy val normForm = Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (Normalizer.isNormalized(s, normForm)) u
    else UTF8String.fromString(Normalizer.normalize(s, normForm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val formRef = s"java.text.Normalizer.Form.$form"
      s"""
         |String $s = $c.toString();
         |${ev.value} = java.text.Normalizer.isNormalized($s, $formRef)
         |  ? $c
         |  : org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, $formRef));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Column wrapper: normalize a string column to the given form
    * (case-insensitive: "nfc" is NFC).
    */
  def normalize(text: Column, form: String = "NFC"): Column = {
    val f = form.toUpperCase(java.util.Locale.ROOT)
    require(forms(f), s"unicode_normalize form must be one of $forms, got $f")
    Shims.toColumn(UnicodeNormalize(Shims.toExpression(text.cast("string")), f))
  }

  def nfc(text: Column): Column = normalize(text, "NFC")
  def nfkc(text: Column): Column = normalize(text, "NFKC")

  /** Accent/diacritic folding — the classic normalization for
    * accent-bearing corpora (the reference's domain is Portuguese:
    * "ação" and "acao" must dedup/join as one key): NFD decomposition
    * splits every accented letter into base + combining marks, and one
    * codegen'd regexp drops the marks (\p{M}). Case is preserved;
    * non-decomposable letterforms (ø, ł) pass through — this is accent
    * REMOVAL, not transliteration. Matches DuckDB's `strip_accents` on
    * decomposable text, which is what the oracle pins.
    */
  def stripAccents(text: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(
      normalize(text, "NFD"), "\\p{M}", "")
}
