package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernels for the per-doc quality/language signals.
  *
  * The SQL forms (`TextFunctions.langIdSql` / `qualityScoreSql`) are
  * 5-9 separate interpreted tokenize+filter HOF passes plus four
  * regex scans per row — measured as the dominant cost of the curate
  * `1_gate` stage (1.36 s of the 4.1 s q_curate at sf0.1). These
  * kernels compute the IDENTICAL values (same IEEE op order, same
  * Java-regex \s token split, same UTF8String.toLowerCase the `lower`
  * expression calls, same Int overflow wrap on the ×10 score scale) in
  * one or two passes per row. Parity incl. empty/whitespace/zh/accent/
  * tie rows is pinned by `NativeKernelParitySpec`; the SQL forms stay
  * in [[graft.functions.TextFunctions]] as the replication recipe.
  *
  * Null contract: null-in → null-out at the expression level; the
  * public Column wrappers in TextFunctions re-state the SQL trees'
  * null results explicitly (`langId(null)` = "en" — the argmax
  * comparator returns `otherwise(0)` on null scores, keeping the
  * priority order; `qualityScore(null)` = 0.955 — `least` skips nulls
  * and both ratio `when`s fall to their 0.0 otherwise).
  */
object TextQualityKernels {

  private def set(ws: String*): java.util.HashSet[String] = {
    val h = new java.util.HashSet[String](ws.size * 2 + 8)
    ws.foreach(h.add)
    h
  }

  // langIdSql's word lists, verbatim
  private val EnWords = set("the", "and", "of", "is", "with")
  private val EsWords = set("el", "la", "los", "las", "es", "y", "de", "con")
  private val DeWords = set("der", "die", "das", "und", "ist", "mit")
  private val FrWords = set("le", "la", "les", "est", "et", "avec", "des")
  // TextFunctions.Stopwords, verbatim
  private val StopWords =
    set("the", "a", "an", "and", "of", "to", "in", "is")

  private val LangEn = UTF8String.fromString("en")
  private val LangEs = UTF8String.fromString("es")
  private val LangDe = UTF8String.fromString("de")
  private val LangFr = UTF8String.fromString("fr")
  private val LangZh = UTF8String.fromString("zh")

  /** Exactly langIdSql's value for non-null text: zh wins when any
    * code point sits in [U+4E00, U+9FFF]; otherwise argmax over
    * (wordScore·10 + accentScore) with priority en > es > de > fr on
    * ties. Word scores count EVERY occurrence of the language's
    * marker words among the whitespace tokens of the LOWERCASED text
    * (UTF8String.toLowerCase — the `lower` expression's own routine);
    * accent scores count code points in the language's accent set.
    */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    var en = 0; var es = 0; var de = 0; var fr = 0
    var esAcc = 0; var deAcc = 0; var frAcc = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      if (cp >= 0x4E00 && cp <= 0x9FFF) return LangZh
      (cp: @annotation.switch) match {
        case 'ñ' | '¿' | '¡' => esAcc += 1
        case 'ä' | 'ö' | 'ü' | 'ß' => deAcc += 1
        case 'é' | 'è' | 'ê' | 'à' | 'ç' | 'œ' => frAcc += 1
        case _ => ()
      }
      i += Character.charCount(cp)
    }
    val ts = TextKernels.tokens(text.toLowerCase)
    i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (EnWords.contains(t)) en += 1
      if (EsWords.contains(t)) es += 1
      if (DeWords.contains(t)) de += 1
      if (FrWords.contains(t)) fr += 1
      i += 1
    }
    // same Int math as the SQL tree (×10 wraps identically on overflow)
    val sEn = en * 10
    val sEs = es * 10 + esAcc
    val sDe = de * 10 + deAcc
    val sFr = fr * 10 + frAcc
    // argmax with priority en(4) > es(3) > de(2) > fr(1): strictly
    // greater score wins; ties keep the higher-priority earlier entry
    var best = sEn; var lang = LangEn
    if (sEs > best) { best = sEs; lang = LangEs }
    if (sDe > best) { best = sDe; lang = LangDe }
    if (sFr > best) { best = sFr; lang = LangFr }
    lang
  }

  // Java regex \s — the token splitter's and punctRatio's space class
  private def isRegexSpace(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' ||
      cp == '\r'

  /** Exactly qualityScoreSql's value for non-null text, same IEEE op
    * order: least(n/100.0, 1.0)·0.4 + (1 − least(punct·5, 1))·0.3 +
    * (1 − |swr − 0.15|)·0.3 with punct = (non-[A-Za-z0-9\s] code
    * points)/(code points) (0.0 for empty text) and swr = stopword
    * tokens / tokens (0.0 when no tokens).
    */
  def qualityScore(text: UTF8String): Double = {
    val ts = TextKernels.tokens(text)
    val n = ts.length
    val lenScore = math.min(n.toDouble / 100.0, 1.0)
    val s = text.toString
    val len = s.codePointCount(0, s.length)
    var punctCnt = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val keep = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9') || isRegexSpace(cp)
      if (!keep) punctCnt += 1
      i += Character.charCount(cp)
    }
    val punctRatio =
      if (len > 0) punctCnt.toDouble / len.toDouble else 0.0
    val punctPenalty = 1.0 - math.min(punctRatio * 5.0, 1.0)
    var sw = 0
    i = 0
    while (i < n) { if (StopWords.contains(ts(i))) sw += 1; i += 1 }
    val swr = if (n > 0) sw.toDouble / n.toDouble else 0.0
    val swScore = 1.0 - math.abs(swr - 0.15)
    lenScore * 0.4 + punctPenalty * 0.3 + swScore * 0.3
  }
}

sealed abstract class TextQualityExpr extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
}

case class LangIdExpr(child: Expression) extends TextQualityExpr {
  override def prettyName: String = "lang_id_native"
  override def dataType: DataType = StringType
  override def nullSafeEval(text: Any): Any =
    TextQualityKernels.langId(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextQualityKernels.langId($t)")
  override protected def withNewChildInternal(c: Expression): LangIdExpr =
    copy(child = c)
}

case class QualityScoreExpr(child: Expression) extends TextQualityExpr {
  override def prettyName: String = "quality_score_native"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(text: Any): Any =
    TextQualityKernels.qualityScore(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextQualityKernels.qualityScore($t)")
  override protected def withNewChildInternal(c: Expression): QualityScoreExpr =
    copy(child = c)
}

/** Column API over the quality kernels (bound through
  * [[GraftFunctions]]).
  */
object TextQualityExprs {

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "lang_id_native" -> (es => LangIdExpr(es(0))),
    "quality_score_native" -> (es => QualityScoreExpr(es(0))),
  )

  def langIdNative(text: Column): Column =
    GraftFunctions("lang_id_native", text)
  def qualityScoreNative(text: Column): Column =
    GraftFunctions("quality_score_native", text)
}
