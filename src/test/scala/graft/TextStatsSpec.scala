package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graft.{ColumnBridge, TextStats}
import graft.operators.TextAnalysis

/** The TextStats kernel behind `TextAnalysis.qualityInputs`,
  * `markerCols` and `tokenCount`: every field, with and without the
  * word lists, value-locked against the regex spelling it replaced,
  * under whole-stage codegen and interpreted, with both settings of
  * Spark's ICU case-mapping conf.
  */
class TextStatsSpec extends AnyFunSuite {
  import TestSpark._

  // ---- the regex spellings the kernel replaced (reference) -----------

  private def wordsPattern(ws: Seq[String]): String = ws.mkString("\\b(", "|", ")\\b")

  private def reference(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text).cast("long"),
    "n_tokens" -> regexp_count(text, lit("\\S+")).cast("long"),
    "alpha_chars" -> length(regexp_replace(text, "[^a-zA-Z]", "")).cast("long"),
    "n_stops" -> regexp_count(lower(text), lit(wordsPattern(TextStats.StopWords))).cast("long")) ++
    TextStats.Markers.map { case (l, ws) =>
      s"c_$l" -> regexp_count(lower(text), lit(wordsPattern(ws))).cast("long")
    }

  // ---- inputs ---------------------------------------------------------

  private val planted: Seq[String] = Seq(
    "", " ", "\t\n", "The cat and the dog", "it's a test, of course.", "THE AND OF TO IS",
    "ThE aNd", "these theatre andante isle", "an a an ana", "des les et est",
    "y que la el de", "der die das und ist", "for in it is",
    // \b next to digits and _
    "the2 2the 2 the 2 a1 1a", "_the the_ _a_ a_b the", "the-and the.of (is)",
    // \b next to accented letters
    "théorie the é the éthe theé àla là", "él y la niña de Ávila que",
    "les élèves et des professeurs est", "Die Straße und der Hund ist das",
    "Ünd und ÜND", "naïve is the",
    // a combining mark after a word char is a word char; after a
    // space, a digit or nothing it is not
    "the\u0301 and", "e\u0301the is", "the\u0300\u0301 is", " \u0301the", "\u0301the",
    "1\u0301the", "a\u0301\u0301 y", "_\u0301the", "the \u0301 of",
    // a supplementary-plane non-spacing mark (U+1D167)
    "\uD834\uDD67the", "the\uD834\uDD67 and", "a \uD834\uDD67 of",
    // \s is [ \t\n\x0B\f\r]: NBSP, U+2003, U+2028, U+001F are token chars
    "the\u00A0cat", "the\u2003and of", "of\u2028to", "a\u001Fb the", "\u000B and \f the \r\n",
    "\u00A0", "\u2003 \u2003",
    // lower(): İ → i + U+0307, so İT is not it; ß, the Kelvin sign, sigma
    "İT is", "İt", "THE İS", "İN", "ıt", "TİTLE the", "ẞ the", "STRASSE ß THE",
    "\u212Athe \u212A the", "ΟΔΟΣ the", "ΣTHE", "σ the ς", "ΌΣΟΣ AND",
    // surrogate pairs
    "\uD83D\uDE00the\uD83D\uDE00", "the\uD83D\uDE00 and", "\uD835\uDC00the", "\uD835\uDFCEthe",
    "\uD83D\uDE00", "x\uD83D\uDE00 \uD83D\uDE00y")

  // random strings over the planted pieces: every pairing of word,
  // boundary and case behaviour above, in many orders
  private val fuzz: Seq[String] = {
    val rnd = new scala.util.Random(11L)
    val words = (TextStats.StopWords ++ TextStats.Markers.flatMap(_._2)).distinct
    val pieces = words ++ words.map(_.toUpperCase) ++ Seq("x", "Théo", "9", "_", "é",
      "\u0301", "\uD834\uDD67", "\uD83D\uDE00", "\uD835\uDC00", "İ", "ß", "ẞ", "\u212A", "Σ",
      "ς", "ı", "-", ".", "'")
    val gaps = Seq(" ", " ", " ", "", "\t", "\n", "\u00A0", "\u2003", "\u2028", "\u000B", ",")
    Seq.fill(400) {
      (0 until rnd.nextInt(25)).map { _ =>
        pieces(rnd.nextInt(pieces.length)) + gaps(rnd.nextInt(gaps.length))
      }.mkString
    }
  }

  private val texts: Seq[Option[String]] = (planted ++ fuzz).map(Some(_)) :+ None

  // an RDD-backed frame, not a LocalRelation: the optimizer would
  // otherwise evaluate the projection itself, bypassing codegen
  private def frame(ts: Seq[Option[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ts.zipWithIndex.map { case (t, i) => Row(i, t.orNull) }, 3),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("text", StringType))))

  private def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def bothCaseMappings(body: => Unit): Unit =
    Seq("true", "false").foreach { icu =>
      spark.conf.set(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, icu)
      try body finally spark.conf.unset(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key)
    }

  // every field of the full kernel, then the fields of the kernel
  // that skips the word lists (`tokenCount`'s), each paired with the
  // regex spelling of the same name
  private def assertSameAsRegex(label: String, ts: Seq[Option[String]]): Unit = {
    val text = col("text")
    val st = TextAnalysis.textStats(text)
    val bytes = ColumnBridge.column(TextStats(ColumnBridge.expression(text), words = false))
    val ref = reference(text).toMap
    val pairs = TextStats.Fields.map(f => (f, st.getField(f), ref(f))) ++
      TextStats.ByteSchema.fieldNames.map(f => (s"$f (no words)", bytes.getField(f), ref(f))) :+
      (("tokenCount", TextAnalysis.tokenCount(text), ref("n_tokens")))
    val rows = frame(ts).select(col("id") +: pairs.flatMap(p => Seq(p._2, p._3)): _*).collect()
    assert(rows.length == ts.length)
    rows.foreach { r =>
      val at = s"$label, text ${ts(r.getInt(0)).map(s => s.flatMap(c =>
        if (c < 0x80 && c >= 0x20) c.toString else f"\\u${c.toInt}%04X"))}"
      pairs.zipWithIndex.foreach { case ((f, _, _), j) =>
        assert(r.get(1 + 2 * j) == r.get(2 + 2 * j), s"$f: $at")
      }
    }
    val nullRow = rows.find(r => ts(r.getInt(0)).isEmpty)
    nullRow.foreach(r =>
      assert((1 to 2 * pairs.length).forall(r.isNullAt), s"$label: null text"))
  }

  test("the kernel's fields are the regex spellings' order and names") {
    assert(TextStats.Fields == reference(col("text")).map(_._1))
    assert(TextAnalysis.stopPattern == "\\b(the|a|an|of|to|in|and|is|it|for)\\b")
    assert(TextAnalysis.markers == Seq(
      "en" -> "\\b(the|and|of|to|is)\\b", "es" -> "\\b(el|la|de|que|y)\\b",
      "de" -> "\\b(der|die|das|und|ist)\\b", "fr" -> "\\b(le|les|et|des|est)\\b"))
  }

  test("TextStats equals the regex spellings under whole-stage codegen") {
    bothCaseMappings { assertSameAsRegex("codegen", texts) }
    val plan = frame(texts).select(TextAnalysis.textStats(col("text")))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_text_stats")).get
    assert(line.replaceFirst("^[\\s:+-]*", "").startsWith("*"), s"not codegen'd:\n$plan")
  }

  test("TextStats equals the regex spellings interpreted") {
    interpreted {
      bothCaseMappings { assertSameAsRegex("interpreted", texts) }
      val plan = frame(texts).select(TextAnalysis.textStats(col("text")))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("*("), s"still codegen'd:\n$plan")
    }
  }

  test("TextStats equals the regex spellings on the documents table") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("text")).collect().map(r => Option(r.getString(0))).toSeq
    assert(docs.nonEmpty)
    assertSameAsRegex("documents", docs)
  }
}
