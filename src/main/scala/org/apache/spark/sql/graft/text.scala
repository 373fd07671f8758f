package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Unicode normalization (NFC/NFD/NFKC/NFKD) over a string
  * column — java.text.Normalizer behind a native expression, so
  * normalization-insensitive dedup keys stay inside whole-stage
  * codegen (no UDF). DuckDB's nfc_normalize provides the NFC oracle.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {

  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unknown normalization form: $form")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_normalize"

  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString, f))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.$form));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Lower-cased character bigrams of a string as array<string> — one
  * tight per-ROW loop. The composed formulation (split + filter +
  * transform higher-order functions) pays an INTERPRETED lambda call
  * per character (ArrayTransform/ArrayFilter are CodegenFallback);
  * this expression pays one eval per document. Powers text_lm_score.
  */
case class CharBigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_char_bigrams"

  override def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val n = str.length - 1
    val out = new Array[AnyRef](math.max(n, 0))
    var i = 0
    while (i < n) { out(i) = UTF8String.fromString(str.substring(i, i + 2)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE token count under a trained merges table: pre-tokenize with
  * `pattern`, greedily merge each piece by rank, count surviving
  * tokens. The ranks map rides the expression (task closure — the
  * broadcast-merges shape of production token accounting).
  * CodegenFallback: the merge loop is data-dependent iteration, not
  * an expression tree — still executor-local, zero shuffle.
  */
case class BpeTokenCount(child: Expression, pattern: String,
    ranks: Map[(String, String), Int])
    extends UnaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bpe_count"

  @transient private lazy val re = java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(s: Any): Any = {
    val m = re.matcher(s.asInstanceOf[UTF8String].toString)
    var n = 0L
    while (m.find()) n += graft.functions.Bpe.encodePieceCount(m.group(), ranks)
    n
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static per-row loops behind the n-gram expressions below —
  * factored out of the (former) nullSafeEval bodies so `doGenCode`
  * can emit ONE static call per row. r10 shipped these expressions as
  * CodegenFallback, which keeps the per-row cost low (one interpreted
  * call instead of one per position) but EVICTS the hosting
  * projection from its WholeStageCodegen span — the explode-heavy
  * consumers (dedup shingles, winnow, the decontamination 5-grams)
  * were paying an interpreted projection around a native loop. With a
  * real doGenCode the scan → filter → project → explode pipeline
  * stays one fused codegen'd loop and the expression costs exactly
  * this static call (guide §4's end state). Scala objects compile to
  * a class with static forwarders, so Janino links these directly.
  */
object TextGen {

  def charNgrams(u: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = u.getBytes
    val len = bytes.length
    // byte offset of each codepoint start (+ terminal offset)
    val offs = new Array[Int](u.numChars() + 1)
    var i = 0
    var c = 0
    while (i < len) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(c) = len
    val count = math.max(c - n + 1, 0)
    val out = new Array[AnyRef](count)
    var j = 0
    while (j < count) {
      out(j) = UTF8String.fromBytes(bytes, offs(j), offs(j + n) - offs(j))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def wordGramXxhash(ws: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val total = ws.numElements()
    val count = math.max(total - n + 1, 0)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = 42L // XxHash64's default seed
      var k = 0
      while (k < n) {
        h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(ws.getUTF8String(i + k), StringType, h)
        k += 1
      }
      out(i) = h
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  def wordGrams(ws: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val total = ws.numElements()
    val count = math.max(total - n + 1, 0)
    val out = new Array[AnyRef](count)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(ws.getUTF8String(i + k).toString)
        k += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sliding character n-grams of a string as array<string> — the
  * n-gram generalization of CharBigrams, with SQL `substring`
  * CODEPOINT semantics (not UTF-16 chars) so it is value-identical
  * to the composed `transform(sequence(1, length(s) - n + 1),
  * i -> substr(s, i, n))` spelling it replaces: that HOF pays an
  * interpreted lambda dispatch plus an O(len) UTF8String codepoint
  * walk PER POSITION (ArrayTransform is CodegenFallback and
  * substringSQL re-scans from the head each call); this expression
  * walks the byte array once, recording codepoint byte offsets, and
  * slices each n-gram directly. Empty array when the string has
  * fewer than n codepoints (= the guarded/DuckDB semantics). Powers
  * mining_naive_bayes' trigram features and text_winnow's k-grams.
  * Codegen'd (r11): one static TextGen call per row, so the hosting
  * projection stays inside its WholeStageCodegen span.
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, "char n-grams need n >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_char_ngrams"

  override def nullSafeEval(s: Any): Any =
    TextGen.charNgrams(s.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextGen.charNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sliding word n-grams of a token array as array<string> (each
  * element the space-joined n-token window starting at that
  * position; empty when the document has fewer than n tokens) — one
  * tight per-ROW loop over the already-split tokens. The composed
  * formulation (`transform(sequence(...), i -> array_join(slice(...)))`)
  * pays an interpreted lambda dispatch plus an O(n) slice copy PER
  * POSITION (ArrayTransform is CodegenFallback); this expression
  * pays one eval per document and reuses a single StringBuilder.
  * Powers dedup_substring's span fingerprinting.
  */
/** Sliding word n-gram XXH64 hashes of a token array as array<long>,
  * value-identical to `transform(sequence(0, size(toks) - n),
  * i -> xxhash64(toks[i], …, toks[i+n-1]))` on inputs with ≥ n
  * tokens (empty array below n, the guarded/DuckDB semantics): each
  * window folds the n tokens through the exact multi-argument
  * xxhash64 seed chain (seed 42, then hash-as-seed per argument) the
  * builtin uses — same bytes, same order, same constants — but in
  * one per-row loop instead of an interpreted lambda per position.
  * Powers the hashed-shingle relation behind the MinHash/LSH dedup
  * family.
  */
case class WordGramXxhash(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, "word-gram hashes need n >= 1")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(StringType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_word_gram_xxhash"

  override def nullSafeEval(v: Any): Any =
    TextGen.wordGramXxhash(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextGen.wordGramXxhash($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(StringType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_word_grams"

  override def nullSafeEval(v: Any): Any =
    TextGen.wordGrams(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextGen.wordGrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-document text measures behind quality scoring, language
  * ID and token accounting, from one pass over the string:
  * struct<n_chars, n_tokens, alpha_chars, n_stops, c_en, c_es, c_de,
  * c_fr>, all longs. With `words = false` the struct ends at
  * alpha_chars and the word lists are not counted (what
  * `TextAnalysis.tokenCount` builds). `TextStats.stats` is the one
  * implementation; `eval` and the generated code both call it.
  *
  * Each field equals the Spark spelling it replaced (pinned in
  * TextStatsSpec, codegen'd and interpreted):
  *  - n_chars = `length(text)`;
  *  - n_tokens = `regexp_count(text, '\S+')`;
  *  - alpha_chars = `length(regexp_replace(text, '[^a-zA-Z]', ''))`;
  *  - n_stops and c_* = `regexp_count(lower(text), '\b(w1|…)\b')` over
  *    `TextStats.StopWords` and `TextStats.Markers`.
  *
  * Engine rationale: those spellings make seven regex passes per
  * document, six of them over a decoded (and for four, lower-cased)
  * copy of the string. Here n_chars, n_tokens and alpha_chars come
  * from one loop over the UTF-8 bytes with no decode (`\s` is
  * `[ \t\n\x0B\f\r]` only, so NBSP and other Unicode spaces are token
  * characters). The word counts come from one scan of the string
  * lower-cased by Spark's own `lower` (under the same ICU conf) for
  * all five lists at once, with a port of java.util.regex's `\b`
  * (JDK 17, default flags): a word char is a letter, a digit or `_`,
  * and a non-spacing mark after one also counts as a word char.
  */
case class TextStats(child: Expression, words: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = if (words) TextStats.Schema else TextStats.ByteSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_text_stats"

  // read the way Spark's Lower reads it, so the word counts see the
  // string `lower()` returns
  private lazy val useICU: Boolean = org.apache.spark.sql.internal.SQLConf.get
    .getConf(org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(s: Any): Any =
    TextStats.stats(s.asInstanceOf[UTF8String], words, useICU)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[TextStats].getName}.stats($c, $words, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {

  /** The stop-word list behind n_stops. */
  val StopWords: Seq[String] = Seq("the", "a", "an", "of", "to", "in", "and", "is", "it", "for")

  /** Per-language marker words behind c_en..c_fr, in field order. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "est"))

  val Fields: Seq[String] =
    Seq("n_chars", "n_tokens", "alpha_chars", "n_stops") ++ Markers.map("c_" + _._1)

  val Schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Fields.map(f =>
      org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.LongType,
        nullable = false)))

  /** The fields of the byte loop alone: n_chars, n_tokens, alpha_chars. */
  val ByteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Schema.take(3))

  // every listed word once, with one bit per field it counts toward
  // (bit 3 = n_stops, bit 4 + i = marker language i, i.e. field index)
  private val (wordList: Array[String], wordBits: Array[Int]) = {
    val all = (StopWords ++ Markers.flatMap(_._2)).distinct
    (all.toArray, all.map { w =>
      (if (StopWords.contains(w)) 1 << 3 else 0) |
        Markers.indices.filter(i => Markers(i)._2.contains(w)).map(i => 1 << (4 + i)).sum
    }.toArray)
  }
  require(wordList.forall(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z')),
    "listed words must be lower-case ASCII letters")
  // the indices of the listed words by first letter ('a' = 0)
  private val byFirst: Array[Array[Int]] =
    Array.tabulate(26)(l => wordList.indices.filter(wordList(_).charAt(0) == 'a' + l).toArray)

  /** The TextStats row of `u`: n_chars, n_tokens and alpha_chars from
    * its UTF-8 bytes, then, when `words`, the word-list counts of its
    * lower-cased string.
    */
  def stats(u: UTF8String, words: Boolean, useICU: Boolean): InternalRow = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    val out = new Array[Long](if (words) Fields.length else ByteSchema.length)
    var ascii = true
    var inToken = false
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      val space = b == ' ' || (b >= '\t' && b <= '\r')
      if (!space && !inToken) out(1) += 1
      inToken = !space
      val lower = b | 0x20
      if (lower >= 'a' && lower <= 'z') out(2) += 1
      if (b < 0) ascii = false
      i += 1
    }
    out(0) = if (ascii) n else u.numChars()
    if (words) {
      wordCounts(org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(u,
        org.apache.spark.sql.catalyst.util.CollationFactory.UTF8_BINARY_COLLATION_ID,
        useICU).toString, out)
    }
    val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(out.length)
    val size = org.apache.spark.sql.catalyst.expressions.UnsafeRow
      .calculateBitSetWidthInBytes(out.length) + 8 * out.length
    row.pointTo(new Array[Byte](size), size)
    var f = 0
    while (f < out.length) { row.setLong(f, out(f)); f += 1 }
    row
  }

  /** n_stops and c_* of a lower-cased document: what `Matcher.find`
    * does for `\b(w1|…)\b`, one scan for all lists. A match starts
    * only where `\b` holds before a letter, and no `\b` falls inside
    * a matched word, so the lists' matches never overlap and at most
    * one listed word matches at a position.
    */
  private def wordCounts(s: String, out: Array[Long]): Unit = {
    var i = 0
    // s(i - 1) is in [A-Za-z0-9_]: then no `\b` falls before a letter at i
    var afterWord = false
    while (i < s.length) {
      val c = s.charAt(i)
      var hit = -1
      if (c >= 'a' && c <= 'z' && !afterWord && bound(s, i)) {
        val cands = byFirst(c - 'a')
        var k = 0
        while (hit < 0 && k < cands.length) {
          val w = cands(k)
          if (s.startsWith(wordList(w), i) && bound(s, i + wordList(w).length)) hit = w
          k += 1
        }
      }
      if (hit >= 0) {
        val bits = wordBits(hit)
        var f = 3
        while (f < out.length) {
          if ((bits & (1 << f)) != 0) out(f) += 1
          f += 1
        }
        i += wordList(hit).length
        afterWord = true
      } else {
        val l = c | 0x20
        afterWord = (l >= 'a' && l <= 'z') || (c >= '0' && c <= '9') || c == '_'
        i += 1
      }
    }
  }

  // java.util.regex.Pattern.Bound.check (JDK 17, no flags) at index i
  private def bound(s: String, i: Int): Boolean = {
    val left = i > 0 && {
      val cp = Character.codePointBefore(s, i)
      isWord(cp) || (Character.getType(cp) == Character.NON_SPACING_MARK && hasBase(s, i - 1))
    }
    val right = i < s.length && {
      val cp = Character.codePointAt(s, i)
      isWord(cp) || (Character.getType(cp) == Character.NON_SPACING_MARK && hasBase(s, i))
    }
    left != right
  }

  private def isWord(cp: Int): Boolean = cp == '_' || Character.isLetterOrDigit(cp)

  // java.util.regex.Pattern.hasBaseCharacter: a letter or digit before
  // a run of non-spacing marks ending at index `from`
  private def hasBase(s: String, from: Int): Boolean = {
    var x = from
    while (x >= 0) {
      val cp = Character.codePointAt(s, x)
      if (Character.isLetterOrDigit(cp)) return true
      if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
      x -= 1
    }
    false
  }
}
