package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate, TernaryExpression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

// Custom Catalyst expressions — SURVEY.md §4 named exactly two candidates
// (erf for the Stouffer p-value, `encore_parser.py:256-264`; Gini) and the
// beyond-reference similarity operators need two more (simhash, cosine).
//
// All four are full codegen citizens: `doGenCode` emits a call to a static
// JVM method, so they inline into whole-stage-generated code with no
// boxing, no closure dispatch, and null handling hoisted by
// `defineCodeGen` — measurably faster than equivalent Scala UDFs and
// usable from SQL through graft.GraftExtensions.

/** Gauss error function erf(x). Implementation: commons-math3 (ships with
  * Spark). Used for 2·Φ̄(|z|) = 1 − erf(|z|/√2) (Stouffer two-sided p).
  */
case class Erf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_erf"
  override def nullSafeEval(v: Any): Any =
    org.apache.commons.math3.special.Erf.erf(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.commons.math3.special.Erf.erf($c)")
  override protected def withNewChildInternal(newChild: Expression): Erf =
    copy(child = newChild)
}

/** Complementary error function erfc(x) = 1 − erf(x), computed directly —
  * `1 - erf(x)` underflows to 0 for x ≳ 6 while erfc keeps full relative
  * precision into the deep tail (p-values ~1e-300).
  */
case class Erfc(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_erfc"
  override def nullSafeEval(v: Any): Any =
    org.apache.commons.math3.special.Erf.erfc(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.commons.math3.special.Erf.erfc($c)")
  override protected def withNewChildInternal(newChild: Expression): Erfc =
    copy(child = newChild)
}

object SimHashImpl {
  /** 64-bit SimHash over an array of string tokens: per-token xxhash64,
    * per-bit majority vote. Static so generated code can call it directly.
    */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** simhash64(tokens: array<string>) → long. Near-duplicate fingerprint:
  * documents within small Hamming distance of each other are near-dups.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override def nullSafeEval(v: Any): Any =
    SimHashImpl.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object MinHashImpl {
  /** k-permutation MinHash over word n-gram shingles, one pass.
    *
    * Replaces the composable `array(k × array_min(transform(shingles,
    * xxhash64(seed_i, s))))` formulation, which Spark evaluates as k
    * interpreted higher-order passes (HOFs don't join whole-stage
    * codegen). Here: per shingle, two xxhash64 evaluations; permutation i
    * uses the standard double-hashing derivation h1 + (i+1)·h2 — O(shingles
    * · k) multiplications instead of O(shingles · k) string hashes.
    *
    * Returns null when the document has fewer than n tokens.
    */
  def compute(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    val nTok = tokens.numElements()
    val nSh = nTok - n + 1
    if (nSh <= 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    var i = 0
    while (i < nSh) {
      var allPresent = true
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) {
        if (tokens.isNullAt(i + j)) allPresent = false
        else parts(j) = tokens.getUTF8String(i + j)
        j += 1
      }
      if (allPresent) {
        val shingle = org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*)
        val h1 = XxHash64Function.hash(shingle, StringType, 42L)
        val h2 = XxHash64Function.hash(shingle, StringType, 77L) | 1L
        var p = 0
        while (p < k) {
          val h = h1 + (p + 1).toLong * h2
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** minhash_shingles(tokens, n, k) → array<long>: the k-minhash signature
  * of a document's word n-gram shingle set (null if < n tokens).
  */
case class MinHashShingles(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_shingles"
  override def nullSafeEval(v: Any): Any =
    MinHashImpl.compute(v.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashImpl.compute($c, $n, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
    code
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashShingles =
    copy(child = newChild)
}

object WordShinglesImpl {
  /** All word n-gram shingles of a token array, one pass. Matches the
    * higher-order formulation `transform(sequence(0, size-n), i ->
    * concat_ws(" ", slice(toks, i+1, n)))` exactly (concat_ws skips null
    * elements); returns an empty array when the document has < n tokens.
    * Exists because the HOF chain is interpreted and re-slices per
    * position — O(tokens·n) allocations per row outside codegen.
    */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val nSh = tokens.numElements() - n + 1
    if (nSh <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nSh)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    var i = 0
    while (i < nSh) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (tokens.isNullAt(i + j)) null else tokens.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object WinnowImpl {
  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): a polynomial ROLLING hash over every k-gram of the
    * character sequence, then a sliding window of w hashes keeping each
    * window's minimum, deduped in first-seen order. Guarantee: two
    * documents sharing any substring of length ≥ w + k − 1 share at
    * least one fingerprint. One pass, O(n) via a monotone deque.
    */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length - k + 1
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val B = 1000003L // rolling base (odd, > alphabet)
    var pow = 1L // B^(k-1)
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    val win = math.min(w, n)
    val out = new java.util.LinkedHashSet[Long]()
    val deque = new java.util.ArrayDeque[Int]() // indices, increasing hash
    i = 0
    while (i < n) {
      while (!deque.isEmpty && hs(deque.peekLast) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst <= i - win) deque.pollFirst()
      if (i >= win - 1) out.add(hs(deque.peekFirst))
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

object WinnowAnchorsImpl {
  /** Winnowing SELECTED POSITIONS (1-based k-gram start offsets) instead
    * of fingerprint hashes — the content-defined anchor set for
    * [[graft.text.SubstringDedup.sharedSpansWinnowed]]. Same rolling
    * hash + monotone deque as [[WinnowImpl]]; emits each selected
    * window-minimum's position once. Output is ascending (the deque head
    * index never moves backward as the window slides).
    *
    * The positions — not the hashes — are the product: the caller reads
    * the k-gram TEXT back at each anchor, so downstream equality checks
    * stay exact and the rolling hash never leaves this kernel (hash
    * collisions can only co-select harmless extra anchors).
    *
    * Positions are CODE-POINT indices, not UTF-16 code units: the
    * consumer is Spark's `substr`, which counts code points. Hashing
    * over the code-point array keeps a supplementary character (emoji,
    * astral CJK) one position wide, so anchors land where substr reads —
    * charAt-based indexing would shift every anchor after the first
    * surrogate pair and silently break winnowed detection on exactly the
    * web-scale corpora this operator targets.
    */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val B = 1000003L
    var pow = 1L
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - cps(i - 1) * pow) * B + cps(i + k - 1)
      hs(i) = h
      i += 1
    }
    val win = math.min(w, n)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) {
      while (!deque.isEmpty && hs(deque.peekLast) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst <= i - win) deque.pollFirst()
      if (i >= win - 1) {
        val p = deque.peekFirst + 1L // 1-based
        if (out.isEmpty || out.last.asInstanceOf[Long] != p) out += p
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** winnow_anchors(text, k, w) → array<long>: ascending 1-based positions
  * of the winnowing-selected k-grams ([] when shorter than k).
  */
case class WinnowAnchors(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_anchors"
  override def nullSafeEval(v: Any): Any =
    WinnowAnchorsImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.WinnowAnchorsImpl.compute($c, $k, $w);")
  override protected def withNewChildInternal(newChild: Expression): WinnowAnchors =
    copy(child = newChild)
}

/** winnow(text, k, w) → array<long>: winnowing fingerprint set of a
  * string ([] when shorter than k; null only for null input).
  */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override def nullSafeEval(v: Any): Any =
    WinnowImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.WinnowImpl.compute($c, $k, $w);")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** word_shingles(tokens, n) → array<string>: every word n-gram of a
  * token array ([] if fewer than n tokens; null only for null input).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"
  override def nullSafeEval(v: Any): Any =
    WordShinglesImpl.compute(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.WordShinglesImpl.compute($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object HpaImpl {
  private val SPEC = Array("Not detected", "Tissue enriched", "Group enriched",
    "Tissue enhanced", "Low tissue specificity").map(org.apache.spark.unsafe.types.UTF8String.fromString)
  private val DIST = Array("Not detected", "Detected in single", "Detected in some",
    "Detected in many", "Detected in all").map(org.apache.spark.unsafe.types.UTF8String.fromString)

  /** One-pass HPA specificity + distribution classification
    * (`baseline_expression/metrics.py:31-58` semantics; see
    * graft.core.Stats for the rule definitions).
    *
    * Exists because the composable higher-order-function formulation
    * inlines the mean-aggregate into the filter lambda — O(n²) interpreted
    * per row (278 s for sf0.1's ~600-element vectors vs <1 s here).
    */
  def classify(values: ArrayData, low: Double): org.apache.spark.sql.catalyst.InternalRow = {
    val n = values.numElements()
    val xs = new Array[Double](n)
    var i = 0
    var total = 0.0
    while (i < n) { xs(i) = values.getDouble(i); total += xs(i); i += 1 }
    java.util.Arrays.sort(xs)
    val top = if (n > 0) xs(n - 1) else Double.NaN
    val mean = if (n > 0) total / n else Double.NaN

    val spec: org.apache.spark.unsafe.types.UTF8String =
      if (n == 0 || top < low) SPEC(0)
      else if (n >= 2 && (xs(n - 2) == 0.0 || top / xs(n - 2) >= 4.0)) SPEC(1)
      else {
        var group = false
        var k = 2
        while (k <= 5 && !group) {
          if (n >= k + 1 && (xs(n - k - 1) == 0.0 || xs(n - k) / xs(n - k - 1) >= 4.0)) group = true
          k += 1
        }
        if (group) SPEC(2)
        else {
          var cnt = 0
          var j = 0
          while (j < n) { if (xs(j) / mean >= 4.0) cnt += 1; j += 1 }
          if (cnt >= 1 && cnt <= 5) SPEC(3) else SPEC(4)
        }
      }

    val dist: org.apache.spark.unsafe.types.UTF8String =
      if (n == 0 || top < low) DIST(0)
      else {
        var det = 0
        var j = 0
        while (j < n) { if (xs(j) > low) det += 1; j += 1 }
        if (det == 1) DIST(1)
        else if (det < n.toDouble / 3) DIST(2)
        else if (det < n) DIST(3)
        else DIST(4)
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](spec, dist))
  }
}

object TextStatsImpl {
  import org.apache.spark.unsafe.types.UTF8String

  private def set(words: String*): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.length * 2)
    words.foreach(s.add)
    s
  }
  // Mirrors graft.text.TextAnalysis.stopwords exactly.
  private val EN = set("the", "and", "of", "to", "in", "is", "that", "for", "with", "a")
  private val ES = set("el", "la", "de", "que", "y", "en", "los", "del", "se", "un")
  private val DE = set("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein")
  private val FR = set("le", "la", "de", "et", "les", "des", "un", "une", "du", "est")
  private val LANGS = Array("de", "en", "es", "fr") // ascending, for argmax tie-break

  private val UND = UTF8String.fromString("und")
  private val LANG_U8 = LANGS.map(UTF8String.fromString)

  /** One pass over the text: char counts, whitespace tokenization, and
    * per-language stopword hits with the same argmax/tie-break as
    * TextAnalysis.langId (greatest hits; ties → lexicographically larger
    * language code). Semantics equivalence is asserted by TextSpec.
    */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val nChars = text.numChars()
    var nTokens = 0
    var nCharsNoWs = 0
    val hits = new Array[Int](4) // de, en, es, fr (LANGS order)
    var i = 0
    val len = s.length
    while (i < len) {
      // skip whitespace run
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
        nTokens += 1
        nCharsNoWs += i - start
        val tok = s.substring(start, i).toLowerCase
        if (DE.contains(tok)) hits(0) += 1
        if (EN.contains(tok)) hits(1) += 1
        if (ES.contains(tok)) hits(2) += 1
        if (FR.contains(tok)) hits(3) += 1
      }
    }
    var best = 0
    var b = 1
    while (b < 4) { if (hits(b) >= hits(best)) best = b; b += 1 } // >=: larger code wins ties
    val lang = if (hits(best) > 0) LANG_U8(best) else UND
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nChars, nTokens, nCharsNoWs, hits(1), hits(2), hits(0), hits(3), lang))
  }
}

/** text_stats(text) → struct<n_chars, n_tokens, n_chars_no_ws, h_en,
  * h_es, h_de, h_fr, lang_pred> in one pass (the composable
  * TextAnalysis formulation re-tokenizes per output column,
  * interpreted).
  */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars_no_ws", IntegerType, nullable = false),
    StructField("h_en", IntegerType, nullable = false),
    StructField("h_es", IntegerType, nullable = false),
    StructField("h_de", IntegerType, nullable = false),
    StructField("h_fr", IntegerType, nullable = false),
    StructField("lang_pred", StringType, nullable = false)))
  override def prettyName: String = "graft_text_stats"
  override def nullSafeEval(v: Any): Any =
    TextStatsImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object CharEntropyImpl {
  import org.apache.spark.unsafe.types.UTF8String

  /** Shannon entropy of the per-code-point distribution of `text`, in
    * nats, plus the code-point count and distinct-alphabet size — the
    * classic gibberish/binary-blob quality signal (near-zero entropy =
    * repeated filler; > ~4.3 nats on ASCII text = random bytes).
    *
    * Oracle-parity arithmetic (README determinism rules): each term
    * p·ln p is quantized exactly the way Spark's `Cast` quantizes a
    * double to decimal(28,12) — `BigDecimal(Double.toString(v))`
    * rounded HALF_UP — then summed exactly, so the DuckDB oracle's
    * `sum(CAST(p*ln(p) AS DECIMAL(28,12)))` reproduces the sum
    * independent of accumulation order. The p = c/n form keeps every
    * term in [−1/e, 0], where a 1-ulp libm `ln` divergence cannot move
    * the 12-decimal rounding (the c·ln c form reaches ~N·ln N, where it
    * can).
    */
  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Integer] = null
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Integer]()
        other.merge(cp, 1, (a, b) => a + b)
      }
    }
    if (n == 0) // entropy of nothing: (0, 0, 0.0) keeps the struct
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, 0, 0.0)) // non-null (defineCodeGen assumes it)
    val nD = n.toDouble
    var distinct = 0
    var sum = java.math.BigDecimal.ZERO
    def add(c: Int): Unit = {
      distinct += 1
      val p = c.toDouble / nD
      val term = p * Math.log(p)
      sum = sum.add(
        new java.math.BigDecimal(java.lang.Double.toString(term))
          .setScale(12, java.math.RoundingMode.HALF_UP))
    }
    var cp = 0
    while (cp < 128) { if (ascii(cp) > 0) add(ascii(cp)); cp += 1 }
    if (other != null) other.values().forEach(c => add(c))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, sum.negate().doubleValue()))
  }
}

/** char_entropy(text) → struct<n_chars, n_distinct, ent_nats> in one
  * pass; (0, 0, 0.0) on empty input. See [[CharEntropyImpl.compute]]
  * for the cross-engine determinism contract.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("ent_nats", DoubleType, nullable = false)))
  override def prettyName: String = "graft_char_entropy"
  override def nullSafeEval(v: Any): Any =
    CharEntropyImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropyImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object DeflateStatsImpl {
  import org.apache.spark.unsafe.types.UTF8String

  /** One Deflater per (executor thread, task), reset per row —
    * constructing a native zlib stream per call costs more than the
    * deflate of a small document. reset() restores a deterministic
    * initial state, so reuse cannot change output.
    *
    * Lifecycle: the native zlib stream is released eagerly via a
    * task-completion listener registered at first use inside a task
    * (end() + ThreadLocal removal — re-created per task, amortized over
    * the task's rows). Outside a task (driver-side eval: constant
    * folding, unit tests) there is no completion hook, so that one
    * stream per thread lives until GC — Deflater's JDK Cleaner releases
    * the native memory then; bounded by driver thread count.
    */
  private val local = new ThreadLocal[java.util.zip.Deflater]()

  private def deflater(): java.util.zip.Deflater = {
    var d = local.get()
    if (d == null) {
      d = new java.util.zip.Deflater(6, true) // raw deflate, no zlib header
      local.set(d)
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        d.end()
        local.remove()
      }
    }
    d
  }

  /** DEFLATE-compressibility of the UTF-8 bytes: the classic
    * templated/repetitive-text signal (highly compressible = boilerplate
    * or filler; near-incompressible = random bytes). ratio =
    * deflate_bytes / n_bytes; (0, 0, 0.0) on empty input.
    *
    * Exact deflate output depends on the JDK's bundled zlib, so the
    * ratio is NOT cross-engine oracle-able; the registered query exposes
    * envelope booleans instead (contract-oracle pattern) and
    * FunctionsSpec pins relative ordering on golden inputs.
    */
  def compute(text: UTF8String): InternalRow = {
    val in = text.getBytes
    if (in.length == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, 0, 0.0))
    val d = deflater()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](8192)
    var out = 0
    while (!d.finished()) out += d.deflate(buf)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](in.length, out, out.toDouble / in.length))
  }
}

/** deflate_stats(text) → struct<n_bytes, deflate_bytes, ratio>. */
case class DeflateStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("deflate_bytes", IntegerType, nullable = false),
    StructField("ratio", DoubleType, nullable = false)))
  override def prettyName: String = "graft_deflate_stats"
  override def nullSafeEval(v: Any): Any =
    DeflateStatsImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateStatsImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateStats =
    copy(child = newChild)
}

object GiniImpl {
  /** Gini coefficient, one pass after sort (reference
    * `baseline_expression/metrics.py:15-28`): Σ(2i−n−1)·xᵢ / (n·Σx) on
    * ascending-sorted x, 1-based i. Returns null boxed as NaN-free:
    * caller wraps. NaN when max == 0 (reference semantics).
    */
  def compute(values: ArrayData): Any = {
    val n = values.numElements()
    if (n == 0) return null
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = values.getDouble(i); i += 1 }
    java.util.Arrays.sort(xs)
    if (xs(n - 1) == 0.0) return null
    var total = 0.0
    var weighted = 0.0
    i = 0
    while (i < n) {
      total += xs(i)
      weighted += (2.0 * (i + 1) - n - 1) * xs(i)
      i += 1
    }
    if (total <= 0.0) null else java.lang.Double.valueOf(weighted / (n * total))
  }
}

/** gini(values: array<double>) → double, one-pass kernel (the HOF
  * formulation in core.Stats is equivalent but interpreted).
  */
case class Gini(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gini"
  override def nullSafeEval(v: Any): Any =
    GiniImpl.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |Object giniRes = graft.functions.GiniImpl.compute($c);
         |if (giniRes == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) giniRes).doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Gini =
    copy(child = newChild)
}

/** hpa_classify(values: array<double>, low) →
  * struct<specificity: string, distribution: string>, one pass.
  */
case class HpaClassify(child: Expression, low: Double) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("specificity", StringType, nullable = false),
    StructField("distribution", StringType, nullable = false)))
  override def prettyName: String = "graft_hpa_classify"
  override def nullSafeEval(v: Any): Any =
    HpaImpl.classify(v.asInstanceOf[ArrayData], low)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HpaImpl.classify($c, $low)")
  override protected def withNewChildInternal(newChild: Expression): HpaClassify =
    copy(child = newChild)
}

/** bloom_might_contain(key): membership probe of a driver-built Bloom
  * sketch against a LONG key. Exists so [[graft.core.BloomJoin]]'s
  * pre-shuffle fact filter stays inside whole-stage codegen — the
  * Scala-UDF formulation broke the fact scan's stage (closure dispatch +
  * boxing on the hot path the probe is supposed to cheapen). The
  * generated code carries the Broadcast HANDLE in the task binary (bytes),
  * not the sketch; `.value()` resolves once per executor. Null keys probe
  * false — a null never equi-matches the downstream semi join anyway.
  */
case class BloomMightContain(child: Expression, filter: Broadcast[BloomFilter])
    extends UnaryExpression with Predicate {
  // A non-long key must fail ANALYSIS loudly: the generated code would
  // otherwise silently widen an int (or fail to compile on a string,
  // then CCE in interpreted eval after the codegen fallback). The
  // GraftFunctions façade casts integral keys explicitly.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom probe key must be BIGINT, got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_bloom_might_contain"
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && filter.value.mightContainLong(v.asInstanceOf[Long])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bloomBc", filter, classOf[Broadcast[_]].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |final boolean ${ev.value} = !${c.isNull} &&
        |  ((org.apache.spark.util.sketch.BloomFilter) $bc.value()).mightContainLong(${c.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** cms_estimate(term) → estimated occurrence count of `term` in a
  * broadcast Count-Min sketch (`df.stat.countMinSketch` — mergeable
  * partial sketches, one pass, fixed memory). Codegen'd like
  * [[BloomMightContain]]: the probe inlines into whole-stage codegen, so
  * a CMS-gated filter or estimate column costs a hash-and-min per row,
  * not a closure dispatch. CMS guarantees estimate ≥ true count always,
  * and ≤ true + ε·N with probability 1−δ — `q_heavy_hitters` turns both
  * into oracle-checked contract booleans. Null terms → null estimate.
  */
case class CmsEstimate(
    child: Expression,
    sketch: Broadcast[org.apache.spark.util.sketch.CountMinSketch])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cms probe term must be STRING, got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_cms_estimate"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else sketch.value.estimateCount(v.toString)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("cmsBc", sketch, classOf[Broadcast[_]].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = ((org.apache.spark.util.sketch.CountMinSketch) $bc.value())
      |    .estimateCount(${c.value}.toString());
      |}
      """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
}

object ImageMetaImpl {
  /** Decode image-header metadata through a pluggable codec; null when
    * the bytes aren't a decodable image. Static entry point so generated
    * code calls it directly.
    */
  def compute(
      codec: graft.multimodal.Multimodal.ImageCodec,
      bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    codec.imageMeta(bytes) match {
      case Some((w, h, c, f)) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          w, h, c, org.apache.spark.unsafe.types.UTF8String.fromString(f)))
      case None => null
    }
}

/** image_meta(bytes) → struct<width,height,channels,format> via a
  * STATELESS image codec (header-only decode — [[graft.multimodal
  * .Multimodal.ImageIoCodec]] for real PNG/JPEG). A Catalyst expression,
  * so the projection stays inside whole-stage codegen instead of breaking
  * the stage around a Deserialize/SerializeFromObject pair the way the
  * mapPartitions scaffold does; that scaffold remains for codecs with
  * per-partition lifecycle (JNI handles, native buffers).
  */
case class ImageMeta(child: Expression, codec: graft.multimodal.Multimodal.ImageCodec)
    extends UnaryExpression {
  override def dataType: DataType = graft.multimodal.Multimodal.imageMetaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_image_meta"
  override def nullSafeEval(v: Any): Any =
    ImageMetaImpl.compute(codec, v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codecRef = ctx.addReferenceObj("imageCodec", codec,
      classOf[graft.multimodal.Multimodal.ImageCodec].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ImageMetaImpl.compute($codecRef, $c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)
}

object AudioMetaImpl {
  /** Decode audio-header metadata through a pluggable codec; null when
    * the bytes aren't decodable audio. duration_sec derives from
    * frames/sample_rate, null when the container leaves frames
    * unspecified (javax.sound NOT_SPECIFIED = -1).
    */
  def compute(
      codec: graft.multimodal.Multimodal.AudioCodec,
      bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    codec.audioMeta(bytes) match {
      case Some((sr, ch, bits, frames, fmt)) =>
        val dur: Any =
          if (frames >= 0 && sr > 0) java.lang.Double.valueOf(frames.toDouble / sr) else null
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          sr, ch, bits, frames, dur, org.apache.spark.unsafe.types.UTF8String.fromString(fmt)))
      case None => null
    }
}

/** audio_meta(bytes) → struct<sample_rate,channels,bits_per_sample,
  * frames,duration_sec,format> via a stateless audio codec (header-only —
  * [[graft.multimodal.Multimodal.JavaSoundCodec]] for real WAV/AIFF/AU).
  * Same design as [[ImageMeta]]: a projection inside whole-stage codegen.
  */
case class AudioMeta(child: Expression, codec: graft.multimodal.Multimodal.AudioCodec)
    extends UnaryExpression {
  override def dataType: DataType = graft.multimodal.Multimodal.audioMetaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_meta"
  override def nullSafeEval(v: Any): Any =
    AudioMetaImpl.compute(codec, v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codecRef = ctx.addReferenceObj("audioCodec", codec,
      classOf[graft.multimodal.Multimodal.AudioCodec].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.AudioMetaImpl.compute($codecRef, $c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

object VideoMetaImpl {
  /** Decode video-container metadata through a pluggable codec; null when
    * the bytes aren't a decodable container. duration_sec derives from
    * duration/timescale, null when the header declares no timescale.
    */
  def compute(
      codec: graft.multimodal.Multimodal.VideoCodec,
      bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    codec.videoMeta(bytes) match {
      case Some((w, h, duration, timescale, brand)) =>
        val dur: Any =
          if (timescale > 0) java.lang.Double.valueOf(duration.toDouble / timescale) else null
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          w, h, dur, timescale, org.apache.spark.unsafe.types.UTF8String.fromString(brand)))
      case None => null
    }
}

/** video_meta(bytes) → struct<width,height,duration_sec,timescale,brand>
  * via a stateless video codec (header-only —
  * [[graft.multimodal.Multimodal.Mp4Codec]] for real ISO BMFF).
  * Same design as [[ImageMeta]]: a projection inside whole-stage codegen.
  */
case class VideoMeta(child: Expression, codec: graft.multimodal.Multimodal.VideoCodec)
    extends UnaryExpression {
  override def dataType: DataType = graft.multimodal.Multimodal.videoMetaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_video_meta"
  override def nullSafeEval(v: Any): Any =
    VideoMetaImpl.compute(codec, v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codecRef = ctx.addReferenceObj("videoCodec", codec,
      classOf[graft.multimodal.Multimodal.VideoCodec].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.VideoMetaImpl.compute($codecRef, $c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

object CosineImpl {
  /** Cosine similarity of two equal-length numeric vectors. `aFloat` /
    * `bFloat` select each side's element accessor (the two sides may have
    * different element types, e.g. data vs literal hyperplane);
    * accumulation is double either way. Returns 0.0 for zero-norm inputs
    * (defined, deterministic).
    */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Dense overload for driver-tier replays (KMeans' small-input escape
    * hatch): the IDENTICAL loop over primitive arrays — same accumulation
    * order, same zero-norm rule — so a driver-side assignment is
    * bit-equal to the kernel's.
    */
  def compute(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}

/** cosine_sim(a, b) over array<float> or array<double> — the ANN scoring
  * kernel. A tight primitive-typed loop beats the composable
  * `aggregate(zip_with(...))` formulation by avoiding per-element lambda
  * dispatch, which matters when scoring billions of candidate pairs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineImpl.compute($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

object HilbertImpl {
  /** Hilbert index of (x, y) on the order-`bits` curve — the classic
    * xy→d walk (per level from the top: quadrant digit (3·rx) xor ry,
    * then the flip/swap rotation into the subquadrant frame). Static so
    * generated code calls it directly; the imperative loop is the whole
    * point — the same walk as a Column chain needs one projection per
    * level because each level's state feeds the next.
    */
  def index(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** hilbert(x, y) — Hilbert-curve index of two long dimensions at the
  * given bit order. One codegen'd call per row where the equivalent
  * declarative formulation stacks `bits` dependent projections (each
  * level's (x, y, d) feeds the next, so CollapseProject cannot fuse them
  * without exponential expression blowup). Domain contract matches
  * Layout.zValue2: low `bits` bits, pre-bucket wider dims.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 16, s"hilbert bits out of range: $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"
  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertImpl.index(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HilbertImpl.index($a, $b, $bits)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertIndex =
    copy(left = l, right = r)
}

object BpeEncodeImpl {
  /** Greedy BPE segmentation of one word under a FROZEN merge list
    * (flattened pairs: [a0,b0,a1,b1,…], rank order). Semantics match the
    * Bpe.mergePair HOF fold exactly — per merge one left-to-right
    * non-overlapping scan — over CODE POINTS (Column.substr semantics),
    * so kernel and spec formulation cannot diverge on supplementary
    * characters. One array reused across merges; no per-element lambda
    * dispatch (the HOF chain interprets m nested folds per word).
    */
  def compute(word: org.apache.spark.unsafe.types.UTF8String, merges: Array[String]): ArrayData = {
    val s = word.toString
    var syms = new java.util.ArrayList[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      syms.add(s.substring(i, i + n))
      i += n
    }
    var m = 0
    while (m + 1 < merges.length) {
      val a = merges(m)
      val b = merges(m + 1)
      val next = new java.util.ArrayList[String](syms.size)
      var j = 0
      while (j < syms.size) {
        if (j + 1 < syms.size && syms.get(j) == a && syms.get(j + 1) == b) {
          next.add(a + b)
          j += 2
        } else {
          next.add(syms.get(j))
          j += 1
        }
      }
      syms = next
      m += 2
    }
    val out = new Array[Any](syms.size)
    var k = 0
    while (k < syms.size) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(syms.get(k))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** bpe_encode(word) under a frozen merge table — the APPLY-side tokenizer
  * kernel (`text/Bpe.encodeWords`). The merge list rides into generated
  * code as a reference object, so the whole segmentation stays inside
  * WholeStageCodegen; the chained-HOF formulation it replaces interprets
  * one aggregate fold PER MERGE per word (measured ~5x slower at sf0.1
  * with 8 merges).
  */
case class BpeEncodeWord(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  private lazy val flat: Array[String] = merges.flatMap(p => Seq(p._1, p._2)).toArray
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_encode"
  override def nullSafeEval(v: Any): Any =
    BpeEncodeImpl.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], flat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", flat, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeEncodeImpl.compute($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeWord =
    copy(child = newChild)
}

object JaroWinklerImpl {
  /** Jaro-Winkler similarity over UTF-16 code units — the record-linkage
    * scoring primitive (reference has no fuzzy matcher; beyond-reference
    * scope). Semantics pinned to DuckDB's `jaro_winkler_similarity`
    * (rapidfuzz lineage), empirically verified case-exact:
    *  - either side empty → 0.0 (INCLUDING both empty — not 1.0);
    *  - Jaro: greedy left-to-right matching inside the
    *    max(l1,l2)/2 − 1 window (clamped ≥ 0), transpositions halved,
    *    (m/l1 + m/l2 + (m−t)/m) / 3.0 accumulated left-to-right so the
    *    IEEE result is bit-identical to the oracle's;
    *  - Winkler boost ONLY when jaro > 0.7: sim + p·0.1·(1−sim) with
    *    common prefix p capped at 4.
    * ASCII-exact vs DuckDB by construction; non-BMP code points would
    * count as two units here vs one there (documents are ASCII ids/names
    * in every registered use).
    */
  def compute(a: org.apache.spark.unsafe.types.UTF8String,
              b: org.apache.spark.unsafe.types.UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val sim = (matches.toDouble / l1 + matches.toDouble / l2 +
      (matches - t).toDouble / matches) / 3.0
    if (sim > 0.7) {
      var p = 0
      val cap = math.min(4, math.min(l1, l2))
      while (p < cap && s1.charAt(p) == s2.charAt(p)) p += 1
      sim + p * 0.1 * (1.0 - sim)
    } else sim
  }
}

/** jaro_winkler(a, b) → double in [0,1]. Codegen'd scoring kernel for the
  * blocked entity-resolution join (q_entity_match): candidate pairs are
  * generated by a blocking key equi-join, so this runs once per in-block
  * pair — a tight char-array loop inside WholeStageCodegen, no boxing.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroWinklerImpl.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
}

object ImageDHashImpl {
  /** Boxed-Long bridge so generated code gets a nullable result without
    * primitive unboxing hazards (the ImageMeta null-struct pattern).
    */
  def compute(bytes: Array[Byte]): java.lang.Long =
    graft.multimodal.Multimodal.PerceptualHash.dHash64(bytes) match {
      case Some(h) => java.lang.Long.valueOf(h)
      case None => null
    }
}

/** image_dhash(bytes) → long|null. 64-bit perceptual dHash over a binary
  * image column (PerceptualHash.dHash64): the image-side near-duplicate
  * key — band it and bucket-join exactly like SimHash64 over text.
  * Undecodable bytes → null (never an executor crash).
  */
case class ImageDHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_image_dhash"
  override def nullSafeEval(v: Any): Any = {
    val r = ImageDHashImpl.compute(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.longValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Long graftDh = graft.functions.ImageDHashImpl.compute($c);
         |if (graftDh == null) { ${ev.isNull} = true; } else { ${ev.value} = graftDh.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ImageDHash =
    copy(child = newChild)
}

object DamerauLevenshteinImpl {
  /** TRUE Damerau-Levenshtein (unrestricted — transposed characters may
    * be edited in between, the dictionary-DP formulation), pinned
    * variant-exact to DuckDB's `damerau_levenshtein` (empirically: the
    * classic discriminator CA→ABC = 2 where restricted OSA gives 3; 400
    * random cases exact). Integer DP over UTF-16 code units — no float
    * anywhere, so cross-engine parity is structural, not numeric.
    */
  def compute(a: org.apache.spark.unsafe.types.UTF8String,
              b: org.apache.spark.unsafe.types.UTF8String): Int = {
    val s1 = a.toString
    val s2 = b.toString
    val n = s1.length
    val m = s2.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    val h = Array.ofDim[Int](n + 2, m + 2)
    h(0)(0) = inf
    var i = 0
    while (i <= n) { h(i + 1)(1) = i; h(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= m) { h(1)(j + 1) = j; h(0)(j + 1) = inf; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val i1 = Option(da.get(s2.charAt(j - 1))).map(_.intValue).getOrElse(0)
        val j1 = db
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) { db = j; 0 } else 1
        h(i + 1)(j + 1) = math.min(
          math.min(h(i)(j) + cost, h(i + 1)(j) + 1),
          math.min(h(i)(j + 1) + 1, h(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)))
        j += 1
      }
      da.put(s1.charAt(i - 1), i)
      i += 1
    }
    h(n + 1)(m + 1)
  }
}

/** damerau_levenshtein(a, b) → int. The transposition-aware edit
  * distance beside [[JaroWinkler]] in the record-linkage kit: a swapped
  * character pair costs 1 here where plain Levenshtein charges 2 —
  * q_edit_audit reads that contrast directly.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_damerau_levenshtein"
  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshteinImpl.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DamerauLevenshteinImpl.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DamerauLevenshtein =
    copy(left = l, right = r)
}

object NextFitImpl {
  /** One-pass next-fit bin assignment over a doc-size array: sizes cap
    * at ctx (oversize docs bin alone, the caller flags truncation), a
    * doc joins the open bin when it fits, else opens the next. Seeded
    * with (bin0, fill0) so a standing layout's tail carries in — the
    * kernel behind Packing.packGreedy/packGreedyAppend. Replaces the
    * aggregate-HOF fold whose per-element array concat was O(m²) per
    * shard (14× at a 10× corpus); this is O(m) and allocation-free
    * until the result array.
    */
  def compute(ns: ArrayData, bin0: Long, fill0: Long, ctx: Long): ArrayData = {
    val m = ns.numElements()
    val bins = new Array[Long](m)
    var bin = bin0
    var fill = fill0
    var i = 0
    while (i < m) {
      // A null size has no defensible placement — silently reading 0
      // would shift every later bin. Null in → null out (the SQL surface
      // allows nullable elements; the library path never produces them).
      if (ns.isNullAt(i)) return null
      val ne = math.min(ns.getLong(i), ctx)
      if (fill + ne <= ctx) fill += ne
      else { bin += 1; fill = ne }
      bins(i) = bin
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(bins)
  }
}

/** next_fit_bins(sizes: array<bigint>, bin0, fill0) → array<bigint>:
  * the sequential next-fit scan as a codegen'd scalar kernel (ctxLen a
  * plan-time constant). Sequentiality lives INSIDE one row's array —
  * exactly where the per-shard fold put it — so the operator stays a
  * projection.
  */
case class NextFitBins(
    sizes: Expression,
    bin0: Expression,
    fill0: Expression,
    ctxLen: Long) extends TernaryExpression {
  override def first: Expression = sizes
  override def second: Expression = bin0
  override def third: Expression = fill0
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // null size element → null result
  override def prettyName: String = "graft_next_fit_bins"
  override def nullSafeEval(s: Any, b: Any, f: Any): Any =
    NextFitImpl.compute(
      s.asInstanceOf[ArrayData],
      b.asInstanceOf[java.lang.Long],
      f.asInstanceOf[java.lang.Long],
      ctxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, b, f) => {
      // freshName: two graft_next_fit_bins calls can land in ONE generated
      // method (the function is SQL-registered) — a fixed local would be a
      // duplicate declaration and a janino compile failure.
      val res = ctx.freshName("nfbRes")
      s"""
         |Object $res = graft.functions.NextFitImpl.compute($s, $b, $f, ${ctxLen}L);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $res; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): NextFitBins =
    copy(sizes = f, bin0 = s, fill0 = t)
}

/** Serializable Aho-Corasick automaton: the one-pass multi-pattern
  * matcher behind [[MultiMatchCounts]]. Built once on the driver from a
  * bounded pattern list and shipped to executors inside the expression
  * (codegen embeds it via `addReferenceObj`), so a k-keyword scan costs
  * ONE walk over each document instead of k regexp passes — the shape
  * that matters when the corpus is 100 TB and the scrub list has
  * thousands of entries. Matching is over UTF-16 code units,
  * case-sensitive (normalize upstream); every occurrence is counted,
  * including occurrences overlapping other patterns or other
  * occurrences of the same pattern (the automaton reports every end
  * position — for self-overlap-free patterns this equals the
  * non-overlapping replace count, which is what the SQL oracle can
  * express).
  */
final class AhoCorasick(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty, "AhoCorasick: empty pattern list")
  require(patterns.forall(_.nonEmpty), "AhoCorasick: empty pattern")

  // Trie + fail links + per-node output closure, all in flat arrays.
  private val (children, fail, outputs) = {
    val kids = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    for ((p, pid) <- patterns.zipWithIndex) {
      var cur = 0
      var i = 0
      while (i < p.length) {
        val ch = p.charAt(i)
        var nxt = kids(cur).get(ch)
        if (nxt == null) {
          kids += new java.util.HashMap[Character, Integer]()
          ends += Nil
          nxt = kids.size - 1
          kids(cur).put(ch, nxt)
        }
        cur = nxt
        i += 1
      }
      ends(cur) = pid :: ends(cur)
    }
    val n = kids.size
    val fl = new Array[Int](n)
    val out = new Array[Array[Int]](n)
    out(0) = ends(0).toArray
    val queue = new java.util.ArrayDeque[Integer]()
    kids(0).forEach { (_, v) => fl(v) = 0; queue.add(v) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      // Output closure: own pattern ends ++ the fail target's closure
      // (already computed — BFS order guarantees fail(u) was dequeued).
      out(u) = (ends(u) ++ out(fl(u)).toList).toArray
      kids(u).forEach { (ch, v) =>
        var f = fl(u)
        while (f != 0 && !kids(f).containsKey(ch)) f = fl(f)
        val t = kids(f).get(ch)
        fl(v) = if (t != null && t.intValue() != v.intValue()) t.intValue() else 0
        queue.add(v)
      }
    }
    (kids.toArray, fl, out)
  }

  /** Per-pattern occurrence counts over one text. */
  def countMatches(text: String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var cur = 0
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      while (cur != 0 && !children(cur).containsKey(ch)) cur = fail(cur)
      val nxt = children(cur).get(ch)
      cur = if (nxt == null) 0 else nxt.intValue()
      val o = outputs(cur)
      var j = 0
      while (j < o.length) { counts(o(j)) += 1L; j += 1 }
      i += 1
    }
    counts
  }
}

object MultiMatchImpl {
  def counts(ac: AhoCorasick,
             t: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      ac.countMatches(t.toString))
}

/** multi_match_counts(text) → array<bigint>: per-pattern occurrence
  * counts for a plan-time-constant pattern list, one Aho-Corasick pass
  * per row. Position i of the result counts `patterns(i)`. Full codegen
  * citizen: the automaton rides `addReferenceObj`, so generated code
  * calls straight into the walk with no boxing or regex machinery.
  */
case class MultiMatchCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_multi_match"
  @transient private lazy val automaton = new AhoCorasick(patterns.toArray)
  override def nullSafeEval(t: Any): Any =
    MultiMatchImpl.counts(automaton,
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.MultiMatchImpl.counts($ref, $c)")
  }
  override protected def withNewChildInternal(newChild: Expression): MultiMatchCounts =
    copy(child = newChild)
}

object UnicodeNormImpl {
  private val forms = java.text.Normalizer.Form.values()
  def formOf(name: String): java.text.Normalizer.Form =
    forms.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unicode_norm: form must be one of ${forms.mkString("/")}, got '$name'"))
  def normalize(s: org.apache.spark.unsafe.types.UTF8String,
                form: java.text.Normalizer.Form): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // Fast path: already normalized (all-ASCII always is) — skip the
    // rewrite and return the input buffer untouched.
    if (java.text.Normalizer.isNormalized(str, form)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, form))
  }
  /** Codegen entry: the form arrives as a validated plan-time string
    * literal (janino-safe — no nested-enum class name in generated
    * code); the O(1) valueOf is noise next to the normalization walk.
    */
  def normalizeNamed(s: org.apache.spark.unsafe.types.UTF8String,
                     name: String): org.apache.spark.unsafe.types.UTF8String =
    normalize(s, java.text.Normalizer.Form.valueOf(name))
}

/** unicode_norm(text, 'NFC'|'NFD'|'NFKC'|'NFKD') → string: Unicode
  * normalization as a codegen'd scalar. Web-scale dedup NEEDS this
  * upstream of any content hash: "café" composed (U+00E9) and
  * decomposed (e + U+0301) are byte-different, render identically, and
  * land in different exact-dedup buckets unless canonicalized. The form
  * is a plan-time constant; DuckDB's `nfc_normalize` oracles the NFC
  * path (the only form it ships).
  */
case class UnicodeNorm(child: Expression, formName: String)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_unicode_norm"
  @transient private lazy val form = UnicodeNormImpl.formOf(formName)
  override def nullSafeEval(t: Any): Any =
    UnicodeNormImpl.normalize(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], form)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Validate the form at plan time (lazy `form` would only throw at
    // eval), then embed the NAME as a string literal — janino-safe.
    val validated = UnicodeNormImpl.formOf(formName).name()
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.UnicodeNormImpl.normalizeNamed($c, "$validated")""")
  }
  override protected def withNewChildInternal(newChild: Expression): UnicodeNorm =
    copy(child = newChild)
}

object PqImpl {
  /** All m subspace codes of one vector in one pass — bit-identical to the
    * HOF formulation it replaces (Ann.pqEncode's
    * array_sort(zip_with(cents, sequence, struct(l2sq, cid)))[1]): per
    * subspace, per centroid, the squared-L2 folds left-to-right from 0.0
    * with (x−y)·(x−y) in element order (exactly aggregate ∘ zip_with),
    * and the argmin follows Spark's struct ordering — strict `<` keeps
    * the EARLIEST (lowest-cid) minimum on ties, and a NaN distance never
    * wins unless every distance is NaN (SQLOrderingUtil ranks NaN above
    * all doubles), in which case cid 0 wins the tie like the sort does.
    * Contract: vector elements non-null (the embeddings contract);
    * |v| = m·dsub.
    */
  def encode(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = books(s)
      val dsub = cents(0).length
      val off = s * dsub
      var best = 0.0
      var bc = 0
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val dd = v.getDouble(off + j) - c(j)
          acc = acc + dd * dd
          j += 1
        }
        if (ci == 0 || acc < best ||
            (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(acc))) {
          best = acc
          bc = ci
        }
        ci += 1
      }
      out(s) = bc
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC distance: Σ_s lut[s][codes[s]], folded from 0.0 in subspace
    * order — exactly the aggregate ∘ zip_with ∘ element_at fold it
    * replaces. Codes must index into their LUT rows (true by
    * construction: both derive from the same codebooks).
    */
  def adc(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc = acc + lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    acc
  }
}

/** graft_pq_encode(vec) → array<int>: every PQ subspace code of a vector
  * in ONE codegen'd call. The HOF formulation it replaces ran m·ksub
  * interpreted `aggregate(zip_with(...))` distance folds plus an
  * array_sort per subspace PER ROW — the corpus-side encode pass of
  * every PQ query (Ann.pqEncode) and the single hottest interpreted
  * loop the ANN family had. Codebooks are a plan-time constant embedded
  * via addReferenceObj (the BpeEncode / AhoCorasick model-as-literal
  * pattern). Bit-identical by PqImpl.encode's fold/ordering argument
  * (SimilaritySpec pins kernel ≡ HOF on real embeddings).
  */
case class PqEncodeCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(books.nonEmpty && books.forall(_.nonEmpty),
    "graft_pq_encode: empty codebooks")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullSafeEval(v: Any): Any =
    PqImpl.encode(v.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqImpl.encode($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** graft_adc(codes, lut) → double: the PQ asymmetric-distance sum as one
  * codegen'd call — the compressed-domain scan's per-row hot loop
  * (corpus × queries rows in Ann.adcScan), previously an interpreted
  * aggregate ∘ zip_with fold. Bit-identical fold order (PqImpl.adc).
  */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc"
  override def nullSafeEval(codes: Any, lut: Any): Any =
    PqImpl.adc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqImpl.adc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistance =
    copy(left = l, right = r)
}

object GramHashesImpl {
  /** xxhash64 (seed 42, Spark's xxhash64) of every `gramLen`-code-point
    * window at `stride`, hashed over the window's UTF-8 bytes ZERO-COPY
    * (one offset walk, no per-gram string materialization). Element i
    * covers the gram starting at 1-based code-point position
    * 1 + i·stride — exactly [[graft.text.SubstringDedup.gramStream]]'s
    * position convention, so `substr(text, pos, gramLen)` reads the
    * hashed gram's literal text back. Equal gram text ⇒ equal bytes ⇒
    * equal hash (UTF-8 is injective), which is the property the
    * hash-then-verify detection relies on.
    */
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              gramLen: Int, stride: Int): ArrayData = {
    val nChars = text.numChars()
    val n = nChars - gramLen + 1
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val offs = new Array[Int](nChars + 1)
    var b = 0
    var c = 0
    while (c < nChars) {
      offs(c) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      c += 1
    }
    offs(nChars) = text.numBytes()
    val m = 1 + (n - 1) / stride
    val out = new Array[Any](m)
    var i = 0
    var p = 0
    while (p < n) {
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        base, off + offs(p), offs(p + gramLen) - offs(p), 42L)
      i += 1
      p += stride
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** graft_gram_hashes(text, gramLen, stride) → array<long>: the hash half
  * of hash-then-verify substring-dedup detection
  * ([[graft.text.SubstringDedup.sharedSpans]]). Replaces materializing a
  * `gramLen`-char string PER POSITION (a ~gramLen× byte amplification
  * that was generated, checkpointed, aggregated and semi-joined as text)
  * with one long per position; candidate positions are later verified by
  * their literal gram text, so collisions only enlarge the candidate
  * set, never the result.
  */
case class GramHashes(child: Expression, gramLen: Int, stride: Int)
    extends UnaryExpression {
  require(gramLen >= 2 && stride >= 1, s"bad gram-hash config ($gramLen, $stride)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"
  override def nullSafeEval(t: Any): Any =
    GramHashesImpl.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], gramLen, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramHashesImpl.compute($c, $gramLen, $stride)")
  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object SuccessorPairsImpl {
  /** Largest pairable array: n² must stay an Int, and the ~1.07e9 pairs
    * of an array this size are already far past a sane allocation.
    */
  val MaxElements: Int = 46340

  /** Fails with a clear message (not an overflow or OOM) past [[MaxElements]]. */
  def requirePairable(n: Int): Unit =
    require(n <= MaxElements, s"successor_pairs: array too large to pair ($n elements)")

  /** All (i < j) element pairs of an array as one struct array — the
    * successor-pair emission every bucket/basket pairing site used to
    * spell as `posexplode(arr)` + `explode(slice(arr, pos + 2, size))`.
    * That chain materializes the FULL parent array once per generator
    * row (n copies of an n-array) plus one slice allocation per
    * position — O(n²) element copies spread over two Generate nodes.
    * Here the same n·(n−1)/2 pair multiset is built in one pass and one
    * allocation, and the consumer keeps a single builtin explode (still
    * whole-stage-codegen). Row multiset is IDENTICAL to the old chain:
    * (arr(i), arr(j)) for every i < j, in the same order, null elements
    * passed through as null struct fields.
    */
  def compute(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // Every call site bounds n by construction (basket size, maxBucket,
    // dfCap, maxDeg).
    requirePairable(n)
    val elems = arr.toObjectArray(et)
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(idx) = InternalRow(elems(i), elems(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** graft_successor_pairs(arr) → array<struct<a, b>>: all unordered (i<j)
  * element pairs, each exactly once — explode this instead of the
  * two-Generate posexplode×slice chain (see [[SuccessorPairsImpl]]).
  */
case class SuccessorPairs(child: Expression) extends UnaryExpression {
  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"graft_successor_pairs needs an array input, got $other")
  }
  override def dataType: DataType = child.dataType match {
    case ArrayType(et, cn) =>
      ArrayType(
        StructType(Seq(StructField("a", et, cn), StructField("b", et, cn))),
        containsNull = false)
    case other => throw new IllegalArgumentException(
      s"graft_successor_pairs needs an array input, got $other")
  }
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_successor_pairs"
  override def nullSafeEval(v: Any): Any =
    SuccessorPairsImpl.compute(v.asInstanceOf[ArrayData], elemType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SuccessorPairsImpl.compute($c, $et)")
  }
  override protected def withNewChildInternal(newChild: Expression): SuccessorPairs =
    copy(child = newChild)
}
