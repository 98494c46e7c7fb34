package graft

import org.apache.spark.sql.functions._
import graft.core.Stats
import graft.functions.GraftFunctions

class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("erf golden values (commons-math3 reference)") {
    val got = Seq(0.0, 1.0, -1.0, 2.0).toDF("x")
      .select($"x", GraftFunctions.erf($"x").as("e"))
      .as[(Double, Double)].collect().toMap
    assert(got(0.0) == 0.0)
    assert(math.abs(got(1.0) - 0.8427007929497149) < 1e-15)
    assert(got(-1.0) == -got(1.0))
    assert(math.abs(got(2.0) - 0.9953222650189527) < 1e-15)
  }

  test("twoSidedPFromZ matches the normal sf: z=1.96 -> ~0.05") {
    val p = Seq(1.96).toDF("z")
      .select(Stats.twoSidedPFromZ($"z").as("p")).head().getDouble(0)
    assert(math.abs(p - 0.04999579029644087) < 1e-12)
  }

  test("erf works through SQL registration") {
    val p = spark.sql("SELECT graft_erf(1.0) AS e").head().getDouble(0)
    assert(math.abs(p - 0.8427007929497149) < 1e-15)
  }

  test("simhash64: identical token arrays hash identically; near-identical are close") {
    val base = (1 to 40).map(i => s"tok$i")
    val nearDup = base.updated(5, "CHANGED")
    val far = (1 to 40).map(i => s"other$i")
    val df = Seq(("a", base), ("b", base), ("c", nearDup), ("d", far))
      .toDF("id", "toks")
      .select($"id", GraftFunctions.simhash64($"toks").as("h"))
    val m = df.as[(String, Long)].collect().toMap
    assert(m("a") == m("b"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("c")) < 16, s"near-dup hamming ${ham(m("a"), m("c"))}")
    assert(ham(m("a"), m("d")) > 16, s"far hamming ${ham(m("a"), m("d"))}")
  }

  test("cosineSim: orthogonal -> 0, identical -> 1, works on float arrays") {
    val df = Seq(
      ("id", Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      ("orth", Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      ("neg", Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f)),
      ("zero", Seq(0.0f, 0.0f), Seq(1.0f, 1.0f)),
    ).toDF("k", "a", "b").select($"k", GraftFunctions.cosineSim($"a", $"b").as("c"))
    val m = df.as[(String, Double)].collect().toMap
    assert(m("id") == 1.0 && m("orth") == 0.0 && m("neg") == -1.0 && m("zero") == 0.0)
  }

  test("minhashShingles: identical docs share full signature; jaccard-similar share most") {
    val a = "the quick brown fox jumps over the lazy dog again and again".split(" ").toSeq
    val b = a.updated(4, "leaps") // one change -> most 3-shingles shared? (3 shingles differ)
    val df = Seq(("a", a), ("a2", a), ("b", b), ("short", Seq("x", "y")))
      .toDF("id", "toks")
      .select($"id", GraftFunctions.minhashShingles($"toks", 3, 32).as("sig"))
    val rows = df.collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
    assert(rows("a").get == rows("a2").get)
    assert(rows("short").isEmpty, "docs with < n tokens yield null signature")
    val shared = rows("a").get.zip(rows("b").get).count { case (x, y) => x == y }
    assert(shared > 16, s"expected most minhashes shared, got $shared/32")
    assert(shared < 32)
  }

  test("charEntropy: uniform alphabet -> ln k, constant -> 0, empty -> zeros, code points") {
    val df = Seq(
      ("uniform4", "abcd" * 25),       // 4 equiprobable chars -> ln 4
      ("constant", "aaaaaaaa"),        // one char -> 0 entropy
      ("empty", ""),
      ("coin", "abababab"),            // 2 equiprobable -> ln 2
      ("astral", "😀😀ab"), // U+1F600 x2 + a + b: 4 code points
    ).toDF("k", "s").select($"k", GraftFunctions.charEntropy($"s").as("ce"))
    val m = df.select($"k", $"ce.n_chars", $"ce.n_distinct", $"ce.ent_nats")
      .as[(String, Int, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m("uniform4")._1 == 100 && m("uniform4")._2 == 4)
    assert(math.abs(m("uniform4")._3 - math.log(4.0)) < 1e-9)
    assert(m("constant") == ((8, 1, 0.0)))
    assert(m("empty") == ((0, 0, 0.0)))
    assert(math.abs(m("coin")._3 - math.log(2.0)) < 1e-9)
    // surrogate pair counted as ONE code point; distribution {2/4, 1/4, 1/4}
    assert(m("astral")._1 == 4 && m("astral")._2 == 3)
    val h = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    assert(math.abs(m("astral")._3 - h) < 1e-9)
  }

  test("deflateStats: repetitive << natural << random compressibility ordering") {
    val rnd = new scala.util.Random(42)
    val random = Array.fill(4000)((rnd.nextInt(94) + 33).toChar).mkString // printable noise
    val natural = ("the quick brown fox jumps over the lazy dog while seventeen " +
      "green bottles stand quietly on the wall near the old stone bridge ") * 30
    val repetitive = "all work and no play makes jack a dull boy " * 90
    val df = Seq(
      ("random", random), ("natural", natural), ("repetitive", repetitive), ("empty", ""),
    ).toDF("k", "s").select($"k", GraftFunctions.deflateStats($"s").as("d"))
    val m = df.select($"k", $"d.n_bytes", $"d.deflate_bytes", $"d.ratio")
      .as[(String, Int, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m("empty") == ((0, 0, 0.0)))
    assert(m("random")._1 == 4000)
    assert(m("repetitive")._3 < m("natural")._3, "boilerplate must compress better than prose")
    assert(m("natural")._3 < m("random")._3, "prose must compress better than noise")
    assert(m("repetitive")._3 < 0.05, s"90x-repeated line should collapse, got ${m("repetitive")._3}")
    assert(m("random")._3 > 0.8 && m("random")._3 <= 1.1)
    // determinism across re-evaluation (thread-local Deflater reset contract)
    val again = df.select($"d.deflate_bytes").as[Int].collect().sorted.toSeq
    assert(again == m.values.map(_._2).toSeq.sorted)
  }

  test("charEntropy through SQL registration") {
    val r = spark.sql("SELECT graft_char_entropy('abab').ent_nats AS e").head().getDouble(0)
    assert(math.abs(r - math.log(2.0)) < 1e-9)
  }

  test("CmsEstimate: never undercounts, bounded overcount, null terms, type guard") {
    import spark.implicits._
    val counts = Map("alpha" -> 100, "beta" -> 10, "gamma" -> 1)
    val terms = counts.toSeq.flatMap { case (t, n) => Seq.fill(n)(t) }
    val df = terms.toDF("t")
    val cms = df.stat.countMinSketch("t", 0.01, 0.99, 7)
    val bc = spark.sparkContext.broadcast(cms)
    val out = Seq(Option("alpha"), Option("beta"), Option("gamma"), Option.empty[String])
      .toDF("t")
      .select($"t", GraftFunctions.cmsEstimate($"t", bc).as("est"))
      .collect().map(r => Option(r.getString(0)) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val n = terms.size
    counts.foreach { case (t, exact) =>
      val est = out(Some(t)).get
      assert(est >= exact, s"$t: CMS must never undercount ($est < $exact)")
      assert(est <= exact + math.ceil(0.01 * n).toLong + 1, s"$t: overcount out of bound ($est)")
    }
    assert(out(None).isEmpty, "null term must estimate null")
    // Non-string probe fails analysis loudly (the Bloom guard pattern).
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("k").select(GraftFunctions.cmsEstimate($"k", bc)).collect()
    }
    assert(err.getMessage.contains("STRING"))
  }

  test("CMS partial sketches merge losslessly (the 100 TB shard-then-union shape)") {
    import spark.implicits._
    // Two disjoint shards (a month-sliced corpus) sketched independently
    // with the SAME (eps, confidence, seed) merge into a sketch whose
    // estimates are IDENTICAL to sketching the union in one pass — CMS
    // cells add, so shard-parallel builds lose nothing.
    val termsA = Seq.fill(40)("alpha") ++ Seq.fill(7)("beta")
    val termsB = Seq.fill(60)("alpha") ++ Seq.fill(3)("gamma")
    def sk(ts: Seq[String]) = ts.toDF("t").stat.countMinSketch("t", 0.01, 0.99, 7)
    val merged = sk(termsA)
    merged.mergeInPlace(sk(termsB))
    val whole = sk(termsA ++ termsB)
    Seq("alpha", "beta", "gamma", "absent").foreach { t =>
      assert(merged.estimateCount(t) == whole.estimateCount(t),
        s"$t: merged sketch must equal the one-pass sketch")
    }
    assert(merged.totalCount() == whole.totalCount())
  }

  test("jaroWinkler matches DuckDB jaro_winkler_similarity golden values") {
    // Pinned from DuckDB 1.0 (rapidfuzz lineage) — the oracle engine for
    // q_entity_match. Covers: transposition, identity, empty-side zero
    // (INCLUDING both-empty), 4-char prefix cap, the jaro<=0.7 no-boost
    // branch, and the linkage-shaped dropped-char case.
    val cases = Seq(
      ("martha", "marhta") -> 0.9611111111111111,
      ("abcd", "abcd") -> 1.0,
      ("", "x") -> 0.0,
      ("", "") -> 0.0,
      ("aaaaaX", "aaaaaY") -> 0.9333333333333333,
      ("abcdefxxxx", "abcdzzzzzzzzzzzz") -> 0.5499999999999999,
      ("Cstomer#000000054", "Customer#000000054") -> 0.9833333333333334,
      ("ab", "ba") -> 0.0,
    )
    val got = cases.map(_._1).toDF("a", "b")
      .select($"a", $"b", GraftFunctions.jaroWinkler($"a", $"b").as("s"))
      .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    cases.foreach { case (k, want) =>
      assert(got(k) == want, s"$k: got ${got(k)}, want $want (bit-exact)")
    }
  }

  test("jaroWinkler null propagation and SQL registration") {
    val df = Seq((Some("abc"), None: Option[String]), (None, Some("abc")), (Some("abc"), Some("abd")))
      .toDF("a", "b")
    val out = df.select(GraftFunctions.jaroWinkler($"a", $"b").as("s")).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && !out(2).isNullAt(0))
    val viaSql = spark.sql("SELECT graft_jaro_winkler('martha', 'marhta') AS s").head().getDouble(0)
    assert(viaSql == 0.9611111111111111)
  }

  test("multiMatchCounts: one-pass Aho-Corasick counts, overlaps, SQL registration") {
    // Overlapping patterns: "he"/"she"/"his"/"hers" over "ushers" — the
    // classic AC example; "she" and "he" both end at position 4 (every
    // end position is reported), "hers" ends at 6.
    val pats = Seq("he", "she", "his", "hers")
    val r = Seq("ushers", "his house", "", "hehehe").toDF("t")
      .select(GraftFunctions.multiMatchCounts($"t", pats).as("c"))
      .as[Seq[Long]].collect()
    assert(r(0) == Seq(1L, 1L, 0L, 1L), r(0).toString) // ushers: he, she, hers
    assert(r(1) == Seq(0L, 0L, 1L, 0L), r(1).toString)
    assert(r(2) == Seq(0L, 0L, 0L, 0L))
    assert(r(3) == Seq(3L, 0L, 0L, 0L)) // self-overlap-free "he" x3
    // Fail links inside a match run: "aa" in "aaaa" ends at 1,2,3.
    val aa = Seq("aaaa").toDF("t")
      .select(GraftFunctions.multiMatchCounts($"t", Seq("aa")).as("c"))
      .as[Seq[Long]].head()
    assert(aa == Seq(3L), aa.toString)
    // Null propagates; SQL registration with a constant array literal.
    val n = Seq(Option.empty[String]).toDF("t")
      .select(GraftFunctions.multiMatchCounts($"t", pats).as("c")).collect()
    assert(n(0).isNullAt(0))
    val viaSql = spark.sql(
      "SELECT graft_multi_match('ushers', array('he','she','his','hers')) AS c")
      .as[Seq[Long]].head()
    assert(viaSql == Seq(1L, 1L, 0L, 1L), viaSql.toString)
  }

  test("unicodeNorm: NFC/NFD/NFKC round-trips, fast path, SQL registration") {
    // Explicit escapes (not raw literals) so an editor/tooling
    // normalization pass cannot silently collapse the two forms.
    val decomposed = "cafe\u0301"  // e + combining acute U+0301
    val composed = "caf\u00e9"     // precomposed U+00E9
    val df = Seq((decomposed, composed)).toDF("d", "c")
    val r = df.select(
      GraftFunctions.unicodeNorm($"d", "NFC").as("nfc"),
      GraftFunctions.unicodeNorm($"c", "NFD").as("nfd"),
      GraftFunctions.unicodeNorm($"c", "NFC").as("idem"),
      GraftFunctions.unicodeNorm(lit("\ufb01le"), "NFKC").as("nfkc")).head()
    assert(r.getString(0) == composed, "NFC composes")
    assert(r.getString(1) == decomposed, "NFD decomposes")
    assert(r.getString(2) == composed, "already-NFC passes through")
    assert(r.getString(3) == "file", "NFKC folds the fi ligature")
    // Invalid form fails at plan/build time with a descriptive message.
    val e = intercept[IllegalArgumentException] {
      df.select(GraftFunctions.unicodeNorm($"d", "NFX")).head()
    }
    assert(e.getMessage.contains("NFX"), e.getMessage)
    // Spark's chr() wraps mod 256 (DuckDB's does not) — embed the
    // combining mark via the Scala escape instead.
    assert(spark.sql(s"SELECT graft_unicode_norm('$decomposed', 'NFC') AS s")
      .head().getString(0) == composed)
  }

  test("damerauLevenshtein: true (unrestricted) variant goldens, DuckDB-pinned") {
    val cases = Seq(
      ("CA", "ABC") -> 2,    // the OSA discriminator: restricted OSA says 3
      ("ab", "ba") -> 1,     // adjacent transposition costs 1
      ("", "") -> 0,
      ("", "abc") -> 3,
      ("abc", "") -> 3,
      ("Cutsomer#01", "Customer#01") -> 1, // the q_entity_match transposition class
      ("kitten", "sitting") -> 3,
    )
    val got = cases.map(_._1).toDF("a", "b")
      .select($"a", $"b", GraftFunctions.damerauLevenshtein($"a", $"b").as("d"))
      .as[(String, String, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    cases.foreach { case (k, want) => assert(got(k) == want, s"$k: got ${got(k)} want $want") }
    assert(spark.sql("SELECT graft_damerau_levenshtein('CA', 'ABC') AS d").head().getInt(0) == 2)
  }

  test("successorPairs kernel == posexplode+slice successor chain (longs, structs, edges)") {
    import org.apache.spark.sql.functions._
    // Long arrays incl. empty / single / null-array / null-element rows.
    val longs = Seq(
      (1L, Seq[java.lang.Long](3L, 1L, 7L, 5L)),
      (2L, Seq[java.lang.Long](9L)),
      (3L, Seq.empty[java.lang.Long]),
      (4L, null),
      (5L, Seq[java.lang.Long](2L, null, 4L)),
    ).toDF("id", "ps")
    def viaChain(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), posexplode(col("ps")).as(Seq("pos", "a")), col("ps"))
      .select(col("id"), col("a"), explode(slice(col("ps"), col("pos") + 2, size(col("ps")))).as("b"))
      .select("id", "a", "b")
    def viaKernel(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), explode(GraftFunctions.successorPairs(col("ps"))).as("p"))
      .select(col("id"), col("p.a").as("a"), col("p.b").as("b"))
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(sortedRows(viaKernel(longs)) == sortedRows(viaChain(longs)))
    // Struct-element arrays (the SparseSim posting-list shape).
    val structs = Seq((1L, Seq((10L, 0.5), (20L, 0.25), (30L, 0.75))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        e => struct(e.getField("_1").as("doc_id"), e.getField("_2").as("u"))).as("ps"))
    val viaChainS = structs
      .select(posexplode(col("ps")).as(Seq("pos", "a")), col("ps"))
      .select(col("a"), explode(slice(col("ps"), col("pos") + 2, size(col("ps")))).as("b"))
      .select(col("a.doc_id"), col("a.u"), col("b.doc_id"), col("b.u"))
    val viaKernelS = structs
      .select(explode(GraftFunctions.successorPairs(col("ps"))).as("p"))
      .select(col("p.a.doc_id"), col("p.a.u"), col("p.b.doc_id"), col("p.b.u"))
    assert(sortedRows(viaKernelS) == sortedRows(viaChainS))
    // SQL registration path.
    assert(spark.sql(
      "SELECT size(graft_successor_pairs(array(1, 2, 3, 4))) AS n").head().getInt(0) == 6)
  }

  test("successorPairs ceiling: 46,341 elements fail with a clear message, 46,340 pass the check") {
    import graft.functions.SuccessorPairsImpl
    // One past the documented contract, through a real query: the
    // require fires before any allocation, so this is neither an Int
    // overflow nor an OOM.
    val tooBig = spark.range(SuccessorPairsImpl.MaxElements + 1L)
      .agg(collect_list(col("id")).as("ps"))
      .select(size(GraftFunctions.successorPairs(col("ps"))))
    val e = intercept[Exception](tooBig.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null &&
      m.contains("successor_pairs: array too large to pair (46341 elements)")), msgs.mkString(" | "))
    // At the ceiling the check passes (running it would build ~1.07e9
    // pairs, so only the check is exercised).
    assert(SuccessorPairsImpl.MaxElements == 46340)
    SuccessorPairsImpl.requirePairable(46340)
    assert(SuccessorPairsImpl.MaxElements.toLong * SuccessorPairsImpl.MaxElements <= Int.MaxValue,
      "n² at the ceiling must fit an Int")
  }
}
