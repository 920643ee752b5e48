package graft

import org.apache.spark.sql.functions._
import graft.functions.{PortableHash, TextAnalysis}
import graft.operators.{BloomFilter, Chunking, Dedup}

/** Non-BMP regression for the portable-hash contract: every engine-
  * reproducible string hash folds Unicode CODE POINTS, so supplementary-
  * plane text (emoji, rare CJK) hashes identically on the JVM, in pure
  * Catalyst expressions, and in the DuckDB oracles (which fold
  * `unicode(c)`). The green CORRECTNESS runs only cover BMP corpora;
  * this spec is what pins the off-BMP behavior.
  */
class PortableHashSpec extends SparkSpec {
  import spark.implicits._

  // Strings that distinguish code-point from code-unit folds: 👍 U+1F44D
  // and 𝕏 U+1D54F are supplementary (2 UTF-16 units, 4 UTF-8 bytes);
  // é is 2 UTF-8 bytes, 中 is 3; the mixtures catch state-machine bugs.
  private val tricky = Seq(
    "", "a", "abc", "café", "中文 token", "👍", "a👍b", "👍👍",
    "𝕏-formerly", "naïve🙂mix", "😀 grin", "ascii only")

  /** Independent reference: fold code points exactly as the oracles do. */
  private def refCp31(s: String): Long = {
    var h = 0L
    s.codePoints().forEach(cp => h = (h * 31 + cp) % 4294967296L)
    h
  }

  test("cp31/cp31u fold code points, not UTF-16 code units") {
    tricky.foreach { s =>
      assert(PortableHash.cp31u(s) == refCp31(s), s"cp31u($s)")
      assert((PortableHash.cp31(s).toLong & 0xffffffffL) == refCp31(s))
    }
    // and they genuinely DIFFER from the code-unit fold off-BMP
    assert(PortableHash.cp31u("👍") != ("👍".hashCode.toLong & 0xffffffffL))
    assert(PortableHash.cp31("ascii only") == "ascii only".hashCode)
  }

  test("cp31uCol (UTF-8 byte decode, expression-only) == cp31u on every input") {
    val out = tricky.toDF("s")
      .select(col("s"), PortableHash.cp31uCol(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    tricky.foreach(s => assert(out(s) == PortableHash.cp31u(s), s"cp31uCol($s)"))
  }

  test("graft_cp31u (native codegen) == cp31u, standalone and inside a lambda") {
    val df = tricky.toDF("s")
    val out = df
      .select(col("s"), graft.plans.Cp31Hash.cp31uCol(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    tricky.foreach(s => assert(out(s) == PortableHash.cp31u(s), s"native($s)"))
    // inside a higher-order-function lambda (the CDC call shape): the
    // expression must evaluate interpreted too
    val inLambda = df
      .select(col("s"), element_at(transform(array(col("s")),
        x => graft.plans.Cp31Hash.cp31uCol(x)), 1).as("h"))
      .as[(String, Long)].collect().toMap
    tricky.foreach(s => assert(inLambda(s) == PortableHash.cp31u(s), s"lambda($s)"))
    // and the SQL name resolves
    val viaSql = spark.sql("SELECT graft_cp31u('a👍b')")
      .collect()(0).getLong(0)
    assert(viaSql == PortableHash.cp31u("a👍b"))
  }

  test("chunkContentDefined places boundaries by code-point hash on emoji text") {
    // divisor 2: a token ends a chunk iff its code-point hash is even
    val text = "👍 beta 𝕏ray café 中文 delta👍"
    val toks = text.trim.split("\\s+").toSeq
    val boundaries = toks.zipWithIndex.collect {
      case (t, i) if refCp31(t) % 2 == 0 => i + 1
    }
    val starts = 1 +: boundaries.map(_ + 1)
    val ends = boundaries :+ toks.length
    val expected = starts.zip(ends).filter { case (s, e) => s <= e }
      .zipWithIndex.map { case ((s, e), i) =>
        (i + 1L, s.toLong, (e - s + 1).toLong,
          toks.slice(s - 1, e).mkString(" "))
      }.toSet
    val got = Chunking
      .chunkContentDefined(Seq((1L, text)).toDF("doc_id", "text"), divisor = 2)
      .select("chunk_id", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == expected)
  }

  test("rollingHash64 folds code points (ASCII lowercase mapping intact)") {
    val out = Seq((1L, "Grin 😀 End"), (2L, "MiXeD ascii"), (3L, "👍"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.rollingHash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    def ref(s: String): Long = {
      var h = 1125899906842597L
      s.codePoints().forEach { cp0 =>
        val cp = if (cp0 >= 'A' && cp0 <= 'Z') cp0 + 32 else cp0
        h = h * 1000003L + cp
      }
      h
    }
    assert(out(1L) == ref("Grin 😀 End"))
    assert(out(2L) == ref("MiXeD ascii"))
    assert(out(3L) == ref("👍"))
  }

  test("minhash/simhash token hash uses the code-point base off-BMP") {
    // single-token signature == per-permutation tokenHash; rebuild it
    // from cp31 + the published fmix64 scramble and compare
    def fmix64(x0: Long): Long = {
      var x = x0
      x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL
      x ^= (x >>> 33); x *= 0xc4ceb9fe1a85ec53L
      x ^ (x >>> 33)
    }
    val tok = "👍🙂"
    val sig = Dedup.minhashSignature(Seq(tok), numPerm = 4)
    (0 until 4).foreach { i =>
      val expected = fmix64(
        PortableHash.cp31(tok).toLong ^ (0x9e3779b97f4a7c15L * (i + 1)))
      assert(sig(i) == expected, s"perm $i")
    }
    // simhash of a single token is that token's permutation-0 hash
    val expected0 = fmix64(PortableHash.cp31(tok).toLong ^ 0x9e3779b97f4a7c15L)
    assert(Dedup.simhash64(Seq(tok)) == expected0)
  }

  test("graft_tok64 == minhash permutation-0 token hash on every input") {
    // single-token signature at numPerm=1 IS tokenHash(0, t)
    val out = tricky.filter(_.nonEmpty).toDF("s")
      .select(col("s"), graft.plans.Tok64Hash.tok64Col(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    out.foreach { case (s, h) =>
      assert(h == Dedup.minhashSignature(Seq(s), 1)(0), s"tok64($s)")
    }
    // long-array intersect == string-array intersect on token sets
    val pairs = Seq(
      ("a b c d 👍", "c d e 👍"),
      ("x y z", "p q r"),
      ("one two", "one two"))
    pairs.foreach { case (ta, tb) =>
      val df = Seq((ta, tb)).toDF("ta", "tb")
      def hset(c: org.apache.spark.sql.Column) = array_sort(transform(
        array_distinct(split(trim(c), "\\s+")),
        t => graft.plans.Tok64Hash.tok64Col(t)))
      def sset(c: org.apache.spark.sql.Column) =
        array_sort(array_distinct(split(trim(c), "\\s+")))
      val (hi, si) = df.select(
        graft.plans.SortedIntersectSize
          .intersectSizeCol(hset(col("ta")), hset(col("tb"))).as("hi"),
        graft.plans.SortedIntersectSize
          .intersectSizeCol(sset(col("ta")), sset(col("tb"))).as("si"))
        .as[(Int, Int)].collect().head
      assert(hi == si, s"intersect($ta | $tb)")
    }
  }

  test("bloom filter probes emoji grams by code-point hash; membership holds") {
    val m = 256
    val k = 3
    val grams = Seq("👍 thumbs up", "中文 three gram").toDF("gram")
    val bits = BloomFilter.buildBits(grams, m, k)
    def probes(g: String): Seq[Long] = {
      val u = PortableHash.cp31u(g)
      val h1 = u % m
      val h2 = 1 + (u / m) % (m - 1)
      (0 until k).map(j => (h1 + j * h2) % m)
    }
    Seq("👍 thumbs up", "中文 three gram").foreach { g =>
      probes(g).foreach { p =>
        assert((bits(p.toInt >> 6) >> (p.toInt & 63) & 1L) == 1L, s"bit $p of $g")
      }
    }
    // end-to-end: a train doc sharing the emoji 3-gram is flagged true
    val bench = Seq((100L, "en", "zz 👍 thumbs up yy")).toDF("doc_id", "lang", "text")
    val train = Seq((1L, "en", "aa 👍 thumbs up bb"),
      (2L, "en", "totally disjoint words here")).toDF("doc_id", "lang", "text")
    val rep = BloomFilter.decontaminateReport(train, bench, n = 3)
      .as[(String, Long, Long, Long)].collect()
    assert(rep.length == 1)
    val (lang, nDocs, nBloom, nTrue) = rep.head
    assert(lang == "en" && nDocs == 1L && nTrue >= 1L && nBloom >= nTrue)
  }

  test("bloom membership rejects words/m drift") {
    val grams = Seq("a b c").toDF("gram")
    val words = BloomFilter.buildBits(grams, m = 256, k = 3)
    assert(words.length == 4)
    // probing with an m that disagrees with the built word array is a
    // hard error, not silently-wrong probe positions
    intercept[IllegalArgumentException] {
      BloomFilter.membershipCol(col("gram"), words, m = 512, k = 3)
    }
  }
}
