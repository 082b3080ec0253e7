package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import graft.text.PyText

class MinHashLSHSpec extends AnyFunSuite {
  import MinHashLSHSpec._

  private val params = MinHashLSH.Params()
  private lazy val (coefA, coefB) = MinHashLSH.coefficients(params)

  private def assertSameSignature(text: String): Unit = {
    val got = MinHashLSH.signature(text, params, coefA, coefB)
    val want = referenceSignature(text, params, coefA, coefB)
    assert(got.sameElements(want), s"signature differs for ${text.length}-char text: ${text.take(60)}")
  }

  test("shingle scratch: a capacity past 2^29 is rejected before any table is sized") {
    val s = new MinHashLSH.ShingleScratch
    for (huge <- Seq((1 << 30) + 1, Int.MaxValue))
      intercept[IllegalArgumentException](s.reset(huge))
    s.reset(3) // the default table still serves
    Seq(7L, 7L, 9L).foreach(s.add)
    assert(s.count == 2)
  }

  test("the reference modmul equals exact BigInt arithmetic on edge and random triples") {
    val big = BigInt(P)
    val rng = new java.util.Random(7)
    val hs = Seq(0L, 1L, (1L << 32) - 1) ++ Seq.fill(2000)(rng.nextLong() & 0xffffffffL)
    val as = Seq(1L, P - 1) ++ Seq.fill(20)(1 + java.lang.Math.floorMod(rng.nextLong(), P - 1))
    val bs = Seq(0L, P - 1) ++ Seq.fill(5)(java.lang.Math.floorMod(rng.nextLong(), P))
    for (a <- as; b <- bs; h <- hs)
      assert(refValue(a, h, b) == ((BigInt(a) * h + b) mod big).toLong, s"a=$a h=$h b=$b")
  }

  test("permMin equals the full-loop minimum on edge coefficients and hashes") {
    val edgeH = Array(0L, 1L, (1L << 32) - 1)
    val rng = new java.util.Random(11)
    val sets = edgeH.map(Array(_)).toSeq ++ edgeH.permutations.toSeq ++
      Seq.fill(200)(Array.fill(1 + rng.nextInt(400))(rng.nextLong() & 0xffffffffL)
        .++(edgeH.take(rng.nextInt(4))))
    for (a <- Seq(1L, P - 1, 1L << 60); b <- Seq(0L, 1L, P - 1); hs <- sets)
      assert(MinHashLSH.permMin(hs, hs.length, a, b) == refMin(hs, hs.length, a, b),
        s"a=$a b=$b hs=${hs.take(8).mkString(",")}")
  }

  test("permMin keeps a pair whose value wraps past P to a new minimum") {
    // a = P − 1 ≡ −1, so v(h) = (b − h) mod P. For h = 900: Q = 899 and
    // t = (R + b) mod P = P − 799, within 2^32 of P; t + Q wraps to 100,
    // below the first shingle's 990. Without the 2^32 guard in the skip
    // window this pair would be skipped and the minimum would read 990.
    val (a, b) = (P - 1, 1000L)
    val hs = Array(10L, 900L)
    val x = a * hs(1)
    val q = java.lang.Math.multiplyHigh(a, hs(1)) << 3 | (x >>> 61)
    val t = ((x & P) + b) % P
    assert(q > 0 && t >= P - (1L << 32))
    assert(refValue(a, hs(0), b) == 990L && refValue(a, hs(1), b) == 100L)
    assert(MinHashLSH.permMin(hs, hs.length, a, b) == 100L)
  }

  test("signatures equal the full-loop reference on every cc_pages_tiny text") {
    val texts = graft.SparkTestBase.spark.read.parquet("src/test/resources/cc_pages_tiny")
      .select("text").collect().map(_.getString(0))
    assert(texts.length == 10000)
    texts.foreach(assertSameSignature)
  }

  test("signatures equal the full-loop reference on short, repeated and non-ASCII texts") {
    val shortLens = Seq(0, 1, 23, 24, 25)
    shortLens.foreach(n => assertSameSignature("abcdefghijklmnopqrstuvwxyz".take(n)))
    shortLens.foreach(n => assertSameSignature("x" * n))
    Seq("ab" * 500, "the same line\n" * 200, "aaaa" * 1000,
      "Größe ÄÖÜ straße İstanbul ΣΑΣ " * 40, "日本語のテキスト、重複。" * 60,
      "emoji 😀 pair 😁 " * 50).foreach(assertSameSignature)
  }

  test("signatures equal the full-loop reference on 10,000 seeded random texts") {
    val rng = new java.util.Random(20261020L)
    val alphabets = Seq("ab", "abc ", "abcdefghijklmnopqrstuvwxyz ,.\n",
      "aAäÄßİıΣσς日本 😀")
    for (_ <- 0 until 10000) {
      val alpha = alphabets(rng.nextInt(alphabets.size))
      // mostly short docs, every 50th up to 4,000 chars
      val len = if (rng.nextInt(50) == 0) rng.nextInt(4001) else rng.nextInt(300)
      val sb = new StringBuilder(len)
      while (sb.length < len) sb.append(alpha.charAt(rng.nextInt(alpha.length)))
      assertSameSignature(sb.toString)
    }
  }
}

/** The full-loop kernel as it was before the skip window: every
  * (distinct shingle, permutation) pair takes the exact modmul. Kept
  * here as the reference the production kernel is compared against.
  */
object MinHashLSHSpec {
  private val P = MinHashLSH.MERSENNE_PRIME

  private def mulmodM(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    var r = (lo & P) + ((hi << 3) | (lo >>> 61))
    r = (r & P) + (r >>> 61)
    if (r >= P) r - P else r
  }

  private def mersenneMod(x: Long): Long = {
    val v = (x & P) + (x >>> 61)
    if (v >= P) v - P else v
  }

  def refValue(a: Long, h: Long, b: Long): Long = mersenneMod(mulmodM(a, h) + b)

  def refMin(hs: Array[Long], hn: Int, a: Long, b: Long): Long = {
    var m = Long.MaxValue
    var i = 0
    while (i < hn) {
      val v = refValue(a, hs(i), b)
      if (v < m) m = v
      i += 1
    }
    m
  }

  private def fnv(s: String, start: Int, n: Int): Long = {
    var h = 0x811c9dc5L
    var i = start
    while (i < start + n) {
      h ^= s.charAt(i)
      h = (h * 0x01000193L) & 0xffffffffL
      i += 1
    }
    h
  }

  def referenceSignature(text: String, p: MinHashLSH.Params,
                         a: Array[Long], b: Array[Long]): Array[Long] = {
    val t = PyText.lower(text)
    val n = p.charNgrams
    val hs =
      if (t.length < n) Array(fnv(t + " ", 0, t.length + 1))
      else (0 to t.length - n).map(fnv(t, _, n)).distinct.toArray
    Array.tabulate(p.numPerm)(j => refMin(hs, hs.length, a(j), b(j)))
  }
}
