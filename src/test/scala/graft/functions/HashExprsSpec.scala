package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class HashExprsSpec extends AnyFunSuite {

  test("rollingHash matches the (h*31 + c) mod 1e9+7 recurrence") {
    assert(HashFns.rollingHash("") === 0L)
    assert(HashFns.rollingHash("a") === 97L)
    assert(HashFns.rollingHash("ab") === 97L * 31 + 98)
    // stays within the modulus
    val h = HashFns.rollingHash("x" * 10000)
    assert(h >= 0 && h < 1000000007L)
  }

  test("simhash of identical token multisets is identical; near multisets are near") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f")),
      (2L, Seq("a", "b", "c", "d", "e", "f")),
      (3L, Seq("a", "b", "c", "d", "e", "g"))).toDF("id", "toks")
    val out = df.select($"id", HashFns.simhash32($"toks").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(2L))
    val hamming = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(hamming < 16, s"near-identical docs should be hamming-close, got $hamming")
  }

  test("simhash64: bit construction matches the two-view djb2 definition") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f")),
      (2L, Seq("a", "b", "c", "d", "e", "f")),
      (3L, Seq("a", "b", "c", "d", "e", "g"))).toDF("id", "toks")
    val out = df.select($"id", HashFns.simhash64($"toks").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(2L))
    val hamming = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(hamming > 0 && hamming < 32,
      s"near-identical docs should be hamming-close but distinct, got $hamming")
    // reference recomputation straight from the definition: bit j<32 from
    // djb2(t), bit j>=32 from djb2(t + "#"), majority balance per bit
    def ref(toks: Seq[String]): Long = {
      val bal = new Array[Int](64)
      for (t <- toks; j <- 0 until 32) {
        if (((Djb2.hash(t) >> j) & 1L) == 1L) bal(j) += 1 else bal(j) -= 1
        if (((Djb2.hash(t + "#") >> j) & 1L) == 1L) bal(j + 32) += 1 else bal(j + 32) -= 1
      }
      (0 until 64).foldLeft(0L)((acc, j) => if (bal(j) > 0) acc | (1L << j) else acc)
    }
    assert(out(1L) === ref(Seq("a", "b", "c", "d", "e", "f")))
    assert(out(3L) === ref(Seq("a", "b", "c", "d", "e", "g")))
    // the low 32 bits agree with simhash32 over the same tokens (same h1 view)
    val h32 = df.filter($"id" === 1L)
      .select(HashFns.simhash32($"toks")).head().getLong(0)
    assert((out(1L) & 0xFFFFFFFFL) === (h32 & 0xFFFFFFFFL))
  }

  test("shingleHashes == djb2 of the materialized shingle strings") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps", "a b", "", "one two three")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fast = df.select($"id", HashFns.shingleHashes(TextFns.tokens($"text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((t, i) <- texts.zipWithIndex) {
      val toks = t.split(" ", -1).toSeq
      val expected =
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(w => Djb2.hash(w.mkString(" "))).toSeq
      assert(fast(i.toLong) === expected, s"text=$t")
    }
  }

  test("minhashFromHashes(shingleHashes) == minhash(shingle strings)") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("id", "text")
    val a = df.select(HashFns.minhash(TextFns.shingles($"text", 3), 16))
      .head.getSeq[Long](0)
    val b = df.select(HashFns.minhashFromHashes(
      HashFns.shingleHashes(TextFns.tokens($"text"), 3), 16)).head.getSeq[Long](0)
    assert(a === b)
  }

  test("sortedIntersectCount == set-intersection size on random sorted arrays") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1L to 100L).map { id =>
      def arr() = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(30).toLong)
        .distinct.sorted
      (id, arr(), arr())
    }
    val got = rows.toDF("id", "a", "b")
      .select($"id", HashFns.sortedIntersectCount($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, a, b) <- rows)
      assert(got(id) === (a.toSet & b.toSet).size.toLong, s"a=$a b=$b")
  }

  test("minhash estimates Jaccard within tolerance on overlapping sets") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val a = (1 to 100).map(i => s"sh-$i")
    val b = (21 to 120).map(i => s"sh-$i") // true Jaccard = 80/120 = 2/3
    val df = Seq((1L, a), (2L, b)).toDF("id", "shs")
    val sigs = df.select($"id", HashFns.minhash($"shs", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y } / 16.0
    assert(est > 0.3 && est < 1.0, s"est=$est, expected near 0.67")
  }
}
