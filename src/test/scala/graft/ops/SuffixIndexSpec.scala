package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Suffix-index semantics: the prefix-doubling rank table must reproduce
  * true lexicographic suffix order, and the LCP-derived stats must equal a
  * brute-force enumeration of every substring — checked on hand-worked and
  * randomized corpora, plus shape invariants on the driver fixture.
  */
class SuffixIndexSpec extends SparkSpec {

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-sfx-").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    root
  }

  test("q130: ranks are the true suffix order (hand fixture + permutation invariant)") {
    val s = spark
    val dir = writeDocs(Seq(1L -> "a b a b a", 2L -> "x", 3L -> "b b b"))
    val got = SuffixIndex.q130SuffixRank(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 suffixes sorted: a(5) < a b a(3) < a b a b a(1) < b a(4) < b a b a(2)
    assert(got((1L, 5L)) === 1L)
    assert(got((1L, 3L)) === 2L)
    assert(got((1L, 1L)) === 3L)
    assert(got((1L, 4L)) === 4L)
    assert(got((1L, 2L)) === 5L)
    assert(got((2L, 1L)) === 1L)
    // doc 3 (all tokens equal): shortest suffix sorts first
    assert(got((3L, 3L)) === 1L && got((3L, 2L)) === 2L && got((3L, 1L)) === 3L)
    // driver fixture: per doc, sranks are a permutation of 1..n_tokens
    val byDoc = SuffixIndex.q130SuffixRank(s, sf).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (d, rows) =>
      val ranks = rows.map(_.getLong(2)).sorted.toSeq
      assert(ranks === (1L to rows.length.toLong), s"doc $d")
    }
  }

  test("q131: stats equal brute-force substring enumeration on random docs") {
    val s = spark
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Vector("a", "b", "c")
    val docs = (1L to 25L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
    }
    val dir = writeDocs(docs)
    val got = SuffixIndex.q131SuffixStats(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1).toSeq
      val subs = (for {
        i <- toks.indices; j <- i + 1 to toks.length
      } yield toks.slice(i, j)).toSet
      // brute LRS: longest substring occurring at two distinct positions
      val lrs = (for {
        len <- 1 until toks.length
        starts = toks.sliding(len).toSeq
        if starts.distinct.size < starts.size
      } yield len).maxOption.getOrElse(0)
      val (n, gotLrs, gotDistinct) = got(id)
      assert(n === toks.length.toLong, s"doc $id")
      assert(gotLrs === lrs.toLong, s"doc $id lrs")
      assert(gotDistinct === subs.size.toLong, s"doc $id distinct")
    }
  }

  test("q132: global ranks share across identical suffixes; per-doc order agrees with q130") {
    val s = spark
    // docs 1 and 2 identical → their suffixes must share global ranks
    val dir = writeDocs(Seq(1L -> "a b", 2L -> "a b", 3L -> "b a"))
    val got = SuffixIndex.q132GlobalSuffixRank(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // global order: a(3,2)=1 < a b(1,1)=(2,1)=2 < b(1,2)=(2,2)=3 < b a(3,1)=4
    assert(got((3L, 2L)) === 1L)
    assert(got((1L, 1L)) === 2L && got((2L, 1L)) === 2L)
    assert(got((1L, 2L)) === 3L && got((2L, 2L)) === 3L)
    assert(got((3L, 1L)) === 4L)
    // driver fixture: restricting the global order to one doc must give
    // exactly the per-doc suffix order q130 computes
    val gl = SuffixIndex.q132GlobalSuffixRank(s, sf).collect()
      .groupBy(_.getLong(0))
    val perDoc = SuffixIndex.q130SuffixRank(s, sf).collect()
      .groupBy(_.getLong(0))
    assert(gl.keySet === perDoc.keySet)
    gl.foreach { case (d, rows) =>
      val byGlobal = rows.sortBy(r => (r.getLong(2), r.getLong(1))).map(_.getLong(1)).toSeq
      val byLocal = perDoc(d).sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
      assert(byGlobal === byLocal, s"doc $d")
    }
  }

  test("q133: hand fixture enumerates exactly; fixture rows re-verified against raw text") {
    val s = spark
    import s.implicits._
    val dir = writeDocs(Seq(1L -> "a b", 2L -> "a b", 3L -> "b a"))
    val got = SuffixIndex.q133CorpusRepeats(s, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (2L, true, 1L, 1L, 2L, 1L), // "a b" duplicated whole-suffix
      (1L, true, 1L, 2L, 2L, 2L), // "b" duplicated whole-suffix
      (1L, false, 1L, 2L, 3L, 1L), // "b" vs "b a": prefix overlap 1
      (1L, false, 3L, 2L, 1L, 1L), // "a" vs "a b": prefix overlap 1
    ))
    // driver fixture: every emitted repeat is true of the raw text
    val toks = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val rows = SuffixIndex.q133CorpusRepeats(s, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length === 20)
    val lcps = rows.map(_._1).toSeq
    assert(lcps.zip(lcps.tail).forall { case (a, b) => a >= b })
    rows.foreach { case (lcp, same, da, pa, db, pb) =>
      assert((da, pa) !== ((db, pb)))
      val sa = toks(da).drop(pa.toInt - 1)
      val sb = toks(db).drop(pb.toInt - 1)
      // the claimed shared prefix really is shared
      assert(sa.take(lcp.toInt) === sb.take(lcp.toInt), s"($da,$pa)-($db,$pb)")
      if (same) assert(sa === sb, s"($da,$pa)-($db,$pb) whole-suffix claim")
      else // proper: they diverge right after the shared prefix (or one ends)
        assert((sa.lift(lcp.toInt) != sb.lift(lcp.toInt)) ||
          (sa.length == lcp && sb.length == lcp),
          s"($da,$pa)-($db,$pb) lcp maximality")
    }
  }

  test("q130/q132: random corpora match naive suffix sorts (per-doc and global)") {
    val s = spark
    val rnd = new scala.util.Random(424242L)
    val alphabet = Vector("a", "b")
    // tiny alphabet → dense rank collisions, duplicate suffixes across
    // docs, and long shared prefixes: the doubling loop's hard cases
    val docs = (1L to 15L).map { id =>
      val n = 1 + rnd.nextInt(24)
      id -> Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
    }
    val dir = writeDocs(docs)
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap

    val perDoc = SuffixIndex.q130SuffixRank(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    toks.foreach { case (id, ts) =>
      val naive = ts.indices.map(i => (i + 1) -> ts.drop(i))
        .sortBy(_._2)(math.Ordering.Implicits.seqOrdering)
        .zipWithIndex.map { case ((pos, _), r) => (id, pos.toLong) -> (r + 1L) }
      naive.foreach { case (k, v) => assert(perDoc(k) === v, s"doc $id $k") }
    }

    val global = SuffixIndex.q132GlobalSuffixRank(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val allSuffixes = toks.toSeq.flatMap { case (id, ts) =>
      ts.indices.map(i => (id, (i + 1).toLong) -> ts.drop(i))
    }
    val denseOf = allSuffixes.map(_._2).distinct
      .sorted(math.Ordering.Implicits.seqOrdering[Seq, String])
      .zipWithIndex.map { case (sfx, i) => sfx -> (i + 1L) }.toMap
    allSuffixes.foreach { case (k, sfx) =>
      assert(global(k) === denseOf(sfx), s"global $k")
    }
  }

  test("q134: planted contamination reads exact lengths; brute-force cross-check") {
    val s = spark
    // doc 97 is the eval slice (97 % 97 = 0); the corpus plants a 9-token
    // verbatim leak (over the 8-token threshold), a 6-token quote (under),
    // a disjoint-alphabet clean doc, and an exact eval twin
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      97L -> evalText,
      1L -> "x1 x2 gamma delta epsilon zeta eta theta iota kappa lambda x3",
      2L -> "y1 delta epsilon zeta eta theta iota y2",
      3L -> "p q r s t",
      4L -> evalText,
    )
    val dir = writeDocs(docs)
    val got = SuffixIndex.q134EvalLcs(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(!got.contains(97L)) // eval docs are not scored
    assert(got(1L) === ((12L, 9L, true)))
    assert(got(2L) === ((8L, 6L, false)))
    assert(got(3L) === ((5L, 0L, false)))
    assert(got(4L) === ((12L, 12L, true)))
    // brute force: every corpus substring vs every eval substring
    val evalToks = evalText.split(" ").toSeq
    val evalSubs = (for {
      i <- evalToks.indices; j <- i + 1 to evalToks.length
    } yield evalToks.slice(i, j)).toSet
    docs.filter(_._1 % 97 != 0).foreach { case (id, text) =>
      val ts = text.split(" ").toSeq
      val brute = (for {
        i <- ts.indices; j <- i + 1 to ts.length
        if evalSubs.contains(ts.slice(i, j))
      } yield j - i).maxOption.getOrElse(0)
      assert(got(id)._2 === brute.toLong, s"doc $id")
    }
  }

  test("q135: the transpose gate scores eval docs against the corpus") {
    val s = spark
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // two eval docs: 97 is leaked into corpus doc 1 (9-token run), 194
    // shares nothing with the corpus
    val dir = writeDocs(Seq(
      97L -> evalText,
      194L -> "u1 u2 u3 u4 u5 u6",
      1L -> "x1 x2 gamma delta epsilon zeta eta theta iota kappa lambda x3",
      2L -> "p q r s t",
    ))
    val got = SuffixIndex.q135EvalExposure(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet === Set(97L, 194L)) // only eval docs are scored
    assert(got(97L) === ((12L, 9L, true))) // burned via the doc-1 leak
    assert(got(194L) === ((6L, 0L, false))) // untouched benchmark item
    // symmetry with q134 on the same fixture: the leak reads the same
    // 9-token length from both directions
    val q134 = SuffixIndex.q134EvalLcs(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(q134(1L) === 9L)
  }

  test("witness-encoding guard: a >= 2^20-token doc fails loudly at build time") {
    val s = spark
    // VERDICT r10 #3: `doc_id·2^20 + pos` would corrupt witnesses for
    // pos >= 2^20 IDENTICALLY in engine and oracle — the hash gate can't
    // catch it, so the build must refuse before the doubling loop runs.
    val dir = writeDocs(Seq(1L -> ("t " * (1 << 20)).trim, 2L -> "a b"))
    val e = intercept[IllegalArgumentException] {
      SuffixIndex.globalSuffixRanks(s, dir)
    }
    assert(e.getMessage.contains("2^20"), e.getMessage)
    assert(e.getMessage.contains("re-chunk"), e.getMessage)
    // the doc_id bound guards the other half of the encoding
    val dir2 = writeDocs(Seq((1L << 43) -> "a b c"))
    val e2 = intercept[IllegalArgumentException] {
      SuffixIndex.globalSuffixRanks(s, dir2)
    }
    assert(e2.getMessage.contains("2^43"), e2.getMessage)
    // positive control: a corpus inside both bounds builds fine
    val ok = writeDocs(Seq(1L -> "a b a", 2L -> "b"))
    assert(SuffixIndex.globalSuffixRanks(s, ok).count() === 4L)
  }

  test("q167 span scrub: planted leaks cut exactly, overlaps merge, full wipe hashes empty") {
    val s = spark
    def sha(t: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val E = (1 to 10).map(i => s"E$i").mkString(" ") // the eval document
    val dir = writeDocs(Seq(
      97L -> E,                                  // eval slice (97 % 97 = 0)
      1L -> s"a b ${(1 to 8).map(i => s"E$i").mkString(" ")} c d", // 8-leak mid-doc
      2L -> s"x ${(3 to 10).map(i => s"E$i").mkString(" ")} y",    // 8-leak suffix carve
      3L -> "m n o",                             // clean
      4L -> s"$E z",                             // overlapping leaks merge to one span
      5L -> E,                                   // exact eval twin: full wipe
      6L -> s"p ${(1 to 7).map(i => s"E$i").mkString(" ")} q"      // 7 < threshold
    ))
    val got = SuffixIndex.q167SpanScrub(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L)) // eval doc not scored
    assert(got(1L) === ((12L, 8L, 1L, sha("a b c d"))))
    assert(got(2L) === ((10L, 8L, 1L, sha("x y"))))
    assert(got(3L) === ((3L, 0L, 0L, sha("m n o"))))
    assert(got(4L) === ((11L, 10L, 1L, sha("z"))))
    assert(got(5L) === ((10L, 10L, 1L, sha(""))))
    assert(got(6L) === ((9L, 0L, 0L,
      sha(s"p ${(1 to 7).map(i => s"E$i").mkString(" ")} q"))))
    // consistency with q134 on the same fixture: a doc is cut iff flagged
    val flagged = SuffixIndex.q134EvalLcs(s, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    got.foreach { case (id, (_, rem, _, _)) =>
      assert(flagged(id) === (rem > 0L), s"doc $id cut/flag disagree")
    }
  }

  test("q131: driver-fixture invariants (bounds, repeat iff lrs > 0)") {
    val s = spark
    val rows = SuffixIndex.q131SuffixStats(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, lrs, distinct) =>
      assert(lrs >= 0 && lrs < n, s"doc $d")
      assert(distinct >= n && distinct <= n * (n + 1) / 2, s"doc $d")
      // a doc with no repeated token has maximal distinct count and lrs 0
      assert((distinct == n * (n + 1) / 2) === (lrs == 0L), s"doc $d")
    }
  }
}
