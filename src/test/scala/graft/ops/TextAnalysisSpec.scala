package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixture-level semantics for the pipeline-hygiene operators: the driver
  * corpus contains no PII and little repetition, so the oracle check alone
  * proves determinism, not behavior — these fixtures prove the behavior.
  */
class TextAnalysisSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-text-").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    root
  }

  test("q61 scrubs emails and phones and counts them") {
    val s = spark
    import s.implicits._
    val dir = writeDocs(Seq(
      (1L, "contact alice.smith+spam@example.co.uk or 555-123-4567 today"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org one phone +555 123-456-7890"),
      (4L, "mixed-case Alice.Smith@Example.COM rings (555) 123-4567 or 555.123.4567"),
    ))
    val byId = TextAnalysis.q61PiiScrub(s, dir)
      .select($"doc_id", $"n_emails", $"n_phones").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byId(1L) === ((1L, 1L)))
    assert(byId(2L) === ((0L, 0L)))
    assert(byId(3L) === ((2L, 1L)))
    assert(byId(4L) === ((1L, 2L)), "case-insensitive email + ()/. phone shapes")
    // Redaction really removes the PII: scrubbed hash equals the hash of the
    // hand-redacted text.
    val expected = "contact <EMAIL> or <PHONE> today"
    val gotSha = TextAnalysis.q61PiiScrub(s, dir)
      .filter($"doc_id" === 1L).select($"scrubbed_sha").head.getString(0)
    val expSha = Seq(expected).toDF("t").select(sha2($"t", 256)).head.getString(0)
    assert(gotSha === expSha)
  }

  test("q63 flags repetitive docs by duplicate-3-gram fraction") {
    val s = spark
    import s.implicits._
    val dir = writeDocs(Seq(
      (1L, Seq.fill(10)("buy cheap pills now").mkString(" ")), // heavy repeats
      (2L, "every token here is completely unique in this doc"),
    ))
    val rows = TextAnalysis.q63Repetition(s, dir)
      .select($"doc_id", $"dup_3gram_frac", $"is_repetitive").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(rows(1L)._1 > 0.8 && rows(1L)._2)
    assert(rows(2L)._1 === 0.0 && !rows(2L)._2)
  }

  test("q64 keeps a unique short doc that has no 3-grams at all") {
    val s = spark
    import s.implicits._
    // 2 tokens → zero 3-grams → absent from q63; the gate's LEFT join must
    // treat it as non-repetitive, not drop it. Long tokens keep
    // quality_score above the cut (0.4·1.0 + 0.3·1.0 + 0.3·0.02 ≈ 0.71).
    val dir = writeDocs(Seq(
      (1L, "encyclopedia dictionary"),
      (2L, "a proper document with plenty of distinct tokens inside it here"),
    ))
    val kept = TextAnalysis.q64CorpusGate(s, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L), "short no-3-gram doc dropped by the gate")
    assert(kept.contains(2L))
  }

  test("q62 keeps one representative per exact and near-dup group") {
    val s = spark
    import s.implicits._
    val base = "grumpy wizards make toxic brew for the evil queen and jack " +
      "while zebras vex quick daft jumping dogs near the quiet riverbank"
    val dir = writeDocs(Seq(
      (1L, base),                    // representative
      (2L, base),                    // exact dup of 1 → dropped
      (3L, s"$base indeed"),         // near-dup of 1 → dropped
      (4L, "a wholly different document about spark shuffles and parquet " +
        "scans that shares nothing with the others at all"),
    ))
    val kept = Dedup.q62DedupCorpus(s, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L))
  }

  test("q84 vocab/OOV: top-64 by (count desc, token asc), rate counts occurrences") {
    val s = spark
    import s.implicits._
    // t01..t63 appear twice (doc 0 + doc 1); t64..t70 appear once (doc 0
    // only). The 64th vocabulary slot goes to the lexicographically
    // smallest once-token — t64 — so doc 0's OOV occurrences are exactly
    // t65..t70.
    val twice = (1 to 63).map(i => f"t$i%02d")
    val once = (64 to 70).map(i => f"t$i%02d")
    val dir = writeDocs(Seq(
      (0L, (twice ++ once).mkString(" ")),
      (1L, twice.mkString(" ")),
    ))
    val out = TextAnalysis.q84VocabOov(s, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (0L, 70L, 6L, 6.0 / 70.0),
      (1L, 63L, 0L, 0.0),
    ))
  }

  test("q105 BPE pairs: frequency-weighted, in-word multiplicity, tie-broken") {
    val s = spark
    val dir = writeDocs(Seq(
      (1L, "aaa bb aaa"),   // aaa twice: "aa" counts 2 per occurrence → 4
      (2L, "ab ab cd x"),   // "x" is sub-pair length — filtered out
      (3L, "banana"),       // an/na twice within one word occurrence
    ))
    val out = TextAnalysis.q105BpePairs(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(
      ("aa", 4L, 1L), ("ab", 2L, 1L), ("an", 2L, 1L), ("na", 2L, 1L),
      ("ba", 1L, 1L), ("bb", 1L, 1L), ("cd", 1L, 1L)))
  }

  test("q106 quantiles: hand-computed bins on a 1..100-token staircase corpus") {
    val s = spark
    // doc i has exactly i tokens → N=100; bucket cum counts: b0(n≤31)=31,
    // b1(≤63)=63, b2(≤95)=95, b3=100. p50→b1, p90→b2 (95≥90), p99→b3.
    val dir = writeDocs((1L to 100L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" "))))
    val out = TextAnalysis.q106LengthQuantiles(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      (50L, 1L, 64L, 63L, 100L),
      (90L, 2L, 96L, 95L, 100L),
      (99L, 3L, 128L, 100L, 100L)))
  }

  test("q109 chunking: window geometry, 16-token overlap, content hashes") {
    val s = spark
    def words(n: Int): Seq[String] = (1 to n).map(i => s"w$i")
    val dir = writeDocs(Seq(
      (1L, words(10).mkString(" ")),   // short doc → its own single chunk
      (2L, words(64).mkString(" ")),   // exactly one window
      (3L, words(65).mkString(" ")),   // 2 chunks: 64 + (49..65 = 17)
      (4L, words(200).mkString(" ")),  // 4 chunks: 64,64,64,56
    ))
    def sha(ts: Seq[String]): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(ts.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val out = TextAnalysis.q109ChunkDocs(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet === Set((1L, 0L), (2L, 0L), (3L, 0L), (3L, 1L),
      (4L, 0L), (4L, 1L), (4L, 2L), (4L, 3L)))
    assert(out((1L, 0L)) === ((10L, sha(words(10)))))
    assert(out((2L, 0L)) === ((64L, sha(words(64)))))
    assert(out((3L, 0L)) === ((64L, sha(words(65).take(64)))))
    assert(out((3L, 1L)) === ((17L, sha(words(65).drop(48)))))
    // stride-48 windows over 200 tokens: starts 1, 49, 97, 145
    (0 to 2).foreach { i =>
      assert(out((4L, i.toLong)) === ((64L, sha(words(200).slice(i * 48, i * 48 + 64)))))
    }
    assert(out((4L, 3L)) === ((56L, sha(words(200).drop(144)))))
  }

  test("q112 winnowing: rightmost ties, short-doc window, substring guarantee") {
    val s = spark
    // doc 1: 9 identical tokens → 7 identical shingle hashes; window starts
    // 0..3 each pick the RIGHTMOST position of their 4-hash window → fps at
    // positions 3,4,5,6, one shared hash. doc 2: 5 tokens → 3 shingles < W,
    // the single short window picks rightmost pos 2 (doc must not vanish).
    // docs 3/4 share the 6-token run c1..c6 (= W + k - 1) → the winnowing
    // theorem guarantees ≥ 1 shared fingerprint hash.
    val dir = writeDocs(Seq(
      (1L, Seq.fill(9)("w").mkString(" ")),
      (2L, Seq.fill(5)("w").mkString(" ")),
      (3L, "p1 p2 c1 c2 c3 c4 c5 c6 s1"),
      (4L, "z1 c1 c2 c3 c4 c5 c6 z2 z3"),
    ))
    val fps = TextAnalysis.q112WinnowFingerprints(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1)
    assert(byDoc(1L).map(_._2).sorted === Seq(3L, 4L, 5L, 6L))
    assert(byDoc(1L).map(_._3).distinct.size === 1) // one repeated hash
    assert(byDoc(2L).map(t => (t._2, t._3)).toSeq ===
      Seq((2L, byDoc(1L).head._3)))               // same shingle, rightmost of 3
    val shared = byDoc(3L).map(_._3).toSet intersect byDoc(4L).map(_._3).toSet
    assert(shared.nonEmpty, "winnowing guarantee violated for a 6-token match")
    // density: never more fingerprints than window starts
    assert(byDoc(3L).size <= 4 && byDoc(4L).size <= 4)
  }

  test("q112 winnowing property: matches an independent reimplementation on random docs") {
    val s = spark
    // independent formulation: explicit per-window argmin with a separate
    // rightmost-tie pass — no shared arithmetic with the production
    // int64-encoding trick, so an encoding bug cannot hide
    def winnowRef(tokens: Seq[String]): Set[(Long, Long)] = {
      if (tokens.length < 3) return Set.empty
      val hmod = tokens.sliding(3).map { w =>
        val h = graft.functions.Djb2.hash(w.mkString(" "))
        ((h % 2147483648L) + 2147483648L) % 2147483648L
      }.toIndexedSeq
      val n = hmod.length
      (0 to math.max(n - 4, 0)).map { p =>
        val win = p until math.min(p + 4, n)
        val minH = win.map(hmod).min
        (win.filter(j => hmod(j) == minH).max.toLong, minH)
      }.toSet
    }
    val rnd = new scala.util.Random(17)
    // a 6-symbol alphabet forces repeated shingles and genuine ties; doc 0
    // is empty-ish (2 tokens → no shingles, must be absent from output)
    val docs = (0L until 40L).map { i =>
      val len = if (i == 0) 2 else 1 + rnd.nextInt(60)
      (i, (1 to len).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    val dir = writeDocs(docs)
    val out = TextAnalysis.q112WinnowFingerprints(s, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    docs.foreach { case (id, text) =>
      val expected = winnowRef(text.split(" ").toSeq)
      assert(out.getOrElse(id, Set.empty) === expected, s"doc $id")
    }
    assert(!out.contains(0L)) // no shingles → no fingerprints, not a crash
  }

  test("q117 memorization risk: cross-doc window sharing, not within-doc repetition") {
    val s = spark
    val run8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, s"a1 a2 $run8"),        // 10 toks → 3 windows, 1 shared (c1..c8)
      (2L, s"$run8 b1"),           // 9 toks → 2 windows, 1 shared
      (3L, (1 to 12).map(i => s"u$i").mkString(" ")), // unique → 0 dup
      (4L, "s1 s2 s3 s4 s5"),      // < 8 tokens → no windows → absent
    ))
    val out = TextAnalysis.q117MemorizationRisk(s, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3.0, true)))
    assert(out(2L) === ((2L, 1L, 0.5, true)))
    assert(out(3L) === ((5L, 0L, 0.0, false)))
    assert(!out.contains(4L))
  }

  test("q109 chunk geometry property: random lengths, independent slice hashes") {
    val s = spark
    val rnd = new scala.util.Random(23)
    val docs = (1L to 30L).map(i => (i, 1 + rnd.nextInt(300)))
    val dir = writeDocs(docs.map { case (i, n) =>
      (i, (1 to n).map(j => s"d${i}t$j").mkString(" "))
    })
    def sha(ts: Seq[String]): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(ts.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val out = TextAnalysis.q109ChunkDocs(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3))))
      .groupBy(_._1._1)
    docs.foreach { case (i, n) =>
      val toks = (1 to n).map(j => s"d${i}t$j")
      val expChunks = if (n <= 64) 1 else (n - 64 + 47) / 48 + 1
      val mine = out(i)
      assert(mine.size === expChunks, s"doc $i len $n")
      mine.foreach { case ((_, idx), (nTok, hash)) =>
        val slice = toks.slice((idx * 48).toInt, (idx * 48 + 64).toInt)
        assert(nTok === slice.length.toLong, s"doc $i chunk $idx")
        assert(hash === sha(slice), s"doc $i chunk $idx")
      }
      // coverage: every token index lands in at least one chunk
      val covered = mine.map(_._1._2).flatMap(idx =>
        (idx * 48) until math.min(idx * 48 + 64, n.toLong)).toSet
      assert(covered === (0L until n.toLong).toSet, s"doc $i coverage")
    }
  }

  test("q136 chunk dedup: first occurrence wins, savings hand-check, totals reconcile") {
    val s = spark
    import s.implicits._
    def words(n: Int): Seq[String] = (1 to n).map(i => s"w$i")
    // doc 1: two chunks (65 tokens); doc 2 repeats doc 1 verbatim — every
    // chunk a dup; doc 3 shares no chunk (distinct vocabulary)
    val d1 = words(65).mkString(" ")
    val dir = writeDocs(Seq(
      (1L, d1), (2L, d1),
      (3L, (1 to 20).map(i => s"z$i").mkString(" ")),
    ))
    val got = TextAnalysis.q136ChunkDedup(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((2L, 2L, 0L))) // first occurrences
    assert(got(2L) === ((2L, 0L, 2L))) // exact twin: zero new chunks
    assert(got(3L) === ((1L, 1L, 0L)))
    // fixture invariants: per-doc chunk counts match q109, and the unique
    // total equals the distinct hash count (the embedding bill after dedup)
    val rows = TextAnalysis.q136ChunkDedup(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val q109 = TextAnalysis.q109ChunkDocs(s, sf).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.length.toLong }
    val nDistinct = TextAnalysis.q109ChunkDocs(s, sf)
      .select($"chunk_sha256").distinct().count()
    rows.foreach { case (d, nc, nu, dup) =>
      assert(nc === q109(d), s"doc $d")
      assert(nu + dup === nc, s"doc $d")
    }
    assert(rows.map(_._3).sum === nDistinct)
  }

  test("q97 count-min: estimates never undercount, and equal exact absent collisions") {
    val s = spark
    import s.implicits._
    val rows = TextAnalysis.q97CountminHeavyHitters(s, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.length === 20)
    rows.foreach { case (tok, exact, est, over) =>
      assert(est >= exact, s"CM must never undercount: $tok est=$est exact=$exact")
      assert(over === est - exact)
    }
    // the probe's min-over-rows is what bounds the excess: with 3 rows of
    // 1024 buckets over this fixture vocabulary, at least one row must be
    // collision-free for the vast majority of heavy hitters
    assert(rows.count { case (_, e, c, _) => e == c } >= 15,
      s"suspiciously many collisions for 3x1024 at fixture scale: $rows")
  }

  test("q137 bpe trainer replays a hand-worked merge sequence") {
    val s = spark
    import s.implicits._
    // vocab: aaab ×3, ab ×2 — worked by hand:
    //   round 1: (a,a) = 2 occ × wf3 = 6  beats (a,b) = 3 + 2 = 5
    //            apply → aaab = [aa,a,b], ab = [a,b]
    //   round 2: (a,b) = 3 + 2 = 5 beats (aa,a) = 3
    //            apply → aaab = [aa,ab], ab = [ab]
    //   round 3: (aa,ab) = 3 is the only pair left
    val wf = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "wf")
    val merges = TextAnalysis.bpeTrain(wf, 3)
    assert(merges === Seq((1L, "a", "a", 6L), (2L, "a", "b", 5L),
      (3L, "aa", "ab", 3L)))
    // greedy non-overlap on odd runs: aaaaa (5 a's) merges to [aa,aa,a] —
    // pair count 4 (overlaps counted), two merges applied, one 'a' left.
    // Round 2 is a TIE at count 1 between (aa,aa) and (aa,a); the total
    // order breaks it on (lsym, rsym) ascending → ("aa","a") wins
    val wf2 = Seq(("aaaaa", 1L)).toDF("word", "wf")
    val m2 = TextAnalysis.bpeTrain(wf2, 2)
    assert(m2 === Seq((1L, "a", "a", 4L), (2L, "aa", "a", 1L)))
    // exhaustion: single-symbol vocabulary stops early
    val m3 = TextAnalysis.bpeTrain(Seq(("ab", 1L)).toDF("word", "wf"), 5)
    assert(m3 === Seq((1L, "a", "b", 1L)))
  }

  test("q144 prefix groups equal an independent local fold") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs
      .filter(_._2.split(" ", -1).length >= 8)
      .map { case (id, t) => (t.split(" ", -1).take(8).mkString(" "), id) }
      .groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).min))
      .toSeq.collect { case (p, (n, sample)) if n >= 2 =>
        (p, n, (n - 1) * 8, sample) }
      .sortBy { case (p, n, _, _) => (-n, p) }
      .take(20)
    val got = TextAnalysis.q144PrefixCache(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected)
    // the fixture actually contains shared prefixes — the audit is not
    // vacuously empty
    assert(got.nonEmpty && got.head._2 >= 2)
  }

  test("q153 bpe encode matches an independent local greedy apply") {
    val s = spark
    import s.implicits._
    val merges = TextAnalysis.cachedMerges(s, sf)
      .map { case (_, l, r, _) => (l, r) }
    assert(merges.nonEmpty)
    // independent greedy left-to-right non-overlapping apply, per merge in
    // trained order — deliberately NOT the engine's fold formulation
    def encLen(word: String): Long = {
      var syms: Vector[String] = word.map(_.toString).toVector
      for ((l, r) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        for (x <- syms) {
          if (out.nonEmpty && out.last == l && x == r) {
            out.remove(out.length - 1); out += (l + r)
          } else out += x
        }
        syms = out.toVector
      }
      syms.length.toLong
    }
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.map { case (id, t) =>
      val words = t.split(" ", -1).filter(_.nonEmpty)
      val chars = words.map(_.length.toLong).sum
      val symsN = words.map(encLen).sum
      (id, words.length.toLong, chars, symsN,
        chars * 1000 / symsN, symsN * 1000 / words.length)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.q153BpeEncode(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // the trained merges actually compress: fewer symbols than characters
    assert(got.forall(r => r._4 < r._3))
  }

  test("q155 ngram novelty equals a local document-frequency fold") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Seq[Long] = {
      val toks = t.split(" ", -1)
      if (toks.length < 5) Seq.empty
      else toks.sliding(5)
        .map(g => graft.functions.Djb2.hash(g.mkString(" ")))
        .toSeq.distinct
    }
    val df = docs.flatMap { case (_, t) => grams(t) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = docs.flatMap { case (id, t) =>
      val g = grams(t)
      if (g.isEmpty) None
      else {
        val novel = g.count(df(_) == 1L).toLong
        Some((id, g.length.toLong, novel, novel * 1000 / g.length))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.q155NgramNovelty(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    // the signal discriminates at fixture scale: both shared and unique
    // grams exist
    assert(got.exists(_._4 < 1000) && got.exists(_._4 > 0))
  }

  test("q158 tokenizer drift: carve A replays a local trainer; prefix_intact monotone") {
    val s = spark
    import s.implicits._
    val got = TextAnalysis.q158TokenizerDrift(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    assert(got.nonEmpty)
    assert(got.map(_._1) === (1L to got.length.toLong))
    // prefix_intact is the running AND of agree
    var run = true
    got.foreach { case (r, _, _, agree, pi) =>
      run = run && agree
      assert(pi === run, s"prefix_intact at rank $r")
    }
    // carve A's merge sequence equals an INDEPENDENT local BPE trainer
    // over the same parity carve (overlaps counted, greedy non-overlap
    // apply, count-desc/(lsym,rsym)-asc argmax — the q137 contract)
    val wf = scala.collection.mutable.Map.empty[String, Long]
    graft.Tables(s, sf, "documents").filter($"doc_id" % 2 === 0)
      .select($"text").collect().foreach { r =>
        r.getString(0).split(" ", -1).filter(_.length >= 2)
          .foreach(w => wf(w) = wf.getOrElse(w, 0L) + 1L)
      }
    var vocab: Map[Vector[String], Long] =
      wf.toMap.map { case (w, f) => w.map(_.toString).toVector -> f }
    val local = scala.collection.mutable.ArrayBuffer.empty[String]
    var exhausted = false
    while (local.length < 6 && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + f)
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val (l, r) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        local += (l + r)
        vocab = vocab.toSeq.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          for (x <- syms) {
            if (out.nonEmpty && out.last == l && x == r) {
              out.remove(out.length - 1); out += (l + r)
            } else out += x
          }
          out.toVector -> f
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      }
    }
    assert(got.map(_._2).filter(_.nonEmpty) === local.toSeq)
  }

  // the engine's piecewise-linear integer log2 in milli-bits, local copy
  private def qlogM(x: Long): Long = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << (bits - 1)
    (bits - 1) * 1000L + (x - p) * 1000L / p
  }

  test("q165 vocab growth: Heaps curve equals a local fold on a growing corpus") {
    val s = spark
    // doc i has i+1 tokens and introduces exactly one new word — vocab
    // grows linearly while occurrences grow quadratically, so beta is
    // strictly between 0 and 1000 and the curve is non-degenerate
    // (unlike the 31-word driver fixture, where beta reads 0)
    val docs = (0L until 32L).map(i =>
      (i, (Seq.fill(i.toInt)("w") :+ s"new$i").mkString(" ")))
    val dir = writeDocs(docs)
    val got = TextAnalysis.q165VocabGrowth(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Long.MinValue else r.getLong(4))).toSeq
    // local fold of the same definitions
    val maxd = 31L
    def bucket(id: Long) = id * 16 / (maxd + 1) + 1
    val byB = docs.groupBy { case (id, _) => bucket(id) }
    val firstB = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(_ -> id) }
      .groupBy(_._1).map { case (_, v) => bucket(v.map(_._2).min) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var (nd, no, nv) = (0L, 0L, 0L)
    var prev: Option[(Long, Long)] = None
    val local = (1L to 16L).map { b =>
      nd += byB.get(b).map(_.size.toLong).getOrElse(0L)
      no += byB.get(b).map(_.map(_._2.split(" ").count(_.nonEmpty).toLong).sum)
        .getOrElse(0L)
      nv += firstB.getOrElse(b, 0L)
      val beta = prev match {
        case Some((pv, pn)) if qlogM(no) - pn != 0 =>
          (qlogM(nv) - pv) * 1000 / (qlogM(no) - pn)
        case _ => Long.MinValue
      }
      prev = Some((qlogM(nv), qlogM(no)))
      (b, nd, no, nv, beta)
    }
    assert(got === local)
    // the curve is real: vocabulary strictly grows and beta lands in a
    // plausible Heaps band on this corpus
    assert(got.map(_._4).distinct.size === 16)
    assert(got.drop(1).forall(r => r._5 > 0 && r._5 < 1000), got.toString)
  }

  test("q166 length KL equals a local integer fold; distinct profiles read higher") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-kl-").toString
    def mk(n: Int, tag: String) = Seq.fill(n)(tag).mkString(" ")
    // src short: all docs in bucket 0; src long: all in bucket 3;
    // src mix: spread across both — closest to the corpus marginal
    val rows = (0L until 10L).map(i => (i, "short", mk(8, "s"))) ++
      (10L until 20L).map(i => (i, "long", mk(100, "l"))) ++
      (20L until 30L).map(i =>
        (i, "mix", if (i % 2 == 0) mk(8, "m") else mk(100, "m")))
    rows.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val got = TextAnalysis.q166LengthKl(s, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // local fold with the same quantized logs
    val hist = rows.groupBy(r => (r._2, math.min(r._3.split(" ").length / 32, 255)))
      .view.mapValues(_.size.toLong).toMap
    val cs = hist.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cb = hist.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = hist.values.sum
    val local = cs.keys.map { src =>
      val num = hist.collect { case ((s0, b), c) if s0 == src =>
        c * (qlogM(c) + qlogM(n) - qlogM(cs(src)) - qlogM(cb(b))) }.sum
      val milli = if (num >= 0) num / cs(src) else -((-num) / cs(src))
      src -> ((cs(src), num, milli))
    }.toMap
    assert(got === local)
    // the mixed source tracks the corpus marginal; the skewed ones leak
    assert(got("mix")._3 < got("short")._3 && got("mix")._3 < got("long")._3)
  }

  test("q181 canonicalization: case/punct twins dedup under the canonical hash only") {
    val s = spark
    // docs 1/2: raw-distinct, canonical-equal (case + punctuation + extra
    // whitespace). docs 3/4: byte-identical (raw dups, and therefore
    // canonical dups too). doc 5: unique under both.
    val dir = writeDocs(Seq(
      (1L, "Hello, World! This is FINE."),
      (2L, "hello world  this is fine"),
      (3L, "same exact bytes"),
      (4L, "same exact bytes"),
      (5L, "a lonely unique document")))
    val r = TextAnalysis.q181CanonicalDedup(s, dir).collect()
    assert(r.length === 1)
    assert((r.head.getLong(1), r.head.getLong(2), r.head.getLong(3),
      r.head.getLong(4)) === ((5L, 2L, 4L, 400L)))
    // normalization is idempotent: canonicalizing a canonical text is a
    // no-op, so running the audit over pre-normalized docs gains nothing
    val dir2 = writeDocs(Seq(
      (1L, "hello world this is fine"), (2L, "hello world this is fine")))
    val r2 = TextAnalysis.q181CanonicalDedup(s, dir2).collect().head
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4)) === ((2L, 2L, 0L)))
  }

  test("q182 unigram Viterbi equals a full local DP; q183 usage equals a local recount") {
    val s = spark
    // a corpus where one substring ("abab") is overwhelmingly frequent, so
    // the LM must prefer it over char paths, plus rare words that must
    // fall back to chars
    val dir = writeDocs(
      (1 to 30).map(i => (i.toLong, "abab abab ababx")) ++
        Seq((100L, "zq xyzw abab")))
    val got = TextAnalysis.q182UnigramSegment(s, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getString(5)))).toMap

    // ---- independent local reimplementation ----
    def qlog(e: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(e)
      val p = 1L << (b - 1)
      (b - 1) * 1000L + (e - p) * 1000L / p
    }
    val allWords = ((1 to 30).flatMap(_ => Seq("abab", "abab", "ababx")) ++
      Seq("zq", "xyzw", "abab"))
    val freq = allWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val counts = scala.collection.mutable.Map[String, Long]()
    for ((w, f) <- freq; l <- 1 to 4; i <- 0 to w.length - l)
      counts(w.substring(i, i + l)) = counts.getOrElse(w.substring(i, i + l), 0L) + f
    val chars = counts.filter(_._1.length == 1)
    val multi = counts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(128)
    val vocab = (chars.toSeq ++ multi).toMap
    val total = vocab.values.sum
    val cost = vocab.map { case (p, c) => p -> (qlog(total) - qlog(c)) }
    def viterbi(w: String): (Long, Seq[String]) = {
      val big = 1000000000L
      val b = Array.fill(w.length + 1)(big)
      val choice = Array.fill(w.length + 1)(0)
      b(0) = 0
      for (i <- 1 to w.length; l <- 1 to math.min(i, 4)) {
        val piece = w.substring(i - l, i)
        cost.get(piece).foreach { c =>
          // strictly-less: first (smallest) l wins ties, matching the
          // engine's first-match CASE order
          if (b(i - l) + c < b(i)) { b(i) = b(i - l) + c; choice(i) = l }
        }
      }
      val pieces = scala.collection.mutable.ListBuffer[String]()
      var pos = w.length
      while (pos > 0) { val l = choice(pos); pieces.prepend(w.substring(pos - l, pos)); pos -= l }
      (b(w.length), pieces.toSeq)
    }
    for ((w, f) <- freq) {
      val (c, pieces) = viterbi(w)
      val (gf, gc, gn, gseg) = got(w)
      assert(gf === f, s"$w freq")
      assert(gc === c, s"$w cost")
      assert(gn === pieces.size.toLong, s"$w n_pieces")
      assert(gseg === pieces.mkString("|"), s"$w seg")
      assert(pieces.mkString("") === w, s"$w pieces don't reassemble")
    }
    // the frequent word is kept whole; the 5-char variant splits into two
    // multi-char pieces (never the 5-char char walk); even the rare
    // 2-char word stays whole — one rare piece costs less than two rare
    // chars
    assert(got("abab")._4 === "abab")
    assert(got("ababx")._3 === 2L && got("ababx")._4.split("\\|").forall(_.length > 1))
    assert(got("zq")._4 === "zq")

    // q183: usage == local recount of the segmentations, join to seed
    val em = TextAnalysis.q183UnigramEm(s, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val localUsage = scala.collection.mutable.Map[String, Long]()
    for ((w, f) <- freq; p <- viterbi(w)._2)
      localUsage(p) = localUsage.getOrElse(p, 0L) + f
    for ((p, (seedC, vitC)) <- em) {
      assert(vitC === localUsage(p), s"$p usage")
      assert(seedC === counts(p), s"$p seed")
    }
  }

  test("q196 collocations: perfect pair tops the list at qlog(N/df), " +
      "independent pair scores ~0, min-support prunes") {
    val s = spark
    def qlog(x: Long): Long = {
      val b = java.lang.Long.toBinaryString(x).length - 1
      b * 1000L + (x - (1L << b)) * 1000L / (1L << b)
    }
    // 32 docs: "aa bb" always together in 16 docs (perfect collocation);
    // "cc" and "dd" each in 16 docs but jointly in only 8 (independent:
    // PMI = qlog(8*32) - qlog(256) = 0); "ee ff" co-occur in 2 docs only
    // (below min support, must be pruned)
    val docs = (0L until 32L).map { i =>
      val parts = Seq(
        if (i < 16) "aa bb" else "",
        if (i % 2 == 0) "cc" else "",
        if (i % 4 < 2) "dd" else "",
        if (i >= 30) "ee ff" else "",
        s"u$i") // unique filler so every doc is nonempty
      (i, parts.filter(_.nonEmpty).mkString(" "))
    }
    val got = TextAnalysis.q196Collocations(s, writeDocs(docs)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // aa+bb: df 16 each, df_ab 16 → PMI = qlog(16*32) - qlog(256) = qlog(2)
    assert(got(("aa", "bb")) === ((16L, 16L, 16L, qlog(512) - qlog(256))))
    assert(qlog(512) - qlog(256) === 1000L)
    // cc+dd: independent → exactly 0 milli-bits
    assert(got(("cc", "dd")) === ((16L, 16L, 8L, 0L)))
    // ee+ff: support 2 < 5 → pruned
    assert(!got.contains(("ee", "ff")))
  }
}
