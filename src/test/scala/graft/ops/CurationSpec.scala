package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic fixtures for the curation family: decontamination flags exactly
  * the docs sharing a 4-gram with the eval slice, LM rarity implements the
  * integer `count * vocab <= total` rule, and the stratified sample is the
  * same set under any partitioning (the reproducible-mix property).
  */
class CurationSpec extends SparkSpec {

  private def writeDocs(docs: Seq[(Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-curation-").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    root
  }

  test("q68 flags exactly the corpus docs sharing a 4-gram with the eval slice") {
    val s = spark
    import s.implicits._
    // doc 0 (0 % 97 == 0) is the eval slice. doc 1 shares the 4-gram
    // "secret eval answer key" with it; doc 2 shares only a 3-gram-long
    // overlap ("secret eval answer" then diverges) — below the n=4 window;
    // doc 3 is disjoint.
    val dir = writeDocs(Seq(
      (0L, "the secret eval answer key is here", "en"),
      (1L, "leaked copy secret eval answer key inside", "en"),
      (2L, "partial secret eval answer run elsewhere today", "en"),
      (3L, "completely unrelated text with many plain words", "en"),
    ))
    val out = Curation.q68Decontaminate(s, dir)
      .select($"doc_id", $"n_hit").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L)), s"expected only doc 1 contaminated, got $out")
  }

  test("q68 severity uses the distinct-shingle fraction") {
    val s = spark
    import s.implicits._
    // doc 1 IS (nearly) the eval doc — every one of its 4-grams collides →
    // hit_frac 1.0, severe. doc 2 has one collision among many shingles →
    // not severe at the 0.2 threshold.
    val evalText = "alpha beta gamma delta epsilon"
    val dir = writeDocs(Seq(
      (0L, evalText, "en"),
      (1L, evalText, "en"),
      (2L, "alpha beta gamma delta x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12", "en"),
    ))
    val out = Curation.q68Decontaminate(s, dir)
      .select($"doc_id", $"severe").as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> true, 2L -> false), s"got $out")
  }

  test("q69 implements the integer rare rule count*vocab <= total") {
    val s = spark
    import s.implicits._
    // Bigram occurrences: "a a" ×6 (3 per doc in docs 10/11), and four
    // singletons from doc 12 ("p q","q r","r s","s t" — wait: tokens
    // p q r s t give bigrams p-q, q-r, r-s, s-t). vocab = 5, total = 10,
    // mean = 2. Rare iff c*5 <= 10 ⇔ c <= 2: the four singletons are rare,
    // "a a" (c=6) is not. Doc 12: rare_frac = 4/4 = 1.0 → flagged; docs
    // 10/11: 0/3 → clean.
    val dir = writeDocs(Seq(
      (10L, "a a a a", "en"),
      (11L, "a a a a", "en"),
      (12L, "p q r s t", "en"),
    ))
    val out = Curation.q69LmRarity(s, dir)
      .select($"doc_id", $"n_bigrams", $"n_rare", $"is_lowquality")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out === Seq((10L, 3L, 0L, false), (11L, 3L, 0L, false),
      (12L, 4L, 4L, true)), s"got $out")
  }

  test("q71 apportionment spends exactly the budget and sqrt-weights small sources up") {
    val s = spark
    import s.implicits._
    // 3 sources with counts 400 / 100 / 36 → sqrt weights 20 / 10 / 6.
    // Proportional allocation would give the small source 200·36/536 ≈ 13.4;
    // sqrt (temperature) allocation gives 200·6/36 ≈ 33.3 — up-sampled 2.5×
    // (and still under the source's 36 docs, so the budget is exactly spent).
    val docs = (1L to 400L).map(i => (i, s"t$i", "en", "big")) ++
      (401L to 500L).map(i => (i, s"t$i", "en", "mid")) ++
      (501L to 536L).map(i => (i, s"t$i", "en", "small"))
    val root = Files.createTempDirectory("graft-mix-").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q71SourceMix(s, root).collect()
    // exactly the budget is spent (every quota ≤ its source's size here)
    assert(out.length === 200)
    val quotas = out.map(r => (r.getString(0), r.getAs[Long]("quota"))).distinct.toMap
    assert(quotas.values.sum === 200L)
    // integer largest-remainder around 200·w/36: within 1 of the exact share
    val exact = Map("big" -> 200.0 * 20 / 36, "mid" -> 200.0 * 10 / 36, "small" -> 200.0 * 6 / 36)
    exact.foreach { case (src, e) =>
      assert(math.abs(quotas(src) - e) <= 1.0, s"$src quota ${quotas(src)} vs exact $e")
    }
    // the small source is up-sampled ~2.5× vs proportional (≈ 13.4 docs)
    assert(quotas("small") >= 33L)
    // per-source ranks are dense 1..quota
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.map(_.getAs[Long]("sample_rank")).sorted.toSeq ===
        (1L to quotas(src)).toSeq, s"ranks not dense for $src")
    }
  }

  test("q74 outlier cut is exact rank arithmetic: ceil(1% of each stratum), longest docs") {
    val s = spark
    import s.implicits._
    val out = Curation.q74LengthOutliers(s, sf).collect()
    val all = graft.Tables(s, sf, "documents")
      .groupBy($"lang").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLang = out.groupBy(_.getString(0))
    all.foreach { case (lang, n) =>
      // rank·100 > 99·n keeps exactly n − floor(0.99·n) docs
      val expected = n - (99 * n) / 100
      assert(perLang(lang).length === expected, s"$lang: ${perLang(lang).length} vs $expected")
    }
    // the outliers are the stratum's longest docs: every outlier is at
    // least as long as every non-outlier of its language
    val maxKept = graft.Tables(s, sf, "documents").collect()
      .groupBy(_.getAs[String]("lang"))
    out.foreach { r =>
      val lang = r.getString(0)
      val outIds = perLang(lang).map(_.getAs[Long]("doc_id")).toSet
      val keptMax = maxKept(lang).filterNot(d => outIds(d.getAs[Long]("doc_id")))
        .map(_.getAs[Long]("n_chars")).max
      assert(r.getAs[Long]("n_chars") >= keptMax,
        s"outlier shorter than a kept doc in $lang")
    }
  }

  test("q75 packing is gapless, capacity-aligned, and deterministic") {
    val s = spark
    val out = Curation.q75TokenPacking(s, sf).collect()
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      // running sum is gapless: cum == previous cum + n_tokens in order
      val ordered = rows.sortBy(_.getAs[Long]("cum_tokens"))
      var prev = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("cum_tokens") === prev + r.getAs[Long]("n_tokens"),
          s"gap in $src at doc ${r.getAs[Long]("doc_id")}")
        prev = r.getAs[Long]("cum_tokens")
      }
      // shard = where the doc's first token lands
      ordered.foreach { r =>
        val start = r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("shard") === start / 2048,
          s"shard misaligned for doc ${r.getAs[Long]("doc_id")}")
      }
      // shard ids are contiguous from 0
      val shards = ordered.map(_.getAs[Long]("shard"))
      assert(shards.head === 0L)
      assert(shards.distinct === (0L to shards.max).toSeq, s"shard gap in $src")
    }
    // deterministic under physical reshuffle (same md5 order)
    val again = Curation.q75TokenPacking(s, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("q70 sample is identical across partitionings and respects the cap") {
    val s = spark
    val out1 = Curation.q70StratifiedSample(s, sf).collect().toSeq
    // Same data, radically different physical layout → same sample.
    val reshuffled = graft.Tables(s, sf, "documents").repartition(13)
    val tmp = Files.createTempDirectory("graft-sample-").toString
    reshuffled.write.parquet(s"$tmp/documents.parquet")
    val out2 = Curation.q70StratifiedSample(s, tmp).collect().toSeq
    assert(out1 === out2, "stratified sample changed under repartitioning")
    val perLang = out1.groupBy(_.getString(0)).view.mapValues(_.size).toMap
    assert(perLang.values.forall(_ <= 50), s"stratum cap violated: $perLang")
    // ranks are 1..k dense per stratum
    out1.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val ranks = rows.map(_.getLong(1)).sorted
      assert(ranks === (1L to ranks.size).toSeq, s"ranks not dense for $lang")
    }
  }

  test("q79 classifier scores are bit-identical across partitionings") {
    val s = spark
    import s.implicits._
    // Map-side inference must not depend on physical layout: the token
    // fold is per-row, so any repartitioning yields the same doubles.
    val out1 = Curation.q79QualityClassifier(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val reshuffled = graft.Tables(s, sf, "documents").repartition(13)
    val tmp = Files.createTempDirectory("graft-cls-").toString
    reshuffled.write.parquet(s"$tmp/documents.parquet")
    val out2 = Curation.q79QualityClassifier(s, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(out1 === out2)
    // non-vacuous: the head separates the fixture into both classes
    assert(out1.exists(_._4) && out1.exists(!_._4))
    // a doc's score is the exact left fold of its token embeddings — spot
    // check one doc against a driver-side recomputation
    val doc = graft.Tables(s, sf, "documents").orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").collect().head
    val toks = doc.getString(1).split(" ", -1)
    def djb2(t: String): Long = math.abs(graft.functions.Djb2.hash(t))
    def lcg(idx: Long): Double =
      ((1103515245L * idx + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
    val hid = (0 until Curation.ClsHidden).map { j =>
      toks.foldLeft(0.0) { (acc, t) =>
        acc + lcg((djb2(t) % Curation.ClsBuckets) * 8 + j)
      } / toks.length.toDouble
    }
    val z = (0 until Curation.ClsHidden).foldLeft(0.0) { (acc, j) =>
      acc + lcg(524288L + j) * hid(j)
    }
    val got = out1.find(_._1 == doc.getLong(0)).get._3
    assert(got === z, s"score $got != local fold $z")
  }

  test("q107 bigram LM table: hand-counted pairs, contexts, MLE probabilities") {
    val s = spark
    // doc1 bigrams: (a,b),(b,a),(a,b),(b,c); doc2: (a,b),(b,x)
    // → (a,b)=3 with ctx(a)=3; (b,·) three singletons with ctx(b)=3
    val dir = writeDocs(Seq((1L, "a b a b c", "en"), (2L, "a b x", "en")))
    val out = Curation.q107LmBigrams(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(out === Seq(
      ("a", "b", 3L, 3L, 1.0),
      ("b", "a", 1L, 3L, 1.0 / 3.0),
      ("b", "c", 1L, 3L, 1.0 / 3.0),
      ("b", "x", 1L, 3L, 1.0 / 3.0)))
  }

  test("q108 source overlap: distinct-shingle sharing, duplicate docs collapse") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-curation-").toString
    // A and B share exactly the 3-gram "x y z"; C is disjoint. Source A
    // contains the same doc twice — distinct (source, shingle) must
    // collapse it, leaving |A| = 2.
    Seq(
      (1L, "x y z w", "A"), (2L, "x y z w", "A"),
      (3L, "x y z q", "B"), (4L, "p q r s", "C"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q108SourceOverlap(s, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // zero-overlap pairs are absent by the join shape (absent row = 0)
    assert(out === Seq(("A", "B", 1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("q80/q81: clusters move together; exclusion closes over near-dup families") {
    val s = spark
    import s.implicits._
    // doc 0 (eval slice: 0 % 97 == 0) is the benchmark; doc 1 quotes one of
    // its 4-grams (direct hit); doc 2 is a near-dup of doc 1 (3-shingle
    // Jaccard 7/9 ≈ 0.78) that shares NO 4-gram with the benchmark — it
    // must be excluded TRANSITIVELY, through the cluster; docs 3/4 are
    // clean unrelated filler.
    val root = Files.createTempDirectory("graft-td-").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta unrelated tail words here today now"),
      (2L, "zzz beta gamma delta unrelated tail words here today now"),
      (3L, "completely different content about storage layouts and codecs"),
      (4L, "another clean document with its own vocabulary entirely"),
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")

    val excl = Curation.q81TransitiveDecontam(s, root).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Boolean]("direct_hit"))).toSeq.sortBy(_._1)
    assert(excl.map(_._1) === Seq(1L, 2L), s"exclusion list wrong: $excl")
    assert(excl.find(_._1 == 1L).get._3 === true,  "doc 1 should be a direct hit")
    assert(excl.find(_._1 == 2L).get._3 === false, "doc 2 must be transitive-only")
    assert(excl.map(_._2).distinct.size === 1, "both exclusions share one cluster")

    // q80: the near-dup family (1, 2) lands in ONE split; every doc is
    // assigned exactly one of train/val/test
    val split = Curation.q80ClusterSplit(s, root).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[String]("split"))).toSeq
    assert(split.map(_._1).sorted === Seq(0L, 1L, 2L, 3L, 4L))
    val fam = split.filter(t => t._1 == 1L || t._1 == 2L)
    assert(fam.map(_._3).distinct.size === 1,
      s"near-dup family split apart: $fam")
    assert(split.forall(t => Set("train", "val", "test").contains(t._3)))
    // and on the fixture corpus: same-cluster ⇒ same-split holds globally
    val bySplit = split.groupBy(_._2).values
    assert(bySplit.forall(_.map(_._3).distinct.size == 1))
  }

  test("q111 data card: corpus-wide dup exposure, short gate, top-lang tie-break") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-datacard-").toString
    val x = (1 to 40).map(i => s"x$i").mkString(" ") // 40 tokens, not short
    // srcA: a short en doc, two within-source copies of X (en), a short fr
    // doc; srcB: a third copy of X (fr — CROSS-source dup exposure) and a
    // short en doc. srcB's langs tie 1-1 → 'en' wins the asc tie-break.
    val docs = Seq(
      (1L, "a b c", "en", "srcA"),
      (2L, x, "en", "srcA"),
      (3L, x, "en", "srcA"),
      (4L, "f1 f2 f3 f4 f5", "fr", "srcA"),
      (5L, x, "fr", "srcB"),
      (6L, "g1 g2", "en", "srcB"),
    )
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q111DataCard(s, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getString(7),
        r.getLong(8)))).toMap
    val chars = docs.groupBy(_._4).view
      .mapValues(_.map(_._2.length.toLong).sum).toMap
    // srcA: 4 docs, 3+40+40+5 tokens; docs 2,3 dup (hash appears 3× in the
    // CORPUS); docs 1,4 short; en 3-1 fr
    assert(out("srcA") === ((4L, 88L, chars("srcA"), 2L, 2L, 0.5, "en", 3L)))
    // srcB: doc 5 is a dup of srcA's content — cross-source exposure
    assert(out("srcB") === ((2L, 42L, chars("srcB"), 1L, 1L, 0.5, "en", 1L)))
  }

  test("q118 dedup savings: removed tokens counted per source, cross-source keeper") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-savings-").toString
    val x = (1 to 40).map(i => s"x$i").mkString(" ")
    // d1/d2 (srcA) and d4 (srcB) are byte-identical → ONE representative
    // survives q62 (the min doc_id, in srcA); srcB loses its whole copy
    val docs = Seq(
      (1L, x, "srcA"), (2L, x, "srcA"),
      (3L, (1 to 10).map(i => s"a$i").mkString(" "), "srcA"),
      (4L, x, "srcB"),
      (5L, (1 to 20).map(i => s"b$i").mkString(" "), "srcB"),
    )
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q118DedupSavings(s, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out("srcA") === ((3L, 2L, 90L, 50L, 40.0 / 90.0)))
    assert(out("srcB") === ((2L, 1L, 60L, 20L, 40.0 / 60.0)))
  }

  test("q115 manifest composes its verified stages: gate, decontam, split, packing") {
    val s = spark
    import s.implicits._
    val manifest = Curation.q115ReleaseManifest(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(manifest.nonEmpty)
    val ids = manifest.map(_._1).toSet
    // eligibility: subset of the q64 keep-set, no eval-slice docs, no
    // transitively-contaminated docs
    val keep = TextAnalysis.q64CorpusGate(s, sf)
      .select($"doc_id").as[Long].collect().toSet
    val excluded = Curation.q81TransitiveDecontam(s, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(keep))
    assert(ids.forall(_ % 97 != 0))
    assert(ids.intersect(excluded).isEmpty)
    // splits agree with q80's assignment doc by doc
    val splits = Curation.q80ClusterSplit(s, sf)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    manifest.foreach { m => assert(m._3 === splits(m._1), s"doc ${m._1}") }
    // packing: only train is packed; within each source the running sum is
    // gapless over released train docs and the shard is its derived value
    manifest.filter(_._3 != "train").foreach { m =>
      assert(m._5 === -1L && m._6 === -1L, s"doc ${m._1}")
    }
    manifest.filter(_._3 == "train").groupBy(_._2).foreach { case (src, ms) =>
      val ordered = ms.sortBy(_._6)
      var cum = 0L
      ordered.foreach { m =>
        cum += m._4
        assert(m._6 === cum, s"$src doc ${m._1}: cum")
        assert(m._5 === (m._6 - m._4) / 2048L, s"$src doc ${m._1}: shard")
      }
    }
  }

  test("q121 semantic decontam: max-cos audit, twin-radius counts, clean negatives") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-semdecontam-").toString
    def v(xs: Double*): Seq[Float] =
      (xs.map(_.toFloat) ++ Seq.fill(64 - xs.length)(0.0f))
    // eval carve (id % 97 == 0): ids 0 and 97 — unit x and unit y
    val rows = Seq(
      (0L, v(1, 0), 0), (97L, v(0, 1), 0),       // eval
      (1L, v(1, 0), 0),                          // exact twin of eval 0
      (2L, v(0, 2), 0),                          // scaled twin of eval 97
      (3L, v(1, 1), 0),                          // 45° to both
      (4L, v(-1, 0), 0),                         // anti-parallel → clean
      (5L, v(3, -4), 0))                         // cos 0.6 to eval 0
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$root/embeddings.parquet")
    val out = Curation.q121SemanticDecontam(s, root).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L)) // eval rows never audited
    assert(out(1L) === ((1.0, 1L, true)))
    assert(out(2L) === ((1.0, 1L, true)))
    val c45 = 1.0 / math.sqrt(2.0)
    assert(math.abs(out(3L)._1 - c45) < 1e-15 && out(3L)._2 === 2L && out(3L)._3)
    assert(out(4L) === ((0.0, 0L, false)))      // best is the orthogonal eval, not −1
    assert(out(5L) === ((0.6, 1L, true)))
  }

  test("q123 epoch schedule: hand-apportioned shares, 4-epoch cap, shortfall") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-epoch-").toString
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // A: 900 tokens (weight 30), B: 100 tokens (weight 10)
    // total = 1000, budget = 3000, w_total = 40 → shares 2250 / 750, no
    // remainders. A: cap 3600 → uncapped, 2.50 epochs. B: cap 400 < 750
    // → capped, 4.00 epochs, 350 unspendable.
    Seq((1L, doc(400), "A"), (2L, doc(500), "A"), (3L, doc(100), "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q123EpochSchedule(s, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getLong(6), r.getLong(7)))).toMap
    assert(out("A") === ((900L, 30L, 2250L, 2250L, false, 250L, 0L)))
    assert(out("B") === ((100L, 10L, 750L, 400L, true, 400L, 350L)))
    // apportionment spends exactly the budget; the cap's refusals are the
    // shortfall — the "buy data, not compute" number
    assert(out.values.map(_._3).sum === 3000L)
    assert(out.values.map(_._7).sum === 350L)
  }

  test("q140 temperature budget: exact apportionment, α=1/4 flattening direction") {
    val s = spark
    val rows = Curation.q140LanguageBudget(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    // the budget is spent EXACTLY: Σshare = Σn_tokens by construction
    assert(rows.map(_._5).sum === rows.map(_._3).sum)
    // weight matches the declared quantization
    rows.foreach { case (lang, _, nTok, w, _, _, _) =>
      assert(w === math.floor(1000.0 * math.sqrt(math.sqrt(nTok.toDouble))).toLong,
        s"weight($lang)")
    }
    // largest-remainder: every share is base or base+1
    val wTotal = rows.map(_._4).sum
    val budget = rows.map(_._3).sum
    rows.foreach { case (lang, _, _, w, share, _, _) =>
      val base = budget * w / wTotal
      assert(share == base || share == base + 1, s"share($lang) not base/base+1")
    }
    // α < 1 flattens: the SMALLEST language is upsampled (ratio > 100%),
    // the largest is downsampled — the whole point of temperature sampling
    val smallest = rows.minBy(_._3); val largest = rows.maxBy(_._3)
    assert(smallest._6 > 100L && smallest._7, "tail language not upsampled")
    assert(largest._6 < 100L && !largest._7, "head language not downsampled")
  }

  test("q141 surprisal replays a hand-worked bigram model") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-sup-").toString
    // doc 1 "a b a b": bigrams (a,b),(b,a),(a,b) → pc(a,b)=2, pc(b,a)=1
    // doc 2 "a c":     bigram  (a,c)             → pc(a,c)=1
    // ctx(a)=3, ctx(b)=1
    // doc 1 bits: (a,b): 3 div 2 = 1 → len(bin 1)=1 ; (b,a): 1 div 1 = 1 → 1;
    //             (a,b) again → 1 ⇒ total 3 over 3 bigrams → 1000 milli-bits
    // doc 2 bits: (a,c): 3 div 1 = 3 → len(bin 11)=2 ⇒ 2000 milli-bits
    Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("S"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Curation.q141BigramSurprisal(s, root).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(1L) === ((3L, 3L, 1000L, true)))
    assert(out(2L) === ((1L, 2L, 2000L, true)))
  }

  test("q145 soft filter: decision law recomputable, rate tracks mean quality") {
    val s = spark
    val rows = Curation.q145SoftFilter(s, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, score, u, acceptMilli, kept) =>
      // the uniform draw is the recomputable q142 hash chain
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(u === graft.functions.Djb2.hash(md) % 1000, s"u($id)")
      assert(acceptMilli === math.floor(score * 1000.0).toLong, s"accept($id)")
      assert(kept === (u < acceptMilli), s"kept($id)")
    }
    // the whole point of SOFT filtering: the keep rate converges to the
    // mean quality score instead of a cliff at a threshold
    val rate = rows.count(_._5).toDouble / rows.length
    val meanAccept = rows.map(_._4).sum.toDouble / rows.length / 1000.0
    assert(math.abs(rate - meanAccept) < 0.06,
      s"keep rate $rate vs mean acceptance $meanAccept")
    // and it is not a hard gate: some below-median-quality docs survive
    val median = rows.map(_._2).sorted.apply(rows.length / 2)
    assert(rows.exists(r => r._2 < median && r._5), "no below-median survivor")
    assert(rows.exists(r => r._2 >= median && !r._5), "no above-median drop")
  }

  test("q146 data map: cells reconcile with an independent doc-level fold") {
    val s = spark
    import s.implicits._
    // doc-level inputs, taken from the (oracle-verified) registered queries
    val q = graft.ops.TextAnalysis.q42Quality(s, sf)
      .select($"doc_id", $"quality_score", $"n_tokens").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val sup = Curation.q141BigramSurprisal(s, sf)
      .select($"doc_id", $"milli_bits_per_bigram").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = sup.toSeq.map { case (id, milli) =>
      val (score, nTok) = q(id)
      ((src(id), math.min(math.floor(score * 10.0).toLong, 9L),
        math.min(milli / 500L, 9L)), (1L, nTok))
    }.groupBy(_._1).view.mapValues(g =>
      (g.map(_._2._1).sum, g.map(_._2._2).sum)).toMap
    val got = Curation.q146QualityMap(s, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // census covers exactly the docs that HAVE a surprisal (≥ 2 tokens)
    assert(got.values.map(_._1).sum === sup.size.toLong)
    // bands stay in range
    got.keys.foreach { case (_, qb, sb) =>
      assert(qb >= 0 && qb <= 9 && sb >= 0 && sb <= 9)
    }
  }

  test("q147 packing replays an independent per-shard fold; spans tile sequences") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{size, split}
    // independent ground truth: replay the concat-and-cut in plain Scala
    // over (shard, rand_key)-ordered doc lengths
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs
      .map { case (id, dl) => (graft.functions.Djb2.hash(md5(id)) % 64, md5(id), id, dl) }
      .groupBy(_._1).toSeq.flatMap { case (shard, ds) =>
        var off = 0L
        ds.sortBy(d => (d._2, d._3)).flatMap { case (_, _, id, dl) =>
          val (cs, ce) = (off, off + dl); off = ce
          (cs / 256 to (ce - 1) / 256).map { seq =>
            val (ts, te) = (math.max(cs, seq * 256), math.min(ce, (seq + 1) * 256))
            (shard, seq, ts - seq * 256, id, te - ts, ts == cs, te == ce)
          }
        }
      }.sortBy(r => (r._1, r._2, r._3))
    val got = Curation.q147PackedSequences(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    assert(got.toSeq === expected)
    // spans TILE each sequence: contiguous offsets, full sequences sum to
    // exactly 256 tokens (zero padding waste), only the shard's final
    // sequence may fall short
    val byShard = got.groupBy(_._1)
    byShard.foreach { case (shard, rows) =>
      val lastSeq = rows.map(_._2).max
      rows.groupBy(_._2).foreach { case (seq, spans) =>
        val sorted = spans.sortBy(_._3)
        sorted.foldLeft(0L) { case (expectOff, sp) =>
          assert(sp._3 === expectOff, s"gap in shard $shard seq $seq")
          expectOff + sp._5
        }
        val total = spans.map(_._5).sum
        if (seq < lastSeq) assert(total === 256L, s"short seq $seq shard $shard")
        else assert(total <= 256L)
      }
    }
    // every doc's spans reassemble it: Σ n_toks = dl, begins/ends framing
    val dlMap = docs.toMap
    got.groupBy(_._4).foreach { case (id, spans) =>
      assert(spans.map(_._5).sum === dlMap(id), s"doc $id mass")
      assert(spans.count(_._6) === 1 && spans.count(_._7) === 1, s"doc $id framing")
    }
    // the fixture exercises straddling: some doc crosses a boundary
    assert(got.exists(r => !r._6 || !r._7), "no straddling doc in fixture")
  }

  test("q150 curriculum: ranks monotone in difficulty, masses reconcile, independent refold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{size, split}
    val rows = Curation.q150Curriculum(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // every token of the corpus is scheduled exactly once
    val totalToks = graft.Tables(s, sf, "documents")
      .select(size(split($"text", " ")).cast("long")).collect()
      .map(_.getLong(0)).sum
    assert(rows.map(_._4).sum === totalToks)
    rows.foreach { case (_, _, _, toks, w, milli) =>
      assert(milli === w / toks)
    }
    // per shard: contiguous ranks, difficulty non-decreasing along them
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to rs.length.toLong).toSeq,
        s"shard $shard ranks")
      assert(byRank.map(_._6).toSeq === byRank.map(_._6).sortBy(identity).toSeq,
        s"shard $shard not easy-to-hard")
    }
    // independent refold of the per-sequence weights from the two
    // (oracle-verified) component queries
    val sup = Curation.q141BigramSurprisal(s, sf)
      .select($"doc_id", $"milli_bits_per_bigram").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Curation.q147PackedSequences(s, sf)
      .select($"shard", $"seq_idx", $"doc_id", $"n_toks").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(3), r.getLong(3) * sup.getOrElse(r.getLong(2), 0L))))
      .groupBy(_._1).view
      .mapValues(g => (g.map(_._2._1).sum, g.map(_._2._2).sum)).toMap
    rows.foreach { case (shard, _, seq, toks, w, _) =>
      assert(expected((shard, seq)) === ((toks, w)), s"seq ($shard, $seq)")
    }
  }

  test("q142 shards: complete permutation, contiguous positions, recomputable key") {
    val s = spark
    val rows = Curation.q142TrainingShards(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val nDocs = graft.Tables(s, sf, "documents").count()
    // every doc appears exactly once — a shuffle is a permutation
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._3).distinct.length.toLong === nDocs)
    // within each shard, positions are contiguous 1..n in rand_key order
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rs.length.toLong).toSeq,
        s"shard $shard positions not contiguous")
      assert(sorted.map(r => (r._4, r._3)).toSeq ===
        rs.map(r => (r._4, r._3)).sortBy(identity).toSeq,
        s"shard $shard not in rand_key order")
    }
    // the routing is recomputable from public parts: shard = djb2(md5) mod 64
    rows.take(50).foreach { case (shard, _, id, key) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(key === md)
      assert(shard === graft.functions.Djb2.hash(md) % 64)
    }
  }

  test("q154 padding waste replays the bucketed batcher locally") {
    val s = spark
    import s.implicits._
    def md5hex(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val dealt = docs.map { case (id, t) =>
      val dl = t.split(" ", -1).length.toLong
      val key = md5hex(id)
      (id, dl, key, graft.functions.Djb2.hash(key) % 4)
    }
    val expected = dealt.groupBy(r => (r._4, r._2 / 16)).toSeq
      .flatMap { case ((w, b), g) =>
        g.sortBy(r => (r._3, r._1)).grouped(8).zipWithIndex.map {
          case (batch, i) =>
            val dls = batch.map(_._2)
            val padded = dls.length * dls.max
            (w, b, i.toLong, dls.length.toLong, dls.max, dls.sum, padded,
              (padded - dls.sum) * 1000 / padded)
        }
      }.sortBy(r => (r._1, r._2, r._3))
    val got = Curation.q154PaddingWaste(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === expected)
    // the audit is not vacuous: full batches exist and SOME padding is
    // wasted (bucket width 16 guarantees it stays under ~16/min_dl too)
    assert(got.exists(_._4 === 8L) && got.exists(_._8 > 0L))
  }

  test("q156 dsir weights recompute locally and separate the target carve") {
    val s = spark
    import s.implicits._
    // independent piecewise-linear integer log2 (milli-bits)
    def qlog(x: Long): Long = {
      val b = java.lang.Long.toBinaryString(x).length
      val p = 1L << (b - 1)
      (b - 1).toLong * 1000 + (x - p) * 1000 / p
    }
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(w: String): Long = graft.functions.Djb2.hash(w) % 1024
    val toks = docs.flatMap { case (id, lang, t) =>
      t.split(" ", -1).map(w => (id, lang, bucket(w)))
    }
    val rc = toks.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tc = toks.filter(_._2 == "en").groupBy(_._3).view
      .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val (rTot, tTot) = (rc.values.sum, tc.values.sum)
    val score = rc.keys.map(b =>
      b -> (qlog(tc(b) + 1) - qlog(rc(b) + 1) + qlog(rTot) - qlog(tTot))).toMap
    val expected = toks.groupBy(_._1).toSeq.map { case (id, g) =>
      val n = g.length.toLong
      val sb = g.map(r => score(r._3)).sum
      val milli = if (sb >= 0) sb / n else -(-sb / n)
      (id, n, sb, milli, sb > 0)
    }.sortBy(_._1)
    val got = Curation.q156DsirWeights(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got === expected)
    // the importance signal points at the target: mean milli-bits/token of
    // 'en' docs strictly exceeds the non-target mean
    val byLang = docs.map(d => d._1 -> d._2).toMap
    val (en, rest) = got.partition(r => byLang(r._1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val mean = (xs: Seq[Long]) => xs.sum.toDouble / xs.length
    assert(mean(en.map(_._4)) > mean(rest.map(_._4)),
      "target carve not up-weighted")
  }

  test("q161 dup weights: families carry one copy's influence, corpus partitioned") {
    val s = spark
    val rows = Curation.q161DupWeights(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val nDocs = graft.Tables(s, sf, "documents").count()
    // every doc exactly once — weighting partitions the corpus
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._1).distinct.length.toLong === nDocs)
    rows.foreach { case (id, _, size, toks, w, wt) =>
      assert(w === 1000L / size, s"weight($id)")
      assert(wt === toks * w, s"weighted tokens($id)")
    }
    // family sizes are consistent with membership counts
    rows.groupBy(_._2).foreach { case (c, members) =>
      assert(members.forall(_._3 === members.length.toLong), s"size of $c")
    }
    // per family, total weight is one copy's (minus integer truncation)
    rows.groupBy(_._2).foreach { case (c, members) =>
      val tot = members.map(_._5).sum
      val n = members.length
      assert(tot <= 1000L && tot > 1000L - n, s"family $c weight sum $tot")
    }
    // the fixture has real dup families AND singletons
    assert(rows.exists(_._3 > 1L) && rows.exists(_._3 === 1L))
    // members of q60 clusters carry the cluster label
    val labels = graft.ops.Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(r => labels.contains(r._1)).foreach { case (id, c, _, _, _, _) =>
      assert(c === labels(id), s"label of $id")
    }
  }

  test("q162 family shards: no family spans two shards; doc routing splits some") {
    val s = spark
    import s.implicits._
    val rows = Curation.q162FamilyShards(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nDocs = graft.Tables(s, sf, "documents").count()
    val labels = graft.ops.Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docIds = graft.Tables(s, sf, "documents")
      .select($"doc_id").as[Long].collect()
    val families = docIds.map(id => labels.getOrElse(id, id))
      .distinct.length.toLong
    // both routings place every doc exactly once
    assert(rows.map(_._2).sum === nDocs)
    assert(rows.map(_._4).sum === nDocs)
    // family routing: Σ per-shard distinct families = |families| — no
    // family touches two shards
    assert(rows.map(_._3).sum === families)
    // doc routing fragments: strictly more shard-family incidences —
    // the leakage family routing exists to prevent
    assert(rows.map(_._5).sum > families)
    // the family-shard assignment is recomputable from public parts
    val someId = docIds.head
    val fam0 = labels.getOrElse(someId, someId)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(fam0.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectShard = graft.functions.Djb2.hash(md) % 64
    // that family must be counted in its shard's family-routed census
    assert(rows.find(_._1 == expectShard).exists(_._2 > 0L))
  }

  test("q168 pack leakage: both routings recompute locally; family routing pays in shared windows") {
    val s = spark
    import s.implicits._
    val got = Curation.q168PackLeakage(s, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val labels = graft.ops.Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"))
      .as[(Long, Long)].collect().toSeq
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shardOf(key: Long) = graft.functions.Djb2.hash(md5(key.toString)) % 64
    val famPairs = labels.values.groupBy(identity)
      .map { case (_, v) => v.size.toLong }.map(k => k * (k - 1) / 2).sum
    // full local recompute of both audits: route, order by (md5(id), id),
    // cumulative-sum into 256-token sequences, count family co-residence
    def localAudit(route: Long => Long): (Long, Long) = {
      val members = docs.filter { case (id, _) => labels.contains(id) }
      val sameShard = members.flatMap { case (a, _) =>
        members.collect { case (b, _) if a < b && labels(a) == labels(b) &&
          route(a) == route(b) => 1L } }.sum
      val seqOf = docs.groupBy { case (id, _) => route(id) }.flatMap {
        case (_, ds) =>
          var cum = 0L
          ds.sortBy { case (id, _) => (md5(id.toString), id) }.map {
            case (id, dl) =>
              val cs = cum; cum += dl
              id -> (cs / 256 to (cum - 1) / 256)
          }
      }
      val sameSeq = members.flatMap { case (a, _) =>
        members.collect { case (b, _) if a < b && labels(a) == labels(b) &&
          route(a) == route(b) &&
          seqOf(a).intersect(seqOf(b)).nonEmpty => 1L } }.sum
      (sameShard, sameSeq)
    }
    val (dShard, dSeq) = localAudit(id => shardOf(id))
    val (fShard, fSeq) = localAudit(id => shardOf(labels.getOrElse(id, id)))
    assert(got("doc") === ((famPairs, dShard, dSeq)))
    assert(got("family") === ((famPairs, fShard, fSeq)))
    // the q162 invariant re-observed: family routing co-locates EVERY pair
    assert(fShard === famPairs)
    // and the audit's reason to exist: co-location costs shared context
    // windows relative to doc routing on this corpus
    assert(fSeq > dSeq, s"family $fSeq vs doc $dSeq shared windows")
    assert(dSeq <= dShard && fSeq <= fShard)
  }

  test("q169 best-rep election recomputes locally; the fixture has real flips") {
    val s = spark
    import s.implicits._
    val got = Curation.q169BestRep(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    val labels = graft.ops.Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val score = graft.ops.TextAnalysis.q42Quality(s, sf)
      .select($"doc_id", $"quality_score").as[(Long, Double)]
      .collect().toMap
    val families = labels.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).filter(_._2.size >= 2)
    assert(got.keySet === families.keySet.toSet)
    families.foreach { case (c, members) =>
      val (sz, repMin, repBest, changed, minS, bestS, gain) = got(c)
      assert(sz === members.size.toLong, s"family $c size")
      assert(repMin === members.min, s"family $c min election")
      val localBest = members.minBy(id => (-score(id), id))
      assert(repBest === localBest, s"family $c best election")
      assert(minS === score(repMin) && bestS === score(localBest))
      assert(gain === bestS - minS && gain >= 0.0, s"family $c gain")
      assert(changed === (repBest != repMin))
    }
    // non-vacuous on the fixture: quality election flips some families
    // and confirms others
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  private def qlogM(x: Long): Long = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << (bits - 1)
    (bits - 1) * 1000L + (x - p) * 1000L / p
  }

  test("q170 A-Res weighted sample equals a local fold; keys order by log(u)/w") {
    val s = spark
    import s.implicits._
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().filter(_._2 >= 1)
    val keyed = docs.map { case (id, w) =>
      val u = graft.functions.Djb2.hash(md5(id.toString)) % 1048576 + 1
      val key = -((20000L - qlogM(u)) * 1000000L / w)
      (id, w, u, key)
    }
    val local = keyed.sortBy { case (id, _, _, k) => (-k, id) }.take(64)
      .zipWithIndex.map { case ((id, w, u, k), i) => (i + 1L, id, w, u, k) }
      .toSeq
    val got = Curation.q170WeightedSample(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === local)
    // the sample is genuinely weight-biased: the sampled docs' mean token
    // mass exceeds the corpus mean (heavier docs get closer-to-zero keys)
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = got.map(_._3).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean vs corpus $corpusMean")
    assert(got.forall(_._5 <= 0L))
  }

  test("q171 budget mix: local greedy knapsack, one throttled boundary source") {
    val s = spark
    import s.implicits._
    val perDoc = graft.ops.TextAnalysis.q42Quality(s, sf)
      .select($"doc_id", $"n_tokens", $"quality_score")
      .join(graft.Tables(s, sf, "documents").select($"doc_id", $"source"),
        "doc_id")
      .select($"source", $"n_tokens", $"quality_score")
      .as[(String, Long, Double)].collect()
    val per = perDoc.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.map(_._2).sum
      val qsum = ds.map(d => math.floor(d._3 * 1000.0).toLong).sum
      (src, ds.length.toLong, toks, qsum / ds.length)
    }.toSeq.sortBy { case (src, _, _, mq) => (-mq, src) }
    val budget = per.map(_._3).sum * 2 / 5
    var cum = 0L
    val local = per.zipWithIndex.map { case ((src, nd, toks, mq), i) =>
      val take = math.max(0L, math.min(toks, budget - cum))
      val row = (i + 1L, src, nd, mq, toks, cum, take, take * 1000 / toks)
      cum += toks
      row
    }
    val got = Curation.q171BudgetMix(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === local)
    // the cut has the knapsack shape: full takes, at most one partial,
    // zeros after; total spend never exceeds the budget
    val fracs = got.map(_._8)
    val partials = fracs.count(f => f > 0 && f < 1000)
    assert(partials <= 1, s"more than one throttled source: $fracs")
    assert(fracs.reverse.dropWhile(_ == 0L).headOption.forall(_ > 0L))
    assert(got.map(_._7).sum <= budget)
    assert(got.exists(_._8 === 1000L) && got.exists(_._8 === 0L))
  }

  test("q172 surprisal spans: a planted garbled stretch is localized; local recompute") {
    val s = spark
    // 9 fluent docs repeat the same bigrams; doc 9 starts fluent then
    // switches to a garbled stretch of RARE CONTINUATIONS OF THE COMMON
    // CONTEXT 'a' (the q141 metric scores cc/pc — "a z7" is surprising
    // because 'a' is common and z7 never follows it elsewhere; a stretch
    // of wholly-unique tokens would be trivially self-predictable). The
    // worst window must land on the garble with a positive spike.
    val fluent = Seq.fill(20)("a b").mkString(" ") // 40 tokens: a b a b ...
    val garbled = (Seq.fill(6)("a b").mkString(" ")) + " " +
      (1 to 9).map(i => s"a z$i").mkString(" ")
    val docs = (0L until 9L).map(i => (i, fluent, "en")) :+
      ((9L, garbled, "en"))
    val dir = writeDocs(docs)
    val got = Curation.q172SurprisalSpans(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // local recompute of the whole pipeline
    val toks = docs.map { case (id, t, _) => id -> t.split(" ").toSeq }.toMap
    val bigrams = toks.toSeq.flatMap { case (id, ts) =>
      ts.zip(ts.tail).zipWithIndex.map { case (bg, i) => (id, i + 1L, bg) } }
    val pc = bigrams.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cc = bigrams.groupBy(_._3._1).view.mapValues(_.size.toLong).toMap
    def bits(bg: (String, String)): Long =
      java.lang.Long.toBinaryString(cc(bg._1) / pc(bg)).length.toLong
    val local = bigrams.groupBy(_._1).collect {
      case (id, bs) if bs.size >= 16 =>
        val seq = bs.sortBy(_._2).map(b => bits(b._3))
        val n = seq.size.toLong
        val docBits = seq.sum
        val wins = seq.sliding(16).map(_.sum).toSeq
        val worst = wins.max
        val pos = wins.indexOf(worst) + 1L
        val wm = worst * 1000 / 16
        val dm = docBits * 1000 / n
        id -> ((n, pos, worst, wm, dm, wm - dm))
    }
    assert(got === local)
    // the garble is localized: doc 9's worst window must cover the
    // densest run of high-surprisal (a, z_i) bigrams — which starts well
    // past the fluent prefix — with a positive spike; fluent docs read
    // zero spike
    val (_, wpos9, _, _, _, spike9) = got(9L)
    assert(wpos9 >= 9L && spike9 > 0L, s"garble not localized: $wpos9 $spike9")
    (0L until 9L).foreach { id =>
      assert(got(id)._6 === 0L, s"fluent doc $id shows a spike")
    }
  }

  private def writeSourcedDocs(docs: Seq[(Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-curation-").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    root
  }

  test("q174 frontier equals brute-force dominance over the scored points") {
    val s = spark
    import s.implicits._
    // Docs with deliberately varied (distinct-ratio, length) so the scored
    // points spread over many (q_milli, n_tokens) cells; correctness is
    // checked against an O(n²) dominance scan over the SAME scored points.
    val docs = (1 to 40).map { i =>
      val distinctWords = (1 to (i % 7) + 1).map(j => s"w${i}_$j")
      val toks = Seq.tabulate(3 + (i * 13) % 37)(t => distinctWords(t % distinctWords.size))
      (i.toLong, toks.mkString(" "), "en")
    }
    val dir = writeDocs(docs)
    val got = Curation.q174ParetoFrontier(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pts = graft.ops.TextAnalysis.qualityScored(
        graft.Tables(s, dir, "documents"))
      .filter($"n_tokens" > 0)
      .select(floor($"quality_score" * 1000).cast("long"), $"n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cells = pts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val frontier = cells.keys.toSeq.filter { case (q, t) =>
      !cells.keys.exists { case (q2, t2) =>
        q2 >= q && t2 <= t && (q2 > q || t2 < t) }
    }.sortBy { case (q, _) => -q }
    assert(got.toSeq === frontier.map { case (q, t) => (q, t, cells((q, t))) })
    assert(got.length >= 3, s"fixture too degenerate: ${got.length} frontier points")
    // frontier invariant: strictly decreasing in BOTH coordinates
    got.sliding(2).foreach { case Array((q1, t1, _), (q2, t2, _)) =>
      assert(q1 > q2 && t1 > t2, s"not a staircase: ($q1,$t1) vs ($q2,$t2)")
    }
  }

  test("q175 calibration bands match a local recompute and band-range invariants") {
    val s = spark
    val got = Curation.q175Calibration(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // local recompute from the two registered projections
    val scores = Curation.q79QualityClassifier(s, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rule = graft.ops.TextAnalysis.q42Quality(s, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val local = scores.toSeq.map { case (id, sc) =>
      (math.max(-40L, math.min(39L, math.floor(sc * 20).toLong)), sc, rule(id))
    }.groupBy(_._1).toSeq.map { case (band, xs) =>
      val n = xs.size.toLong
      val mean = xs.map(x => BigDecimal(x._2).setScale(6, BigDecimal.RoundingMode.HALF_EVEN))
        .sum.toDouble / n
      (band, n, mean, xs.count(_._3) * 1000L / n)
    }.sortBy(_._1)
    assert(got.toSeq === local)
    assert(got.map(_._2).sum === scores.size.toLong)
    got.foreach { case (band, _, mean, milli) =>
      assert(milli >= 0L && milli <= 1000L)
      // unclamped bands: the mean sits inside the band's score interval
      if (band > -40 && band < 39)
        assert(mean >= band / 20.0 && mean < (band + 1) / 20.0,
          s"band $band mean $mean outside its interval")
    }
  }

  test("q173 KMV sketch is EXACT below k and its union algebra matches set arithmetic") {
    val s = spark
    // One doc = one 3-token shingle; source a holds shingles 1–10, source b
    // 6–15: |A|=|B|=10, |A∩B|=5, |A∪B|=15 — all far below k=128, so the
    // sketches are exhaustive and every estimate must be EXACT.
    def doc(i: Int): String = s"a$i b$i c$i"
    val docs = (1 to 10).map(i => (i.toLong, doc(i), "src_a")) ++
      (6 to 15).map(i => (100L + i, doc(i), "src_b"))
    val row = Curation.q173KmvSketch(s, writeSourcedDocs(docs)).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getAs[Long]("est_a") === 10L)
    assert(r.getAs[Long]("est_b") === 10L)
    assert(r.getAs[Long]("est_union") === 15L)
    assert(r.getAs[Long]("est_inter") === 5L)
    assert(r.getAs[Long]("jacc_est_milli") === 333L)
    assert(r.getAs[Long]("jacc_exact_milli") === 333L)
    assert(r.getAs[Long]("err_milli") === 0L)
  }

  test("q173 estimator regime: identical sources read jaccard 1000, disjoint near 0") {
    val s = spark
    // 1000 distinct shingles per source — well past k=128, so the (k−1)·M /
    // h_(k) estimator is live. Identical sketches force est_union == est_a
    // == est_b, hence jacc_est exactly 1000; a disjoint pair's clamped
    // intersection stays near zero; and the cardinality estimate itself
    // lands within the ~9%·3σ KMV band of the 1000 truth.
    def doc(tag: String, i: Int): String = s"${tag}x$i ${tag}y$i ${tag}z$i"
    val docs = (1 to 1000).map(i => (i.toLong, doc("p", i), "src_c")) ++
      (1 to 1000).map(i => (2000L + i, doc("p", i), "src_d")) ++
      (1 to 1000).map(i => (4000L + i, doc("q", i), "src_e"))
    val rows = Curation.q173KmvSketch(s, writeSourcedDocs(docs)).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r).toMap
    val cd = rows(("src_c", "src_d"))
    assert(cd.getAs[Long]("jacc_est_milli") === 1000L)
    assert(cd.getAs[Long]("jacc_exact_milli") === 1000L)
    assert(cd.getAs[Long]("est_a") >= 700L && cd.getAs[Long]("est_a") <= 1400L,
      s"cardinality estimate off: ${cd.getAs[Long]("est_a")}")
    val ce = rows(("src_c", "src_e"))
    assert(ce.getAs[Long]("jacc_exact_milli") === 0L)
    assert(ce.getAs[Long]("jacc_est_milli") <= 200L,
      s"disjoint pair estimated too similar: ${ce.getAs[Long]("jacc_est_milli")}")
  }
}
