package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hot-shingle mitigation (SCALE.md §3): stop-word shingles shared by many
  * documents must not create quadratic inverted-index buckets. The fixture
  * gives every doc the same stop phrase; the df-filter must cap the posting
  * lists while still finding the genuine near-dup pair.
  */
class DedupSpec extends SparkSpec {

  private def writeDocs(): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-dedup-").toString
    // Every doc opens with the same 4 stop tokens → the shingles inside
    // that prefix have df = n_docs. Docs 1 and 2 share a long distinctive
    // tail (true near-dups); all other docs are pairwise unrelated beyond
    // the stop prefix.
    val stop = "it is well known"
    val tail = "grumpy wizards make toxic brew for the evil queen and jack"
    val docs = Seq(
      (1L, s"$stop $tail alpha"),
      (2L, s"$stop $tail omega"),
    ) ++ (3L to 12L).map(i =>
      (i, s"$stop u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i u${i}j"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    root
  }

  test("df-filter bounds every posting list and drops stop-shingle pairs") {
    val s = spark
    import s.implicits._
    val dir = writeDocs()
    val maxDf = 4L

    // Unfiltered index: the stop shingles appear in all 12 docs — the
    // pathological bucket (12²/2 = 66 candidate pairs from one shingle).
    val rawMax = Dedup.coldShingles(s, dir, Long.MaxValue)
      .groupBy($"h").count().agg(max($"count")).head.getLong(0)
    assert(rawMax === 12)

    // Filtered index: every bucket bounded by maxDf.
    val coldMax = Dedup.coldShingles(s, dir, maxDf)
      .groupBy($"h").count().agg(max($"count")).head.getLong(0)
    assert(coldMax <= maxDf)

    // The genuine near-dup pair survives (its evidence is the distinctive
    // tail, not the stop prefix)...
    val pairs = Dedup.q51NgramJaccard(s, dir, maxDf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // ...and no pair is manufactured from stop shingles alone: docs 3..12
    // share ONLY the stop prefix with everyone.
    assert(pairs.forall { case (a, b) => a <= 2 && b <= 2 })

    // MinHash/LSH over the same filtered sets: the near-dup pair is a
    // candidate with high estimated Jaccard, and no stop-only pair appears.
    val lsh = Dedup.q52MinhashLsh(s, dir, maxDf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.contains((1L, 2L)))
    assert(lsh.forall { case (a, b) => a <= 2 && b <= 2 })
  }

  test("df-cap cannot manufacture false positives: scores are true Jaccard") {
    // Two docs whose shingles are almost all HOT (each shared with its own
    // clique, not with each other) plus one shared cold tail. Scoring the
    // filtered residue would report jaccard 0.6 and pair them; their true
    // Jaccard is 6/30 = 0.2, so candidate-then-verify must reject.
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-dedup-fp-").toString
    val p1 = (1 to 12).map(i => s"p${i}x").mkString(" ") // doc 1's hot body
    val p2 = (1 to 12).map(i => s"q${i}y").mkString(" ") // doc 2's hot body
    val t = (1 to 8).map(i => s"t${i}z").mkString(" ")   // shared cold tail
    val docs = Seq((1L, s"$p1 $t"), (2L, s"$p2 $t")) ++
      (3L to 8L).map(i => (i, p1)) ++ (9L to 14L).map(i => (i, p2))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val maxDf = 4L

    // Capped: docs 1+2's only cold overlap is the tail → candidate, but the
    // verified (true) jaccard is 0.2 → rejected. The hot-body cliques
    // (3..8, 9..14) have NO cold shingles → no candidates (the documented
    // recall caveat; byte-identical dups are q50's job). Result: no pairs.
    val capped = Dedup.q51NgramJaccard(s, root, maxDf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!capped.contains((1L, 2L)), "df-cap manufactured a false positive")
    assert(capped.isEmpty)
    val cappedLsh = Dedup.q52MinhashLsh(s, root, maxDf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!cappedLsh.contains((1L, 2L)))

    // Uncapped ground truth: (1,2) is genuinely below 0.5, while the
    // identical-body cliques pair at jaccard 1.0 and doc 1 contains doc 3's
    // body (10/18 = 0.556) — the verify path reports TRUE similarity.
    val full = Dedup.q51NgramJaccard(s, root, Long.MaxValue)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    val fullPairs = full.map(r => (r._1, r._2)).toSet
    assert(!fullPairs.contains((1L, 2L)))
    assert(fullPairs.contains((3L, 4L)))
    assert(full.find(r => r._1 == 3L && r._2 == 4L).get._3 === 1.0)
  }

  // Adversarial diameter: near-dup components are usually clique-like, but
  // the CC core must not silently mis-cluster a long chain. With pointer
  // doubling, a path graph converges in O(log diameter) rounds; without it
  // 10 rounds of 1-hop propagation would stop 30 hops short here.
  test("connected components converge on a diameter-40 path graph") {
    val s = spark
    import s.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 41)
    assert(labels.values.toSet === Set(0L), "every node must reach the min label")
  }

  test("connected components fail loudly when rounds are exhausted") {
    val s = spark
    import s.implicits._
    // diameter 12 but only 1 round: prop+doubling reaches ≤ 3 hops — the
    // call must throw, never return partially-merged clusters
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connected components: two components keep distinct min labels") {
    val s = spark
    import s.implicits._
    val pairs = Seq((5L, 7L), (7L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L))
  }

  test("shared-prep cache: eviction forces a rebuild with identical results") {
    val s = spark
    import s.implicits._
    val before = Dedup.cachedNearDupPairs(s, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    Dedup.evictSession(s)
    // after eviction the next call must rebuild (not fail on a removed
    // entry) and reproduce the same pair graph deterministically
    val after = Dedup.cachedNearDupPairs(s, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(after === before)
  }

  test("q65 banded candidates find exactly the Hamming ≤ 3 pairs (pigeonhole)") {
    val s = spark
    import s.implicits._
    val found = Dedup.q65SimhashBanded(s, sf)
      .as[(Long, Long, Long)].collect().toSet
    // 3 differing bits can dirty at most 3 of the 4 bands, so every pair at
    // Hamming ≤ 3 collides in some band: the banded result must EQUAL the
    // brute-force all-pairs truth, not merely approximate it.
    val sk = Dedup.q53Simhash(s, sf).as[(Long, Long)].collect()
    val truth = (for {
      i <- sk.indices.iterator
      j <- (i + 1) until sk.length
      h = java.lang.Long.bitCount(sk(i)._2 ^ sk(j)._2).toLong
      if h <= 3
    } yield (sk(i)._1 min sk(j)._1, sk(i)._1 max sk(j)._1, h)).toSet
    assert(found === truth)
  }

  test("q67 multi-signal clusters coarsen q60's Jaccard-only clusters") {
    val s = spark
    import s.implicits._
    val jacOnly = Dedup.q60DupClusters(s, sf)
      .as[(Long, Long)].collect().toMap
    val multi = Dedup.q67MultiSignalClusters(s, sf)
      .as[(Long, Long)].collect().toMap
    // the union graph is a superset of the Jaccard graph, so every doc the
    // Jaccard signal clustered is still clustered…
    assert(jacOnly.keySet.subsetOf(multi.keySet))
    // …and Jaccard co-membership is preserved: adding edges can merge
    // clusters but never split one
    for ((_, grp) <- jacOnly.groupBy(_._2) if grp.size > 1)
      assert(grp.keys.map(multi).toSet.size === 1)
  }

  test("q54 banded candidates: exact precision, recall contract vs all-pairs") {
    val s = spark
    import s.implicits._
    import graft.functions.VecFns
    val found = Dedup.q54CosineNeardup(s, sf)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // Ground truth: the pre-r5 all-pairs-within-label semantics.
    val e = graft.Tables(s, sf, "embeddings")
      .withColumn("nrm", VecFns.norm($"embedding"))
    val truth = e.as("a")
      .join(e.as("b"), $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", VecFns.cosinePrenorm(
        VecFns.dot($"a.embedding", $"b.embedding"), $"a.nrm", $"b.nrm"))
      .filter($"cos" >= 0.35)
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    // Exact verify ⇒ every reported pair is a true pair (precision 1.0)
    assert(found.subsetOf(truth))
    // Banding recall contract: ≥ 1 − (1 − p(0.35)²)⁸ ≈ 0.977 in expectation;
    // on this fixed data the deterministic planes find 13 of 14.
    assert(truth.nonEmpty)
    assert(found.size.toDouble / truth.size >= 0.9,
      s"recall ${found.size}/${truth.size}")
  }

  test("q72 delta dedup == q51 pairs restricted to delta×corpus (no recall loss)") {
    val s = spark
    // The incremental path must find exactly the full-rebuild pairs that
    // cross the batch boundary — same prefix index, same df cap, same
    // verification — with the delta doc surfaced on the left regardless of
    // doc_id order.
    val q51 = Dedup.q51NgramJaccard(s, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("common"), r.getAs[Double]("jaccard")))
    val expected = q51.flatMap { case (a, b, c, j) =>
      if (a % 10 == 7 && b % 10 != 7) Some((a, b, c, j))
      else if (b % 10 == 7 && a % 10 != 7) Some((b, a, c, j))
      else None
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = Dedup.q72DeltaDedup(s, sf).collect()
      .map(r => (r.getAs[Long]("delta_doc"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("common"), r.getAs[Double]("jaccard"))).toSeq
    assert(got === expected)
    // and the fixture actually exercises the path
    assert(got.nonEmpty)
  }

  test("q76 span dedup: gaps-and-islands recovers the exact longest run") {
    val s = spark
    import s.implicits._
    // Docs 1 and 2 share the 4-token stop prefix + 11-token tail verbatim
    // (15 contiguous tokens), then diverge on the final token. With K=8
    // windows that is windows 0..7 on one diagonal: n_matches = 8,
    // max_run = 8 + (8−1) = 15. Docs 3..12 share only the 4-token prefix —
    // below the window size, so no pair.
    val dir = writeDocs()
    val rows = Dedup.q76SpanDedup(s, dir).collect()
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSeq
      === Seq((1L, 2L)))
    assert(rows.head.getAs[Long]("n_matches") === 8L)
    assert(rows.head.getAs[Long]("max_run_tokens") === 15L)
    // Interrupted runs must NOT merge: a doc repeating a window at a
    // non-adjacent position shares windows on two diagonals/islands — the
    // longest run reflects the longest island only.
    val root = java.nio.file.Files.createTempDirectory("graft-span-").toString
    val span = "w1 w2 w3 w4 w5 w6 w7 w8"
    Seq(
      (1L, s"$span x1 x2 $span"),          // run of 8, twice, split by x1 x2
      (2L, s"$span y1 y2 y3 y4 y5 y6 y7 y8")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val r2 = Dedup.q76SpanDedup(s, root).collect()
    assert(r2.length === 1)
    // doc 1 matches doc 2's single w-window at two positions (two islands
    // of size 1 on different diagonals): max run stays 8, matches = 2.
    assert(r2.head.getAs[Long]("n_matches") === 2L)
    assert(r2.head.getAs[Long]("max_run_tokens") === 8L)
  }

  test("q77 semdedup: drops point to a verified lower-id same-cell partner") {
    val s = spark
    val res = Dedup.q77Semdedup(s, sf).collect()
    val cellOf = res.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val dropped = res.filter(!_.getAs[Boolean]("keep"))
    assert(dropped.nonEmpty) // the fixture exercises the drop path (57 at sf0.001)
    dropped.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val d = r.getAs[Long]("dup_of")
      assert(d < v, s"dup_of $d !< $v")
      assert(cellOf(d) === cellOf(v), s"pair ($d, $v) crosses cells")
    }
    // every reported (dup_of, vec_id) pair is a true cosine duplicate —
    // recompute exact cosine for the dropped pairs and check the threshold
    val emb = graft.Tables(s, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    def cos(a: scala.collection.Seq[Float], b: scala.collection.Seq[Float]): Double = {
      def dot(x: scala.collection.Seq[Float], y: scala.collection.Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    dropped.foreach { r =>
      val c = cos(emb(r.getAs[Long]("dup_of")), emb(r.getAs[Long]("vec_id")))
      assert(c >= Dedup.SemDedupTau, s"cos $c below tau")
    }
    // keeps and drops partition the corpus
    assert(res.length === emb.size)
  }

  test("q82 segment dedup: first occurrence wins, docs reassemble in order") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-segdedup-").toString
    val segA = "a1 a2 a3 a4 a5 a6 a7 a8"
    val segB = "b1 b2 b3 b4 b5 b6 b7 b8"
    val segC = "c1 c2 c3 c4 c5 c6 c7 c8"
    Seq(
      (0L, s"$segA $segB"), // both novel → fully kept
      (1L, s"$segA $segC"), // segment A already seen in doc 0 → only C survives
      (2L, "d1 d2 d3"),     // short partial segment, unique → kept
      (3L, segA),           // entire doc is a seen segment → rewritten to ""
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Dedup.q82SegmentDedup(s, root)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (0L, 2L, 2L, s"$segA $segB"),
      (1L, 2L, 1L, segC),
      (2L, 1L, 1L, "d1 d2 d3"),
      (3L, 1L, 0L, ""),
    ))
  }

  test("q110 recall gate: exact truth thresholds, every family catches an exact dup") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-recall-").toString
    val tail = "grumpy wizards make toxic brew for the evil queen and jack"
    // docs 1/2 identical (the one truth pair — identical shingle sets, so
    // every family MUST catch it: same minhash signature, Hamming 0,
    // shared cold shingles); docs 3..8 pairwise share no shingle at all.
    (Seq(
      (1L, s"one two three $tail"),
      (2L, s"one two three $tail"),
    ) ++ (3L to 8L).map(i =>
      (i, s"z${i}a z${i}b z${i}c z${i}d z${i}e z${i}f z${i}g z${i}h")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$root/documents.parquet")
    val out = Dedup.q110DedupRecall(s, root)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) ===
      Seq("allpairs_prefix", "minhash_lsh", "simhash64_band"))
    out.foreach { case (fam, nTruth, nCand, nCaught, recall) =>
      assert(nTruth === 1L, fam)          // only (1,2) reaches jaccard >= 0.5
      assert(nCaught === 1L, fam)         // an identical pair evades nothing
      assert(recall === 1.0, fam)
      assert(nCand >= nCaught, fam)
    }
  }

  test("q126 containment: every verdict re-verified as a contiguous token run") {
    val s = spark
    import s.implicits._
    val rows = Dedup.q126Containment(s, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty) // the fixture corpus embeds full-copy docs
    val toks = graft.Tables(s, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    rows.foreach { case (contained, container, nIn, nOut) =>
      assert(nIn <= nOut, s"$contained in $container")
      if (nIn == nOut) // token-identical twins: min-id keeper is container
        assert(contained > container, s"$contained in $container")
      assert(toks(contained).length === nIn.toInt)
      assert(toks(container).length === nOut.toInt)
      // the contained doc's ENTIRE token sequence occurs verbatim inside
      // the container — the claim the classifier makes, re-checked against
      // raw text (no hashes, no windows)
      assert(toks(container).sliding(nIn.toInt).contains(toks(contained)),
        s"doc $contained not a contiguous token run of doc $container")
    }
  }

  test("q129 shingle df audit: top list and totals match an independent recompute") {
    val s = spark
    import s.implicits._
    val rows = Dedup.q129ShingleDfAudit(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length === 32)
    // independent recompute of every df from raw text (same shingling rule)
    val dfs = graft.Tables(s, sf, "documents")
      .select($"doc_id", graft.functions.TextFns.tokens($"text").as("toks"))
      .select($"doc_id",
        explode(array_distinct(graft.functions.HashFns.shingleHashes($"toks", 3))).as("h"))
      .groupBy($"h").agg(count(lit(1)).as("df"))
      .as[(Long, Long)].collect()
    val byH = dfs.toMap
    val expTop = dfs.sortBy { case (h, d) => (-d, h) }.take(32).toSeq
    assert(rows.map(r => (r._1, r._2)).toSeq === expTop)
    val expHot = dfs.filter(_._2 > Dedup.HotShingleMaxDf)
    rows.foreach { case (h, df, dropped, nSh, nOcc, nHot, hotOcc) =>
      assert(df === byH(h))
      assert(dropped === (df > Dedup.HotShingleMaxDf))
      assert(nSh === dfs.length.toLong)
      assert(nOcc === dfs.map(_._2).sum)
      assert(nHot === expHot.length.toLong)
      assert(hotOcc === expHot.map(_._2).sum)
    }
  }

  test("q125 cross-source matrix: edge totals and doc counts reconcile") {
    val s = spark
    import s.implicits._
    val m = Dedup.q125CrossSourceMatrix(s, sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(m.nonEmpty)
    // unordered-pair canonical form, no duplicate cells
    m.foreach { case (a, b, _, _, _) => assert(a <= b) }
    assert(m.map(r => (r._1, r._2)).distinct.size === m.size)
    // the matrix partitions the q67 edge set: cell counts sum to |edges|
    val nEdges = Dedup.multiSignalEdges(s, sf).count()
    assert(m.map(_._3).sum === nEdges)
    // per-source doc counts match the corpus
    val nd = graft.Tables(s, sf, "documents").groupBy($"source")
      .agg(count(lit(1))).as[(String, Long)].collect().toMap
    m.foreach { case (a, b, _, na, nb) =>
      assert(na === nd(a)); assert(nb === nd(b))
    }
  }

  test("q148 census partitions the corpus exactly and matches the labels") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{size, split}
    val census = Dedup.q148ClusterCensus(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.Tables(s, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the census is a PARTITION of the corpus: doc and token masses total
    assert(census.map(_._3).sum === docs.length.toLong)
    assert(census.map(_._4).sum === docs.map(_._2).sum)
    // size arithmetic: n_docs = cluster_size * n_clusters on every row
    census.foreach { case (sz, nc, nd2, _) => assert(nd2 === sz * nc) }
    // clustered rows agree with an independent fold of the q60 labels
    val labels = Dedup.q60DupClusters(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = labels.groupBy(_._2).view.mapValues(_.length).toMap
    val sizeHist = byCluster.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    census.filter(_._1 >= 2).foreach { case (sz, nc, _, _) =>
      assert(nc === sizeHist(sz.toInt), s"size-$sz cluster count")
    }
    // every multi-doc family is on the books, and singletons exist
    assert(census.filter(_._1 >= 2).map(_._2).sum === sizeHist.values.sum)
    assert(census.exists(_._1 == 1L), "no singleton row")
    assert(census.exists(_._1 >= 2L), "no clustered row in fixture")
  }

  test("q152 banding sweep: nested geometries monotone, 4x4 row equals q110's") {
    val s = spark
    val rows = Dedup.q152LshSweep(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(r => (r._1, r._2)).toSeq === Seq((2L, 8L), (4L, 4L), (8L, 2L)))
    // one truth set across the whole table
    assert(rows.map(_._3).distinct.length === 1)
    // aligned-band nesting: an 8-row collision implies its two 4-row
    // halves collide, which imply their 2-row halves — candidates and
    // catches are supersets down the table
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.toSeq, "n_cand not monotone")
    assert(rows.map(_._5).toSeq === rows.map(_._5).sorted.toSeq, "n_caught not monotone")
    // the (4,4) row IS the registered production geometry: it must agree
    // with q110's minhash_lsh row exactly
    val q110 = Dedup.q110DedupRecall(s, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val (nt, nc, nh, rec) = q110("minhash_lsh")
    val mid = rows.find(r => r._1 == 4L).get
    assert((mid._3, mid._4, mid._5, mid._6) === ((nt, nc, nh, rec)))
  }

  test("q185 pagerank core matches a local integer iteration; hubs outrank leaves") {
    val s = spark
    import s.implicits._
    // star 1—2,1—3,1—4 plus a 2-path 10—11: the hub must outrank its
    // leaves, the isolated pair stays symmetric
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
    val got = Dedup.pagerank(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // local replay of the exact integer rounds
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = deg.keys.map(_ -> 1000L).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum
      }
      rank = rank.keys.map(k => k -> (150L + 850L * in(k) / 1000L)).toMap
    }
    assert(got === rank.map { case (k, r) => k -> ((deg(k), r)) })
    assert(got(1L)._2 > got(2L)._2, "hub must outrank leaf")
    assert(got(2L) === got(3L) && got(3L) === got(4L), "leaves must tie")
    assert(got(10L) === got(11L), "symmetric pair must tie")
  }

  test("q193 personalized pagerank: restart mass enters only at seeds; " +
      "local integer replay agrees") {
    val s = spark
    import s.implicits._
    // star 1-2,1-3,1-4 (seed: hub 1) + path 10-11-12 (seed: 10)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L), (11L, 12L))
    val seeds = Seq(1L, 10L)
    val got = Dedup.personalizedPagerank(
      pairs.toDF("doc_a", "doc_b"), seeds.toDF("doc_id")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = deg.keys.map(k => k -> (if (seeds.contains(k)) 1000L else 0L)).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum
      }
      rank = rank.keys.map(k =>
        k -> ((if (seeds.contains(k)) 150L else 0L) + 850L * in(k) / 1000L)).toMap
    }
    assert(got === rank.map { case (k, r) =>
      k -> ((deg(k), seeds.contains(k), r)) })
    // affinity decays with distance from the seed along the path
    assert(got(11L)._3 > got(12L)._3, "1-hop must outrank 2-hop")
    // fixture: seeds are exactly the q60 representatives, both flags occur
    val full = Dedup.q193RepAffinity(s, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
    val reps = Dedup.q60DupClusters(s, sf).collect()
      .filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(0)).toSet
    assert(full.filter(_._2).map(_._1).toSet === reps)
    assert(full.exists(_._2) && full.exists(!_._2))
    // every member keeps nonzero affinity to its family's keeper
    assert(full.forall(_._3 >= 0L))
  }

  test("q191 incremental CC == q60 rescan; touched marks exactly the " +
      "merged components") {
    val s = spark
    val full = Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = Dedup.q191IncrementalCc(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(inc.map(_._1).toSet === full.keySet)
    inc.foreach { case (id, c, _) =>
      assert(full(id) === c, s"doc $id label diverges from rescan")
    }
    val touchedTruth = full.collect {
      case (id, c) if id % 10 == 7 => c
    }.toSet
    inc.foreach { case (id, _, t) =>
      assert(t === touchedTruth.contains(full(id)), s"doc $id touched flag")
    }
    assert(inc.exists(_._3) && inc.exists(!_._3),
      "fixture must contain merged AND untouched components")
  }

  test("q190 triangle core: known graph counts exactly; orientation " +
      "counts each triangle once; triangle-free stars stay zero") {
    val s = spark
    import s.implicits._
    // K4 on 1-4 (4 triangles, every node in 3) + a triangle 10-11-12
    // sharing node 10 with a 3-star (10-20,10-21,10-22: wedges, no
    // closure) + an isolated edge 30-31
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (10L, 20L), (10L, 21L), (10L, 22L),
      (30L, 31L))
    val got = Dedup.triangleCounts(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // K4: deg 3, each node in C(3,2)=3 triangles, cc = 2000*3/(3*2)=1000
    Seq(1L, 2L, 3L, 4L).foreach { n =>
      assert(got(n) === ((3L, 3L, 1000L)), s"K4 node $n")
    }
    // hub 10: deg 5, exactly the one 10-11-12 triangle → 2000*1/(5*4)=100
    assert(got(10L) === ((5L, 1L, 100L)))
    assert(got(11L) === ((2L, 1L, 1000L)) && got(12L) === ((2L, 1L, 1000L)))
    // star leaves and the isolated edge: no triangles, cc 0
    Seq(20L, 21L, 22L, 30L, 31L).foreach { n =>
      assert(got(n)._2 === 0L, s"node $n must be triangle-free")
      assert(got(n)._3 === 0L, s"node $n cc")
    }
    // global count: sum per-node / 3 == 4 + 1
    assert(got.values.map(_._2).sum === 3 * 5L)
  }

  test("q187 incremental pagerank == q185 rescan; flags mark exactly the " +
      "components holding a delta doc") {
    val s = spark
    val full = Dedup.q185Pagerank(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val inc = Dedup.q187IncrementalPagerank(s, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
    // identity: same node set, same (deg, rank) per node as the rescan
    assert(inc.map(_._1).toSet === full.keySet)
    inc.foreach { case (id, (deg, rank, _)) =>
      assert(full(id) === ((deg, rank)), s"doc $id diverges from rescan")
    }
    // flag ground truth from the independently-specced CC labels
    val labels = Dedup.q60DupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touched = labels.collect {
      case (id, c) if id % 10 == 7 => c
    }.toSet
    inc.foreach { case (id, (_, _, flag)) =>
      assert(flag === touched.contains(labels(id)), s"doc $id flag")
    }
    // the fixture must exercise BOTH paths or the identity is vacuous
    assert(inc.exists(_._2._3) && inc.exists(!_._2._3),
      "fixture must contain touched AND untouched components")
  }
}
