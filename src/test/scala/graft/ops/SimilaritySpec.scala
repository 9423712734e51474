package graft.ops

import graft.SparkSpec

/** q73 PQ-ANN semantics: the encoder's argmin-L2 contract, the 32-bit
  * compression invariant, and ADC recall against the brute-force oracle.
  */
class SimilaritySpec extends SparkSpec {

  test("PqEncode picks the argmin-L2 entry per subspace (ties to lower code)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 2 subspaces × 2 dims; entry 1 of subspace 0 is closer to (1,1);
    // subspace 1 has an exact tie → code 0 must win.
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(2.0, 2.0), Array(4.0, 4.0)))
    val v = new GenericArrayData(Array(0.9f, 1.1f, 3.0f, 3.0f))
    val codes = graft.functions.PqEncodeUtil.encode(v, cb, isFloat = true)
    assert(codes.toLongArray().toSeq === Seq(1L, 0L))
  }

  test("q73: codes fit 4 bits each, packed code fits 32 bits — the 64× compression") {
    val s = spark
    val rows = Similarity.q73AnnPq(s, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val p = r.getAs[Long]("code_packed"); p >= 0L && p < (1L << 32)
    })
  }

  test("q73: reported exact cos is truly exact, and ADC recall beats chance") {
    val s = spark
    import s.implicits._
    val brute = Similarity.q55AnnBrute(s, sf).filter($"rank" <= 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val pq = Similarity.q73AnnPq(s, sf).collect()
    val pqPairs = pq.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    // the exact-cosine column must agree with q55's value for shared pairs
    val bruteCos = Similarity.q55AnnBrute(s, sf).collect()
      .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")), r.getAs[Double]("cos"))).toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteCos.get(key).foreach { c =>
        assert(c === r.getAs[Double]("cos"), s"exact cos mismatch at $key")
      }
    }
    // recall@3 of a 32-bit code + 64-candidate ADC pool over 500 vectors:
    // measured 21/30 here (16/30 at sf0.01) vs a ~0.6% random baseline;
    // the deterministic planes give a fixed value on this fixture — pin a
    // conservative floor so codebook regressions show up loudly.
    // (Production widens to 64/128-bit codes — the q65 width-caveat story.)
    val recall = (brute & pqPairs).size.toDouble / brute.size
    assert(recall >= 0.5, s"ADC recall@3 collapsed: $recall")
    // and the ADC ordering itself is deterministic across runs
    val again = Similarity.q73AnnPq(s, sf).collect()
    assert(pq.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("q86 JL projection: hand-recomputed row, norm concentration, sign balance") {
    val s = spark
    import s.implicits._
    val rows = Similarity.q86RandomProjection(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows.size === 500 * 16)
    // hand-recompute vec 7's dim 3 with the same left fold
    val emb = graft.Tables(s, sf, "embeddings")
      .filter($"vec_id" === 7L).collect()(0)
      .getSeq[Float](1)
    def sign(i: Long, j: Long): Double = {
      val raw = (1103515245L * (i * 64 + j) + 12345L) % 2147483648L
      if (raw >= 1073741824L) 1.0 else -1.0
    }
    val expect = 0.25 * (0 until 64).foldLeft(0.0) { (acc, j) =>
      acc + emb(j).toDouble * sign(3, j)
    }
    assert(rows((7L, 3L)) === expect)
    // the ±1 matrix must be balanced (sign mean near zero over all 16×64
    // entries); independence across j is what the norm-concentration
    // check below guards — a parity-bit sign (LCG low bit, period 2 in j)
    // would pass balance but wreck concentration
    val signMean = (for (i <- 0L until 16L; j <- 0L until 64L) yield sign(i, j)).sum / 1024.0
    assert(math.abs(signMean) < 0.15, s"sign matrix unbalanced: $signMean")
    // JL normalization: with scale 1/√k = 1/4 and independent ±1 signs,
    // E[||y||²] = ||x||² — the corpus-mean ratio must concentrate near 1
    // (a parity-bit sign matrix, period 2 in j, fails this badly)
    val xNorms = graft.Tables(s, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
      .toMap
    val ratios = xNorms.keys.map { id =>
      val y2 = (0L until 16L).map(d => rows((id, d))).map(v => v * v).sum
      y2 / xNorms(id)
    }
    val meanRatio = ratios.sum / ratios.size
    assert(meanRatio > 0.6 && meanRatio < 1.4,
      s"norm ratio off JL expectation 1.0: $meanRatio")
  }

  test("q104 hard negatives: disjoint from positives, dense rank, index order kept") {
    val s = spark
    import s.implicits._
    val positives = Similarity.q55AnnBrute(s, sf).filter($"rank" <= 3)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Similarity.q59AnnIvf(s, sf) // k=3 view of the same subplan
    val ivf20 = Similarity.q104HardNegatives(s, sf).collect()
    assert(ivf20.nonEmpty)
    // (1) no mined negative is a labeled positive
    ivf20.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      assert(!positives.contains(key), s"positive leaked into negatives: $key")
    }
    // (2) neg_rank is dense 1..n (n ≤ 5) per query
    ivf20.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("neg_rank")).sorted.toSeq
      assert(ranks === (1L to ranks.size).toSeq, s"q$q ranks not dense: $ranks")
      assert(ranks.size <= 5)
    }
    // (3) within a query, neg_rank order preserves descending index score
    //     (cos ties broken by vec_id — inherited from the IVF rank)
    ivf20.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val inOrder = rs.sortBy(_.getAs[Long]("neg_rank"))
        .map(r => (-r.getAs[Double]("cos"), r.getAs[Long]("vec_id"))).toSeq
      assert(inOrder === inOrder.sorted, s"q$q negatives out of index order")
    }
    // (4) deterministic across runs
    val again = Similarity.q104HardNegatives(s, sf).collect()
    assert(ivf20.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // (5) the mined set respects the serving index: every negative that the
    //     k=3 IVF view already returns must carry the same cos there
    val ivf3 = cand.collect()
      .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")), r.getAs[Double]("cos"))).toMap
    ivf20.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      ivf3.get(key).foreach(c => assert(c === r.getAs[Double]("cos")))
    }
  }

  test("q88 recall equals a hand join of q55 truth and q56 results") {
    val s = spark
    import s.implicits._
    val truth = Similarity.q55AnnBrute(s, sf).filter($"rank" <= 3)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.q56AnnLsh(s, sf)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.q88AnnRecall(s, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L until 10L).toSeq)
    out.foreach { r =>
      val (q, k, nHit, recall) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val expectHit = truth.count(t => t._1 == q && approx.contains(t))
      assert(k === 3L)
      assert(nHit === expectHit.toLong, s"q$q: $nHit vs $expectHit")
      assert(recall === nHit.toDouble / k)
    }
  }

  test("q119 sanity gate: zero vector, exact-rank percentile bounds, clean middle") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-sanity-").toString
    // 200 vectors: id 0 is all-zero (undefined cosine), ids 1..198 have
    // norm² = id² · 64 (strictly increasing), id 199 is an outlier blob.
    // With n = 200 the exact-rank bounds flag rank ≤ 2 (bottom 1%) and
    // rank > 198 (top 1%).
    val rows = (0L until 200L).map { i =>
      val v = if (i == 0) Seq.fill(64)(0.0f)
        else if (i == 199) Seq.fill(64)(1.0e6f)
        else Seq.fill(64)(i.toFloat)
      (i, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$root/embeddings.parquet")
    val out = Similarity.q119EmbeddingSanity(s, root).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    // flagged: ranks 1,2 (ids 0,1 — ascending norm² order), ranks 199,200
    // (ids 198,199); nothing else survives the filter
    assert(out.keySet === Set(0L, 1L, 198L, 199L))
    assert(out(0L) === ((1L, true, true, false)))   // zero AND bottom-1%
    assert(out(1L) === ((2L, false, true, false)))
    assert(out(198L) === ((199L, false, false, true)))
    assert(out(199L) === ((200L, false, false, true)))
  }

  test("SqEncode: bound edges, midpoints, clamp, and the constant-dim pin") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val mins = Array(0.0, 10.0, -1.0)
    val ranges = Array(10.0, 0.0, 2.0) // dim 1 is constant
    // x = min → 0; x = max → floor(255) = 255; midpoint → 127; constant → 0
    val v = new GenericArrayData(Array(5.0f, 10.0f, 1.0f))
    val codes = graft.functions.SqEncodeUtil
      .encode(v, mins, ranges, isFloat = true).toLongArray().toSeq
    assert(codes === Seq(127L, 0L, 255L))
    val edges = new GenericArrayData(Array(0.0f, 999.0f, -1.0f))
    assert(graft.functions.SqEncodeUtil
      .encode(edges, mins, ranges, isFloat = true).toLongArray().toSeq
      === Seq(0L, 0L, 0L))
  }

  test("q120 SQ8: quantization error bounded by half a bucket on real vectors") {
    val s = spark
    val rows = graft.Tables(s, sf, "embeddings").collect()
    val dims = 64
    val vecs = rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val mins = (0 until dims).map(d => vecs.map(_(d)).min).toArray
    val ranges = (0 until dims).map(d => vecs.map(_(d)).max - mins(d)).toArray
    vecs.take(50).foreach { v =>
      val codes = graft.functions.SqEncodeUtil.encode(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        mins, ranges, isFloat = false).toLongArray()
      (0 until dims).foreach { d =>
        if (ranges(d) > 0.0) {
          val scale = ranges(d) / 255.0
          val recon = mins(d) + (codes(d) + 0.5) * scale
          assert(math.abs(recon - v(d)) <= scale * 0.5 + 1e-12,
            s"dim $d: recon $recon vs ${v(d)} (scale $scale)")
        }
      }
    }
  }

  test("q120 SQ8: exact cos column is exact, recall beats PQ's floor, deterministic") {
    val s = spark
    import s.implicits._
    val brute = Similarity.q55AnnBrute(s, sf).filter($"rank" <= 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val sq = Similarity.q120AnnSq(s, sf).collect()
    val sqPairs = sq.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val bruteCos = Similarity.q55AnnBrute(s, sf).collect()
      .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")), r.getAs[Double]("cos"))).toMap
    sq.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteCos.get(key).foreach { c =>
        assert(c === r.getAs[Double]("cos"), s"exact cos mismatch at $key")
      }
    }
    // 8 bits/dim reconstructs far more faithfully than PQ's 4 bits/subspace,
    // so the ADC pool should essentially contain the truth; pin a floor
    // strictly above PQ's 0.5 so a quantizer regression is loud.
    val recall = (brute & sqPairs).size.toDouble / brute.size
    assert(recall >= 0.8, s"SQ8 recall@3 collapsed: $recall")
    val again = Similarity.q120AnnSq(s, sf).collect()
    assert(sq.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("q128 cell balance: reconciles with the registered assignment, flag is exact") {
    val s = spark
    import s.implicits._
    val rows = Similarity.q128IvfBalance(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val nCorpus = graft.Tables(s, sf, "embeddings").count()
    // the audit partitions the corpus: per-cell counts sum to |embeddings|
    assert(rows.map(_._2).sum === nCorpus)
    val nCells = rows.length.toLong
    rows.foreach { case (cell, nVecs, nc, nTot, hot, share) =>
      assert(nc === nCells)
      assert(nTot === nCorpus)
      // the hot flag is exactly the int64 rule, and share the one division
      assert(hot === (nVecs * nc > 2 * nTot), s"cell $cell")
      assert(share === nVecs.toDouble / nTot.toDouble, s"cell $cell")
    }
    // per-cell counts match an independent groupBy over ivfAssigned
    val counts = rows.map(r => r._1 -> r._2).toMap
    val recount = Similarity.ivfAssigned(s, sf)
      .groupBy($"cell").count().as[(Long, Long)].collect().toMap
    assert(counts === recount)
  }

  test("q151 sweep: monotone recall/cost, scanned refolds, nprobe=2 matches q92") {
    val s = spark
    import s.implicits._
    val rows = Similarity.q151IvfSweep(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L))
    // widening the probe can only add candidates: recall and cost are
    // both non-decreasing in nprobe
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.toSeq, "recall not monotone")
    assert(rows.map(_._3).toSeq === rows.map(_._3).sorted.toSeq, "cost not monotone")
    // the scanned count refolds from assignments + probe cells
    val occ = Similarity.ivfAssigned(s, sf).groupBy($"cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val own = Similarity.ivfAssigned(s, sf).filter($"vec_id" < 10)
      .select($"vec_id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((np, _, scanned, _, _) <- rows) {
      val probed = Similarity.ivfTopKProbeCells(s, sf, np.toInt).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expect = probed.map { case (q, c) =>
        occ(c) - (if (own(q) == c) 1L else 0L) }.sum
      assert(scanned === expect, s"nprobe=$np scanned")
    }
    // the nprobe=2 point IS q92's registered ivf configuration
    val q92ivf = Similarity.q92AnnRecallFamilies(s, sf)
      .filter($"family" === "ivf").collect().head
    assert(rows.find(_._1 == 2L).get._4 === q92ivf.getAs[Double]("mean_recall"))
    assert(rows.find(_._1 == 2L).get._5 === q92ivf.getAs[Double]("worst_recall"))
  }

  test("q184 Lloyd step: occupancy reconciles, shift equals a local recompute") {
    val s = spark
    val got = Similarity.q184KmeansStep(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = graft.Tables(s, sf, "embeddings").count()
    assert(got.map(_._2).sum === total, "assignment must partition the corpus")
    got.foreach { case (cell, n, own, shift) =>
      assert(own <= n, s"cell $cell own-label exceeds occupancy")
      assert(shift >= 0L, s"cell $cell negative shift")
    }
    // local recompute: reassign with the collected quantizer, take exact
    // per-cell means, compare the movement numbers
    val emb = graft.Tables(s, sf, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong,
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val old = emb.groupBy(_._2).map { case (lbl, vs) =>
      lbl -> Array.tabulate(64) { d =>
        val sum = vs.map(v => BigDecimal(v._3(d)).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
        (sum.toDouble / vs.size)
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (d <- 0 until 64) { dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val assigned = emb.map { case (id, lbl, v) =>
      val best = old.toSeq.map { case (c, m) => (c, cos(v, m)) }
        .sortBy { case (c, sc) => (-sc, c) }.head._1
      (id, lbl, v, best)
    }
    val localBy = assigned.groupBy(_._4).map { case (cell, vs) =>
      val mNew = Array.tabulate(64) { d =>
        vs.map(v => BigDecimal(v._3(d)).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / vs.size
      }
      val shift = (0 until 64)
        .map(d => BigDecimal(math.abs(mNew(d) - old(cell)(d)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
      cell -> ((vs.size.toLong, vs.count(v => v._2 == cell).toLong,
        (shift * 1000000).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong))
    }
    got.foreach { case (cell, n, own, shift) =>
      val (ln, lown, lshift) = localBy(cell)
      assert(n === ln, s"cell $cell occupancy")
      assert(own === lown, s"cell $cell own-label count")
      assert(shift === lshift, s"cell $cell shift")
    }
    // the step is not vacuous: some vector sits outside its label's cell,
    // so at least one centroid actually moves
    assert(got.exists(_._4 > 0L), "no centroid moved — degenerate fixture")
  }
}
