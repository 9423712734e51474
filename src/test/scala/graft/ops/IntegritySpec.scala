package graft.ops

import java.nio.file.Files
import java.sql.Date

import graft.SparkSpec

/** q194: the audit must count injected violations exactly — and report
  * all-zero on the clean generated warehouse.
  */
class IntegritySpec extends SparkSpec {

  test("generated warehouse audits clean — except the real PK violation " +
      "the generator ships (duplicate lineitem (orderkey, linenumber))") {
    val rows = Integrity.q194IntegrityAudit(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      if (r.getString(0) == "pk_lineitem")
        // the synthetic generator assigns random linenumbers, so the
        // TPC-H composite PK contract is genuinely violated — the audit
        // must SURFACE it, not be tuned to hide it
        assert(r.getLong(1) > 0L, "known generator violation went undetected")
      else
        assert(r.getLong(1) === 0L, s"${r.getString(0)} flagged a clean table")
      assert(r.getLong(2) > 0L, s"${r.getString(0)} scanned nothing")
    }
    val names = rows.map(_.getString(0))
    assert(names.toSet.size === 20, "check names must be unique")
    assert(names.sorted.toSeq === names.toSeq, "output ordered by check")
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
      "documents", "embeddings").foreach { t =>
      assert(names.exists(_.contains(t)), s"no check covers $t")
    }
  }

  test("plan scans each audited table's fact side exactly once — the " +
      "stack() contract (r12's per-check projections rescanned lineitem 6x)") {
    // Spark truncates the FileScan Location field at
    // maxMetadataStringLength (default 100 chars) — a longer fixture path
    // would silently drop the "/<table>.parquet" suffix these counts key
    // on and the === 1 asserts would fail (or <= bounds pass vacuously at
    // 0). Widen it for the duration of the dump (ADVICE r13).
    val prevLen = spark.conf.getOption("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val plan =
      try Integrity.q194IntegrityAudit(spark, sf)
        .queryExecution.executedPlan.toString
      finally prevLen match {
        case Some(v) => spark.conf.set("spark.sql.maxMetadataStringLength", v)
        case None => spark.conf.unset("spark.sql.maxMetadataStringLength")
      }
    def scansOf(table: String): Int =
      plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains(s"/$table.parquet"))
    // fact-side scans: exactly one per audited table. Parent key-set
    // scans add at most one more per FK edge (nation parents customer AND
    // supplier; ReuseExchange may collapse the twins, hence <=).
    assert(scansOf("lineitem") === 1, "lineitem must be scanned exactly once")
    assert(scansOf("embeddings") === 1)
    assert(scansOf("part") === 1) // parent-only
    assert(scansOf("orders") <= 2 && scansOf("orders") >= 1)
    assert(scansOf("customer") <= 2)
    assert(scansOf("supplier") <= 2)
    assert(scansOf("nation") <= 3)
    assert(scansOf("region") <= 2)
    assert(scansOf("documents") <= 2)
    val total = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(total <= 16, s"q194 plan has $total FileScans (r12 shape had 24)")
  }

  test("injected violations are counted exactly") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-int-").toString
    def w(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$root/$name.parquet")
    w("region", Seq((0L, "r0"), (0L, "r0dup")).toDF("r_regionkey", "r_name"))
    w("nation", Seq((0L, "n0", 0L), (1L, "n1", 9L)) // 9 → orphan
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    w("customer", Seq((1L, "c1", 0L, 0.0, "A"), (2L, "c2", 5L, 0.0, "A")) // 5 → orphan
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    w("supplier", Seq((1L, "s1", 7L, 0.0)) // 7 → orphan
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    w("part", Seq((1L, "p1", "b", "t", 1L, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"))
    w("orders", Seq(
      (10L, 1L, "O", 1.0, Date.valueOf("2024-01-01"), "1-URGENT"),
      (10L, 2L, "O", 1.0, Date.valueOf("2024-01-02"), "1-URGENT"), // dup pk
      (11L, 99L, "O", 1.0, null.asInstanceOf[Date], "1-URGENT")) // orphan+null
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    w("lineitem", Seq(
      (10L, 1L, 1L, 1L, 5.0, 1.0, 0.05, 0.0, "N", "O", Date.valueOf("2024-02-01")),
      (10L, 1L, 1L, 1L, -2.0, 1.0, 1.50, 0.0, "N", "O", // dup pk + bad qty + bad disc
        Date.valueOf("2024-02-02")),
      (99L, 9L, 9L, 1L, 1.0, 1.0, 0.00, 0.0, "N", "O", // 3 orphans
        Date.valueOf("2024-02-03")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    w("documents", Seq((1L, "hello", "en", "src", 5L),
      (2L, null.asInstanceOf[String], "en", "src", 0L)) // null text
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    w("embeddings", Seq((1L, Array(1f, 2f), "a"), (3L, Array(1f, 2f), "b")) // 3 → orphan
      .toDF("vec_id", "embedding", "label"))

    val got = Integrity.q194IntegrityAudit(s, root).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Map(
      "fk_lineitem_order" -> 1L, "fk_lineitem_part" -> 1L,
      "fk_lineitem_supplier" -> 1L, "pk_lineitem" -> 1L,
      "chk_lineitem_qty_positive" -> 1L, "chk_lineitem_discount_range" -> 1L,
      "fk_orders_customer" -> 1L, "pk_orders" -> 1L,
      "chk_orders_date_null" -> 1L,
      "fk_customer_nation" -> 1L, "pk_customer" -> 0L,
      "fk_supplier_nation" -> 1L, "pk_supplier" -> 0L,
      "fk_nation_region" -> 1L, "pk_nation" -> 0L,
      "pk_region" -> 1L,
      "pk_documents" -> 0L, "chk_documents_text_null" -> 1L,
      "fk_embeddings_document" -> 1L, "pk_embeddings" -> 0L)
    expect.foreach { case (k, v) =>
      assert(got(k) === v, s"check $k: got ${got(k)}, expected $v")
    }
  }
}
