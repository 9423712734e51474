package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local file system under a scheme of its own, so a spec can put a
  * seam's root on a non-`file:` URI without a cluster. */
class GraftMockFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
}

/** Seams whose state lives in `<key>=<id>` directories must read that
  * state back under the root's own Hadoop scheme. A `java.io.File`
  * probe reads every non-local root (hdfs:, s3a:, …) as empty: MERGE
  * then overwrites the whole target with each batch, and dedup checks
  * each batch against the static corpus only. */
class NonLocalRootSpec extends SparkSpec {

  private def mockRoot(s: SparkSession, prefix: String): String = {
    s.sparkContext.hadoopConfiguration
      .set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    s"graftmock://${Files.createTempDirectory(prefix)}"
  }

  private def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  test("MERGE on a non-local root keeps earlier keys, replays from the " +
      "pinned audit, and removes its staging copy") {
    val s = spark
    import s.implicits._
    val root = mockRoot(s, "graft-nl-ms-")
    val target = s"$root/table"
    val audit = s"$root/audit"
    def merge(rows: Seq[(Long, String, Long)], batchId: Long): Unit =
      MergeStream.mergeBatch(s, rows.toDF("k", "v", "seq"),
        target, audit, "k", "seq", 16, batchId)
    def readTable() = s.read.parquet(target)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    def readAudit(batch: Long) = s.read.parquet(s"$audit/batch=$batch")
      .select($"k", $"action").as[(Long, String)].collect().toSet

    merge(Seq((1L, "a", 1L), (2L, "b", 1L)), 0L)
    val batch1 = Seq((1L, "c", 2L), (3L, "d", 1L))
    merge(batch1, 1L)
    assert(readTable() === Map(1L -> "c", 2L -> "b", 3L -> "d"),
      "the second batch must merge into the table, not replace it")
    assert(readAudit(1) === Set((1L, "update"), (3L, "insert")))
    assert(!exists(s, s"$target.staging"), "staging copy left behind")

    // replay against the merged table: the pinned audit is reused, so
    // k=3 stays an insert rather than being re-decided as an update
    merge(batch1, 1L)
    assert(readAudit(1) === Set((1L, "update"), (3L, "insert")))
    assert(readTable() === Map(1L -> "c", 2L -> "b", 3L -> "d"))
    assert(s.read.parquet(target).count() === 3L)
  }

  test("dedup on a non-local root sees earlier accepted batches") {
    val s = spark
    import s.implicits._
    val tail = "grumpy wizards make toxic brew for the evil queen and jack"
    val novel = "seventeen violet umbrellas quietly argued about rhubarb pie"
    val corpus = Files.createTempDirectory("graft-nl-dsc-").toString
    Seq((1000L, s"prefix one $tail")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$corpus/documents.parquet")
    val root = mockRoot(s, "graft-nl-ds-")
    val state = s"$root/state"

    // batch 0 as the seam runs it: split against the standing index,
    // then land the accepted docs in state/batch=0
    val (_, accepted) = DedupStream.splitBatch(s,
      Seq((2L, s"intro words $novel")).toDF("doc_id", "text"),
      DedupStream.standingBefore(s, corpus, state, 0L))
    BatchSink.write(root, 0L, "state" -> accepted)

    def standing(batchId: Long) =
      DedupStream.standingBefore(s, corpus, state, batchId)
    assert(standing(1L).shingles.select($"doc_id").as[Long].collect().toSet
      === Set(1000L, 2L), "batch 0's accepted doc must join batch 1's index")
    assert(standing(0L).shingles.select($"doc_id").as[Long].collect().toSet
      === Set(1000L), "a batch must not see its own state partition")
    val (pairs, _) = DedupStream.splitBatch(s,
      Seq((4L, s"other words $novel")).toDF("doc_id", "text"), standing(1L))
    assert(pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((4L, 2L)), "a near-dup of batch 0's accepted doc")
  }

  test("vector-index retrain on a non-local root commits the next " +
      "generation and drops the old one") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Files.createTempDirectory("graft-nl-vxc-").toString
    Seq((100L, vec(1, 0), 0), (101L, vec(0.9, 0.1), 0),
      (102L, vec(0, 1), 1), (103L, vec(0.1, 0.9), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$corpus/embeddings.parquet")
    val root = mockRoot(s, "graft-nl-vx-")
    val (cells, cents) = graft.ops.Similarity.ivfCentroidMeta(s, corpus)
    VectorIndexStream.writeBatch(Seq((1L, vec(0.95, 0.05)), (2L, vec(0.05, 0.95)),
      (3L, vec(0.8, 0.2))).toDF("vec_id", "embedding"), 0L, root, cells, cents)

    VectorIndexStream.retrain(s, root, corpus)
    assert(VectorIndexStream.currentGen(s, root) === "index-g1")
    assert(s.read.parquet(s"$root/index-g1").count() === 3L)
    assert(!exists(s, s"$root/index"), "the superseded generation must be dropped")
    assert(VectorIndexStream.probe(s, root, corpus, vec(1, 0), k = 2, nprobe = 1)
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("signatures on a non-local root migrate flat, then upsert") {
    val s = spark
    import s.implicits._
    val sigDir = s"${mockRoot(s, "graft-nl-sig-")}/sigs"
    def signed(rows: (String, String)*) = rows.toDF("pk", "s3_path")
      .select($"pk", lit(1L).as("key_id"), lit("0xaddr").as("address"),
        lit("s" * 64).as("signature"), $"s3_path")
    val (a, b, c) = ("07" + "a" * 62, "42" + "b" * 62, "99" + "c" * 62)
    // the layout before the flat one: a pk_bucket=<xx> directory per prefix
    signed(a -> "raw/p0/a.json", b -> "raw/p1/b.json")
      .withColumn("pk_bucket", substring($"pk", 1, 2))
      .repartition(1).write.partitionBy("pk_bucket").parquet(sigDir)

    // a resumed run's first batch: a replay of a and a new c
    SigningStream.upsert(signed(a -> "raw/p2/a.json", c -> "raw/p2/c.json"),
      sigDir)(s)
    val p = new Path(sigDir)
    assert(p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
      .forall(_.isFile), "a bucket directory was left behind")
    assert(s.read.parquet(sigDir).select($"pk", $"s3_path").as[(String, String)]
      .collect().toSet === Set(a -> "raw/p0/a.json", b -> "raw/p1/b.json",
        c -> "raw/p2/c.json"))
  }
}
