package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.SigningStream

/** Generated classes are compiled once per JVM. GraftSession sizes
  * Spark's codegen cache above the engine's working set and turns off
  * per-session artifact isolation; both are read where the code
  * generator first runs, so this spec also shows they are in force in the
  * test JVM. At Spark's default of 100 entries the first case fails (the
  * mix generates ~300 classes), and with isolation on the second does
  * (every streaming query gets its own executor classloader). */
class CodegenCacheSpec extends SparkSpec {

  /** The 15 queries of the benchmark's corpus_mix workload. */
  private val CorpusMix = Seq(
    "q50_dedup_exact", "q52_minhash_lsh", "q53_simhash", "q54_cosine_neardup",
    "q62_dedup_corpus", "q65_simhash_banded", "q78_bloom_delta", "q91_simhash64",
    "q60_dup_clusters", "q55_ann_brute", "q56_ann_lsh", "q59_ann_ivf",
    "q73_ann_pq", "q86_random_projection", "q119_embedding_sanity")

  /** Classes compiled while `body` runs. */
  private def compiled(body: => Unit): Long = {
    val c0 = GraftSession.compiles
    body
    GraftSession.compiles - c0
  }

  test("once the session caches are warm, a pass over the corpus_mix queries compiles no class") {
    def pass(): Long = compiled(CorpusMix.foreach { name =>
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    })
    // the first pass builds the session caches, the second takes their
    // hit path once (a hit's one-row probe is a plan of its own)
    val cold = pass()
    val hits = pass()
    val warm = pass()
    assert(warm === 0L, s"a warm pass recompiled $warm classes (earlier passes: $cold, $hits)")
  }

  test("a second signing stream over the same plan reuses the first one's classes") {
    val s = spark
    implicit val sp: SparkSession = s
    import s.implicits._
    val lake = Files.createTempDirectory("graft-cg-lake-").toString
    val ts0 = Timestamp.valueOf("2024-01-05 10:00:00")
    Seq(("""{"id": "tx-1"}""", ts0, "raw/p0/obj-1.json"),
      ("""{"id": "tx-2"}""", ts0, "raw/p1/obj-2.json"))
      .toDF("payload", "ts", "s3_path").write.mode("overwrite").parquet(lake)
    def stream(): Long = {
      val root = Files.createTempDirectory("graft-cg-sign-").toString
      compiled {
        val q = SigningStream.run(
          s.readStream.schema("payload string, ts timestamp, s3_path string").parquet(lake),
          graft.ops.Pipeline.keyring(s), s"$root/sigs", s"$root/ckpt", Trigger.AvailableNow())
        assert(q.awaitTermination(120000))
      }
    }
    val first = stream()
    val second = stream()
    info(s"classes compiled: first query $first, second $second")
    // the plan embeds no per-query literal, so every class is a cache hit;
    // a fresh classloader would recompile the whole plan
    assert(second === 0L, s"the second query compiled $second classes (first: $first)")
  }
}
