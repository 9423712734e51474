package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The streaming seams' sink protocol: overwrite-by-batch layout, replay
  * idempotence, the fan's await-every-leg failure rule, checkpointed
  * restart and the partition-directory read side — each pinned once here
  * instead of once per seam. */
class BatchSinkSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-bs-$tag-").toString

  test("each output lands at <root>/<dir>/batch=<id>; a partitioned output nests its column under the batch dir") {
    val s = spark
    import s.implicits._
    val root = tmp("layout")
    BatchSink.write(root, 3L,
      "a" -> Seq((1L, "x"), (2L, "y")).toDF("id", "t"),
      BatchSink.Output("p", Seq((1L, 0L), (2L, 1L)).toDF("id", "k"),
        partitionBy = Some("k")))
    assert(new File(s"$root/a/batch=3/_SUCCESS").exists())
    assert(new File(s"$root/p/batch=3/k=0").isDirectory)
    assert(new File(s"$root/p/batch=3/k=1").isDirectory)
    val a = s.read.parquet(s"$root/a")
      .select($"batch".cast("long"), $"id", $"t").as[(Long, Long, String)]
      .collect().toSet
    assert(a === Set((3L, 1L, "x"), (3L, 2L, "y")))
    val p = s.read.parquet(s"$root/p")
      .select($"batch".cast("long"), $"k".cast("long"), $"id")
      .as[(Long, Long, Long)].collect().toSet
    assert(p === Set((3L, 0L, 1L), (3L, 1L, 2L)))
  }

  test("writing the same batchId twice leaves exactly the second write") {
    val s = spark
    import s.implicits._
    val root = tmp("replay")
    BatchSink.write(root, 0L, "a" -> Seq(1L, 2L, 3L).toDF("v"))
    BatchSink.write(root, 1L, "a" -> Seq(9L).toDF("v"))
    BatchSink.write(root, 0L, "a" -> Seq(7L).toDF("v"))
    val rows = s.read.parquet(s"$root/a")
      .select($"batch".cast("long"), $"v").as[(Long, Long)].collect().toSet
    assert(rows === Set((0L, 7L), (1L, 9L)))
  }

  test("ids lists <key>=<id> dirs ascending; committed hides a torn write; bad names and schemes throw") {
    val s = spark
    import s.implicits._
    val root = tmp("ids")
    assert(BatchSink.ids(s, s"$root/a") === Seq.empty, "absent dir")
    for (b <- Seq(10L, 2L, -1L)) BatchSink.write(root, b, "a" -> Seq(b).toDF("v"))
    new File(s"$root/a/other=5").mkdirs()
    new File(s"$root/a/batch=7").mkdirs() // torn: no _SUCCESS
    assert(BatchSink.ids(s, s"$root/a") === Seq(-1L, 2L, 7L, 10L))
    assert(BatchSink.ids(s, s"$root/a", committed = true) === Seq(-1L, 2L, 10L))
    assert(BatchSink.ids(s, s"$root/a", "other") === Seq(5L))
    assert(BatchSink.committed(s, s"$root/a/batch=2"))
    assert(!BatchSink.committed(s, s"$root/a/batch=7"))
    BatchSink.delete(s, s"$root/a/batch=7")
    BatchSink.delete(s, s"$root/a/batch=7") // absent: a no-op
    assert(BatchSink.ids(s, s"$root/a") === Seq(-1L, 2L, 10L))
    new File(s"$root/a/batch=x").mkdirs()
    intercept[NumberFormatException](BatchSink.ids(s, s"$root/a"))
    intercept[Exception](BatchSink.ids(s, "graft-no-such-scheme://bucket/a"))
  }

  test("a failed leg surfaces only after its sibling committed; a retry equals an uninterrupted write") {
    val s = spark
    import s.implicits._
    val (root, ref) = (tmp("fault"), tmp("ref"))
    // the sibling is deliberately slower than the failing leg: were the
    // failure rethrown on arrival, the sibling would still be writing
    val slow = udf { (v: Long) => Thread.sleep(300L); v }
    val boom = udf { (v: Long) =>
      if (v >= 0L) throw new IllegalStateException("injected sink fault")
      v
    }
    val sibling = s.range(1L, 3L, 1L, 1).select(slow($"id").as("v"))
    val faulty = s.range(1L, 2L, 1L, 1).select(boom($"id").as("v"))
    val healed = s.range(1L, 2L, 1L, 1).select($"id".as("v"))
    val e = intercept[Exception](
      BatchSink.write(root, 5L, "a" -> sibling, "b" -> faulty))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected sink fault")))
    assert(new File(s"$root/a/batch=5/_SUCCESS").exists())
    assert(s.read.parquet(s"$root/a/batch=5").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L))
    assert(!new File(s"$root/b/batch=5/_SUCCESS").exists())

    BatchSink.write(root, 5L, "a" -> sibling, "b" -> healed)
    BatchSink.write(ref, 5L, "a" -> sibling, "b" -> healed)
    for (d <- Seq("a", "b")) {
      def rows(r: String) = s.read.parquet(s"$r/$d")
        .select($"batch".cast("long"), $"v").as[(Long, Long)].collect()
        .sorted.toSeq
      assert(rows(root) === rows(ref), d)
    }
  }

  test("start checkpoints at <root>/ckpt; a restarted stream does not re-run a committed batch") {
    val s = spark
    import s.implicits._
    val root = tmp("restart")
    val in = s"$root/in"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    def runOnce(): Unit = {
      val q = BatchSink.start(s.readStream.schema("v long").parquet(in),
        root, Trigger.AvailableNow()) { (b, id) => seen.add((id, b.count())); () }
      assert(q.awaitTermination(120000))
    }
    def batches = seen.toArray.toSeq.map(_.asInstanceOf[(Long, Long)])

    Seq(1L, 2L).toDF("v").write.parquet(in)
    runOnce()
    assert(batches === Seq((0L, 2L)))
    assert(new File(s"$root/ckpt/commits/0").exists())

    runOnce() // nothing new arrived: batch 0 is committed, so no step runs
    assert(batches === Seq((0L, 2L)))

    Seq(3L).toDF("v").write.mode("append").parquet(in)
    runOnce()
    assert(batches === Seq((0L, 2L), (1L, 1L)))
  }
}
