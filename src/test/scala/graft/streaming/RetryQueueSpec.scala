package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.RetryQueue.{Attempt, Routed}

class RetryQueueSpec extends SparkSpec {

  test("poison record is retried twice, then parked in the DLQ on receive 3") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Attempt]
    val q = RetryQueue.route(input.toDS(), maxReceives = 3)
      .writeStream.format("memory").queryName("routed").outputMode("append").start()

    // delivery 1: poison fails, a healthy record succeeds
    input.addData(Attempt("poison", "bad-payload", ok = false),
      Attempt("good", "fine", ok = true))
    q.processAllAvailable()
    // delivery 2: poison fails again
    input.addData(Attempt("poison", "bad-payload", ok = false))
    q.processAllAvailable()
    // delivery 3: third failure → dead-letter
    input.addData(Attempt("poison", "bad-payload", ok = false))
    q.processAllAvailable()
    // a NEW redrive cycle after parking starts from a clean counter
    input.addData(Attempt("poison", "bad-payload", ok = false))
    q.processAllAvailable()
    q.stop()

    val rows = s.table("routed").as[Routed].collect()
    val poison = rows.filter(_.recordId == "poison").sortBy(_.receives)
    assert(rows.filter(_.recordId == "good").map(_.route).toSeq === Seq("ok"))
    assert(poison.map(r => (r.receives, r.route)).toSeq ===
      Seq((1, "retry"), (1, "retry"), (2, "retry"), (3, "dlq")))
  }

  test("a record that eventually succeeds clears its receive counter") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Attempt]
    val q = RetryQueue.route(input.toDS(), maxReceives = 3)
      .writeStream.format("memory").queryName("routed2").outputMode("append").start()
    input.addData(Attempt("flaky", "p", ok = false))
    q.processAllAvailable()
    input.addData(Attempt("flaky", "p", ok = true)) // transient error cleared
    q.processAllAvailable()
    // two more failures: the run restarts at 1 (previous failures forgiven),
    // so the record is NOT dead-lettered
    input.addData(Attempt("flaky", "p", ok = false))
    q.processAllAvailable()
    input.addData(Attempt("flaky", "p", ok = false))
    q.processAllAvailable()
    q.stop()
    val routes = s.table("routed2").as[Routed].collect()
      .map(r => (r.receives, r.route)).toSeq
    assert(routes.count(_._2 == "dlq") === 0)
    assert(routes.sorted === Seq((0, "ok"), (1, "retry"), (1, "retry"), (2, "retry")))
  }

  test("routed deliveries land in ok/ retry/ dlq/ directory sinks") {
    val s = spark
    implicit val sp = s
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = Files.createTempDirectory("graft-dlq-").toString
    val input = MemoryStream[Attempt]
    // data goes in BEFORE each start: an AvailableNow query fixes its end
    // offset when its stream thread starts, so data added after start()
    // returns may be left for a later run
    input.addData(Attempt("a", "pa", ok = true),
      Attempt("b", "pb", ok = false))
    val q = RetryQueue.writeRouted(
      RetryQueue.route(input.toDS(), maxReceives = 2).toDF(),
      s"$root/out", s"$root/ckpt", Trigger.AvailableNow())
    q.awaitTermination(60000)
    input.addData(Attempt("b", "pb", ok = false)) // second failure → dlq
    val q2 = RetryQueue.writeRouted(
      RetryQueue.route(input.toDS(), maxReceives = 2).toDF(),
      s"$root/out", s"$root/ckpt", Trigger.AvailableNow())
    q2.awaitTermination(60000)

    assert(s.read.parquet(s"$root/out/ok").count() === 1)
    val retry = s.read.parquet(s"$root/out/retry")
    assert(retry.count() === 1 && retry.head.getAs[String]("recordId") === "b")
    val dlq = s.read.parquet(s"$root/out/dlq")
    assert(dlq.count() === 1 && dlq.head.getAs[Int]("receives") === 2)
  }
}
