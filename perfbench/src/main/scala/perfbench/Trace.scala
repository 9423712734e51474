package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it. Times are
  * epoch milliseconds with sub-millisecond fractions. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, label: String = "")

/** In-memory tracer of the traced run. The benchmark opens driver spans
  * (query build, execute, trigger phases) around its own calls into the
  * engine; Spark's public listener interfaces supply jobs, stages and task
  * metrics, and `qe.tracker` supplies the Catalyst phase times. Nothing is
  * written until the run ends.
  *
  * Recording is gated by `on`, so one run can compare passes with tracing
  * on and off: with the gate closed every callback returns at once. */
final class Trace(spark: SparkSession, sinkDir: Option[String]) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Per-layer counters, summed over every traced task / query. */
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counts.merge(k, v, _ + _)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  /** Driver span around `body`, recorded only while tracing is on. */
  def span[T](name: String, parent: Long = 0L, label: String = "")(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = now()
    try body(id)
    finally if (on) spans.add(Span(id, name, t0, now(), parent, label))
  }

  def record(name: String, start: Double, end: Double, parent: Long,
      label: String = ""): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, start, end, parent, label))
    id
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val id = ids.incrementAndGet()
      jobStarts.put(e.jobId, (e.time.toDouble, id))
      e.stageIds.foreach(s => stageJob.put(s, id))
      add("sched.jobs", 1)
      add("sched.stages", e.stageInfos.size.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) spans.add(Span(s._2, "job", s._1, e.time.toDouble, 0L, s"job ${e.jobId}"))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val job = stageJob.remove(i.stageId)
      if (i.submissionTime.isDefined && i.completionTime.isDefined)
        record("stage", i.submissionTime.get.toDouble, i.completionTime.get.toDouble,
          job, s"stage ${i.stageId}")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("sched.tasks", 1)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.task_deser_ms", m.executorDeserializeTime.toDouble)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }

  /** Catalyst phase times from `qe.tracker`. A DataFrame is analysed when
    * it is built, so the benchmark also passes in each built query's own
    * QueryExecution; the write that runs it plans a new one. */
  def phases(qe: QueryExecution): Unit = if (on) {
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
        "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms"))
      phases.get(phase).foreach(p => add(key, (p.endTimeMs - p.startTimeMs).toDouble))
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        phases(qe)
        // the signing sink: files and rows each batch appends, and the
        // bytes its anti-join reads back from the touched pk_bucket
        // directories (`filesSize` of those scans)
        sinkDir.foreach { dir =>
          qe.executedPlan.collect {
            case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
                if c.outputPath.toString.contains(dir) => c.metrics
          }.foreach { m =>
            add("sink.files_written", m.get("numFiles").map(_.value).getOrElse(0L).toDouble)
            add("sink.rows_written", m.get("numOutputRows").map(_.value).getOrElse(0L).toDouble)
          }
          qe.executedPlan.collectWithSubqueries {
            case s: FileSourceScanExec
                if s.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
              s.metrics.get("filesSize").map(_.value).getOrElse(0L)
          }.foreach(b => add("sink.bytes_read", b.toDouble))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def flush(): Unit = org.apache.spark.BenchBus.flush(spark.sparkContext)

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Driver time inside `outer` spans not covered by any job. */
  def outsideJobMs(outer: Seq[Span]): Double = {
    val jobs = spanList.filter(_.name == "job")
    outer.map(o => (o.end - o.start) - Trace.covered(o.start, o.end, jobs)).sum
  }

  /** Union of all job intervals, the time the executors had work. */
  def jobBusyMs: Double = {
    val jobs = spanList.filter(_.name == "job")
    if (jobs.isEmpty) 0.0
    else Trace.covered(jobs.map(_.start).min, jobs.map(_.end).max, jobs)
  }

  /** Every counter per operation, plus the executors' core utilisation:
    * task run time over job-busy time times cores. */
  def perOp(n: Double, cores: Int): Map[String, Double] = {
    val c = counts.asScala.toMap
    val busy = jobBusyMs
    c.map { case (k, v) => k -> v / math.max(n, 1.0) } + ("exec.core_util" ->
      (if (busy > 0) c.getOrElse("exec.task_run_ms", 0.0) / (busy * cores) else 0.0))
  }

  /** Per-layer self time and count: a span's self time is its duration
    * minus the part of it its children cover. Jobs without a benchmark
    * parent are attached to the innermost driver span they started in. */
  def summary(): Map[String, Map[String, Double]] = {
    val all = spanList
    val driver = all.filterNot(s => s.name == "job" || s.name == "stage")
    def parentOf(s: Span): Long =
      if (s.parent != 0L || s.name != "job") s.parent
      else driver.filter(d => d.start <= s.start && s.start <= d.end)
        .sortBy(d => d.end - d.start).headOption.map(_.id).getOrElse(0L)
    val withParent = all.map(s => s.copy(parent = parentOf(s)))
    val children = withParent.groupBy(_.parent)
    withParent.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        (s.end - s.start) - Trace.covered(s.start, s.end, children.getOrElse(s.id, Nil))
      }.sum
      name -> Map("count" -> ss.size.toDouble, "total_ms" -> total, "self_ms" -> self)
    }
  }

  def json(): String = {
    val withSpans = spanList.map { s =>
      Map("id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "label" -> s.label)
    }
    Json(Map("spans" -> withSpans, "summary" -> summary()))
  }
}

object Trace {
  /** Length of [lo, hi] covered by the union of the given intervals. */
  def covered(lo: Double, hi: Double, spans: Seq[Span]): Double = {
    val iv = spans.map(s => (math.max(lo, s.start), math.min(hi, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Minimal JSON rendering for the run's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(s: String)
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
