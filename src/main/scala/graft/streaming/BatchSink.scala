package graft.streaming

import scala.language.implicitConversions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Fan

/** The streaming seams' one sink protocol: exactly-once-effective output
  * from idempotent writes. A micro-batch's step is a pure function of the
  * batch (plus staged state the batch cannot change), and each of its
  * outputs OVERWRITES its own `<root>/<dir>/batch=<id>` partition — so
  * the engine's at-least-once replay of the latest uncommitted batch
  * lands identical bytes, and the standing artifact (a read over
  * `<root>/<dir>`, `batch` arriving as the inferred partition column) is
  * exactly-once-effective with no state store (SCALE.md §5).
  *
  * [[start]] is the only place a seam spells the stream framing
  * (checkpoint at `<root>/ckpt`, trigger, foreachBatch); [[write]] is the
  * only place it spells the overwrite. A crash harness that wants to
  * throw after k of n sink writes injects at [[write]].
  *
  * The read side is [[ids]]: which `<key>=<id>` directories a reader
  * sees, and (with `committed`) when one counts as committed — the
  * writer's `_SUCCESS` marker landed. Every probe goes through the
  * root's own Hadoop scheme, so an hdfs:/s3a: root reads what was
  * written there, and an unregistered scheme throws. */
private[graft] object BatchSink {

  /** One output of a batch: `frame` overwritten into
    * `<root>/<dir>/batch=<id>`, laid out under the batch directory by
    * `partitionBy` when given. A `(dir, frame)` pair converts. */
  final case class Output(dir: String, frame: DataFrame,
      partitionBy: Option[String] = None)

  object Output {
    implicit def fromPair(p: (String, DataFrame)): Output = Output(p._1, p._2)
  }

  /** Run `step` over every micro-batch of `input`, checkpointed at
    * `<root>/ckpt`: a restarted stream resumes after the last committed
    * batch and re-runs at most the one uncommitted batch. */
  def start(input: DataFrame, root: String, trigger: Trigger)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(trigger)
      .foreachBatch(step)
      .start()

  /** Overwrite each output into its `batch=<batchId>` partition. One
    * output is written directly; two or more are disjoint partitions and
    * overlap through [[Fan.out]], which awaits every leg before it
    * rethrows a failure — a retry of the batch never races an orphaned
    * sibling write. Never call this with two or more outputs from inside
    * a fan leg (nested fans stack pools). */
  def write(root: String, batchId: Long, outputs: Output*): Unit = {
    require(outputs.nonEmpty, "a batch write needs at least one output")
    def one(o: Output): Unit = {
      val w = o.frame.write.mode(SaveMode.Overwrite)
      o.partitionBy.fold(w)(c => w.partitionBy(c))
        .parquet(s"$root/${o.dir}/batch=$batchId")
    }
    if (outputs.size == 1) one(outputs.head)
    else Fan.out(outputs.map(o => () => one(o)))
  }

  /** The ascending ids of the `<key>=<id>` subdirectories of `dir`,
    * listed through the Hadoop FileSystem of `dir`'s scheme. An absent
    * `dir` has none. With `committed`, only directories holding
    * `_SUCCESS` count, so a torn write is invisible. A `<key>=` name
    * whose id is not a long throws. */
  def ids(s: SparkSession, dir: String, key: String = "batch",
      committed: Boolean = false): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$key=")
        && (!committed || fs.exists(new Path(st.getPath, "_SUCCESS"))))
      .map(_.getPath.getName.stripPrefix(s"$key=").toLong)
      .sorted
  }

  /** True iff `dir` holds the writer's `_SUCCESS` marker. */
  def committed(s: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursively delete `path` through its scheme's FileSystem; an
    * absent path is a no-op. */
  def delete(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
