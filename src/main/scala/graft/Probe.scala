package graft
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** Dev-loop micro-bench / plan probe (not part of the driver contract).
  *
  * Usage: `runMain graft.Probe [--codegen] [query ...]`
  * with env override `SPARK_GRAFT_SF_DIR` (default sf0.1), on the bench
  * session ([[Bench.session]] — its `SPARK_GRAFT_BENCH_PARTITIONS` and
  * `SPARK_GRAFT_AQE` apply; see SCALE.md §3).
  *
  * Default mode times 3 noop-write iterations of each named
  * [[SparkEntry.queries]] entry isolated in one JVM — the adjudication
  * tool for BENCH stamp movers (memory: cross-run noise band).
  *
  * `--codegen` instead compiles every WholeStageCodegen subtree of each
  * query's executed plan via the debug API and prints per-subtree
  * bytecode stats: `maxMethodCodeSize = -1` means janino REJECTED the
  * generated class (the 64 KB method limit) and the stage silently runs
  * interpreted — the q188 r12/r13 failure mode this probe exists to
  * surface (VERDICT r13 #1).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    val codegen = flags.contains("--codegen")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val queries =
      if (names.nonEmpty) names.toSeq else Seq("q194_integrity_audit")
    for (name <- queries) {
      val q = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      if (codegen) {
        val plan = q(spark, sf).queryExecution.executedPlan
        for ((name2, _, stats) <- codegenStringSeq(plan))
          println(f"${stats.maxMethodCodeSize}%8d maxMethod  " +
            f"${stats.maxConstPoolSize}%6d constPool  " +
            name2.linesIterator.next().take(90))
      } else {
        def run(): Unit =
          q(spark, sf).write.format("noop").mode("overwrite").save()
        run() // warm
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          run()
          println(f"$name%-28s iter $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
