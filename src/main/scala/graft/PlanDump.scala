package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool (not part of the driver contract):
  * dumps `explain("formatted")` of named [[SparkEntry.queries]] entries to
  * `plans/<tag>/<query>_<suffix>.txt`.
  *
  * Usage: `runMain graft.PlanDump <tag> <suffix> <query> [query ...]`
  * e.g. `runMain graft.PlanDump r20 before q213_nine_join_order`.
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1 — plan shape, not timing, so
  * any sf works; sf0.1 matches the bench's broadcast-size decisions).
  * Plans are taken on the bench session itself ([[Bench.session]]).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query> ...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    for (name <- names) {
      val q = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val txt = q(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"wrote plans/$tag/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
