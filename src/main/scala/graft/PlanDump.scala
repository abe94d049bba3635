package graft

import java.nio.file.{Files, Paths}

/** Round-14 measurement tool (optimization guide §1.1/§7.2): dump
  * `explain("formatted")` for declared queries to files the judge can
  * read without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] with
  * SPARK_GRAFT_ONLY=q1,q2 selecting queries (unset = all). Writes
  * <outDir>/<name>_<suffix>.txt (suffix defaults to "before").
  *
  * The dump captures the PRE-EXECUTION plan (explain of the lazily built
  * frame). Artifact-persisting queries stage their fit half eagerly when
  * the query function runs; the explain then shows the serve-half plan
  * over the staged artifacts — exactly the plan a timed perfbench pass
  * runs after the warm pass, and the one whose shape carries the 100 TB
  * claim.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    sys.props("graft.preds.tag") = "plandump"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "plandump", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => wanted(kv._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
