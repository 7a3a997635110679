package graft.tools

/** Evidence tool: write `.explain("formatted")` of named lanes to
  * one file per lane (plans/<round>/<lane>_<tag>.txt) — the before/after
  * plan record OPTIMIZATION_r<n>.md's claims point at. Same session
  * as the Bench ([[graft.GraftSession]], sf from env).
  *
  * r19: dumps run with [[graft.operators.Checkpoints.planCaptureMode]]
  * ON by default — operator-internal localCheckpoints become identity,
  * so the dump shows the real operator tree instead of the
  * `Scan ExistingRDD` every r18 dump collapsed to (the r18 verdict's
  * evidence-quality finding). Set SPARK_GRAFT_PLAN_TRUNCATED=1 to dump
  * the production frame (checkpoints intact) instead.
  *
  * Usage: SPARK_GRAFT_LANES=q26_jaccard_pairs,... SPARK_GRAFT_PLAN_TAG=before
  *        SPARK_GRAFT_PLAN_DIR=plans/r19 sbt "runMain graft.tools.PlanSnap"
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = graft.GraftSession.cpus
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val seeThrough = !sys.env.contains("SPARK_GRAFT_PLAN_TRUNCATED")
    graft.operators.Checkpoints.planCaptureMode = seeThrough
    val lanes = sys.env.getOrElse("SPARK_GRAFT_LANES", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    lanes.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nEx = "Exchange".r.findAllIn(plan).length
      val mode = if (seeThrough) "checkpoints-as-identity (full operator tree)"
                 else "production frame (checkpoints truncate lineage)"
      val header = s"== $name ($tag, $sfDir, local[$cpus]) ==\n" +
        s"== plan capture: $mode ==\n" +
        s"== Exchange occurrences: $nEx ==\n\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        (header + plan).getBytes("UTF-8"))
      println(s"[plansnap] wrote $outDir/${name}_$tag.txt (Exchange x$nEx)")
      graft.operators.Checkpoints.quiesce(spark)
    }
    spark.stop()
  }
}
