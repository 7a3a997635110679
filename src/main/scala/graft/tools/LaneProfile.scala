package graft.tools

/** r18 measurement harness (optimization guide §1): run any declared
  * lane under a SparkListener and decompose its wall clock into
  * scheduled work (jobs, stages, summed executor task time) vs driver
  * residue (wall − task-parallel time). A lane whose wall is far above
  * summedTaskMs / cores is paying scheduling floor, driver compute, or
  * barrier latency — the shapes §2.6/§5 target — while a lane whose
  * task time dominates needs per-task work (§2.3/§4).
  *
  * Usage: SPARK_GRAFT_LANES=q63_dedup_clusters,... SPARK_GRAFT_SF_DIR=...
  *        sbt "runMain graft.tools.LaneProfile"
  * Evidence tool for OPTIMIZATION_r18.md, not a gate.
  */
object LaneProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val lanes = sys.env.getOrElse("SPARK_GRAFT_LANES", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    // SPARK_GRAFT_SQLCONF="k=v;k=v": arbitrary extra confs for config
    // A/Bs (e.g. AQE coalescing floors) without recompiling the tool
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_SQLCONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = extraConf.foldLeft(graft.GraftSession.builder(cpus))(
      (b, kv) => b.config(kv._1, kv._2))
      // SPARK_GRAFT_HOLD: keep the session (and its UI) alive after the
      // lanes finish so the SQL tab's per-operator metrics can be read
      .config("spark.ui.enabled",
        if (sys.env.contains("SPARK_GRAFT_HOLD")) "true" else "false")
      .getOrCreate()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    // r19: per-stage rows so a lane's summed task time can be blamed on
    // the operator that spends it (stage name = last callsite), with the
    // §5/§7.1 tells alongside: GC share, spill, shuffle bytes
    final case class StageRow(id: Int, name: String, nTasks: Int,
      runMs: Long, gcMs: Long, inBytes: Long, shRead: Long, shWrite: Long,
      memSpill: Long, diskSpill: Long, details: String)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          taskTimeMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
          val m = e.stageInfo.taskMetrics
          stageRows.add(StageRow(e.stageInfo.stageId, e.stageInfo.name,
            e.stageInfo.numTasks, m.executorRunTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.diskBytesSpilled, e.stageInfo.details))
        }
      })
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[laneprofile] warm-up load of $t failed: $e")
      }
    }
    lanes.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass, unmeasured
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.operators.Checkpoints.quiesce(spark)
      for (rep <- 1 to 2) {
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
        stageRows.clear()
        val t0 = System.nanoTime()
        // phase 1: lane construction — includes any eager work the lane
        // does while building its DataFrame (bounded sample collects,
        // driver-side quantizer training, eager checkpoints)
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // phase 2: analysis + optimization + physical planning (driver)
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        // phase 3: execution (incl. AQE re-planning between stages)
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val wall = (t3 - t0) / 1e9
        Thread.sleep(300) // listener drain
        val taskSec = taskTimeMs.get / 1e3
        println(f"PROFILE $name rep=$rep wall=$wall%.2f s " +
          f"construct=${(t1 - t0) / 1e9}%.2f plan=${(t2 - t1) / 1e9}%.2f " +
          f"exec=${(t3 - t2) / 1e9}%.2f jobs=${jobs.get} " +
          f"stages=${stages.get} tasks=${tasks.get} " +
          f"summedTaskSec=$taskSec%.1f idealParSec=${taskSec / cpus}%.2f")
        // top stages by summed task time — where the CPU-seconds live
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_.runMs).take(12).foreach { s =>
          println(f"  STAGE ${s.id}%4d run=${s.runMs / 1e3}%7.1fs " +
            f"gc=${s.gcMs / 1e3}%5.1fs tasks=${s.nTasks}%4d " +
            f"in=${s.inBytes / 1e6}%8.1fMB shR=${s.shRead / 1e6}%8.1fMB " +
            f"shW=${s.shWrite / 1e6}%8.1fMB " +
            f"spill=${(s.memSpill / 1e6)}%6.0f/${(s.diskSpill / 1e6)}%.0fMB " +
            s"  ${s.name.take(90)}")
          // the long callsite for anything expensive — the short name is
          // an $anonfun frame for every AQE stage
          if (s.runMs > 5000 && sys.env.contains("SPARK_GRAFT_STAGE_DETAILS"))
            println("    DETAILS " + s.details.linesIterator
              .filter(l => l.contains("graft.") || l.contains("Dedup") ||
                l.contains("Similarity") || l.contains("SparkEntry"))
              .take(6).mkString(" | "))
        }
        graft.operators.Checkpoints.quiesce(spark)
      }
    }
    sys.env.get("SPARK_GRAFT_HOLD").foreach { s =>
      System.err.println(s"[laneprofile] holding session ${s}s for UI reads")
      Thread.sleep(s.toLong * 1000)
    }
    spark.stop()
  }
}
