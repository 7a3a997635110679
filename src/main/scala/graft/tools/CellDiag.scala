package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Dev diagnostic (r16): decompose the semDeDup cost at a given SF dir
  * into its three stages — quantizer train+assign, cell-population pair
  * mass, and the within-cell pair join — to attribute fifth-decade
  * exponents to the right stage instead of guessing. Emits one JSON
  * line; not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_DIAG_TABLE=embeddings|documents
  *        sbt "runMain graft.tools.CellDiag"
  */
object CellDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val table = sys.env.getOrElse("SPARK_GRAFT_DIAG_TABLE", "embeddings")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val c = (if (table == "documents")
      graft.operators.TextAnalysis.hashedTfVectors(
        Tables.load(spark, sfDir, "documents"), "doc_id", "text", dim = 64)
        .select(col("doc_id").as("id"), col("vec").as("v"))
    else
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.asDouble(col("embedding")).as("v")))
      .localCheckpoint(eager = true)

    def t[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[celldiag] $tag%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val n = c.count()

    // r17 (verdict task 1): the EXPLICIT-k entry shape (q38/q66 IVF,
    // k well under the r16 cell-count proxy's 128) over the compacted
    // single-row-group layout — raw assignCells is the r16 defect
    // (single-task n·k·d scoring), autoAssignCells is the same work
    // through the n·k·d guard. SPARK_GRAFT_DIAG_MODE=explicit runs
    // only this A/B.
    val mode = sys.env.getOrElse("SPARK_GRAFT_DIAG_MODE", "full")
    if (mode == "explicit" || mode == "full") {
      val explK = 64
      val expl = t("explicitTrain") {
        Similarity.kmeansCentroids(c, "id", "v", explK,
          Similarity.autoSampleSize(explK))
      }
      t("explicitRaw") { // unguarded: the defect shape
        Similarity.assignCells(c, expl).write.format("noop")
          .mode("overwrite").save()
      }
      t("explicitGuarded") { // through trainQuantizer's n·k·d guard
        Similarity.autoAssignCells(c, explK, 64, 65536).write
          .format("noop").mode("overwrite").save()
      }
      if (mode == "explicit") { spark.stop(); return }
    }

    // decompose the auto path's nested branch stage by stage (mirrors
    // autoAssignCells' own body; private[graft] access via graft.tools)
    val want = Similarity.desiredCells(n, 64)
    System.err.println(s"[celldiag] want=$want")
    val (kc, kf) = Similarity.quantizerLevelsSplit(want, 65536)
    System.err.println(s"[celldiag] kc=$kc kf=$kf")
    val coarse = t("coarseTrain") {
      Similarity.kmeansCentroids(c, "id", "v", kc, Similarity.autoSampleSize(kc))
    }
    t("coarseAssign") {
      Similarity.assignCells(c, coarse).write.format("noop")
        .mode("overwrite").save()
    }
    t("coarseExpr") {
      Similarity.assignCellsExpr(c, coarse).write.format("noop")
        .mode("overwrite").save()
    }
    t("coarseJoin") {
      Similarity.assignCellsViaJoin(c, coarse).write.format("noop")
        .mode("overwrite").save()
    }
    val fine = t("fineTrain") {
      Similarity.kmeansCentroids(Similarity.residualsDiag(c, coarse), "id",
        "rv", kf, Similarity.autoSampleSize(kf))
    }
    val assigned = t("twoLevelAssign") {
      val a = Similarity.assignCellsTwoLevel(c, coarse, fine, kf)
        .localCheckpoint(eager = true)
      a.count(); a
    }
    t("autoAssignGuarded") {
      val a = Similarity.autoAssignCells(c, 0, 64, 65536)
        .localCheckpoint(eager = true)
      a.count()
    }
    val cpar = t("repartition") {
      val p = c.repartition(32).localCheckpoint(eager = true)
      System.err.println(s"[celldiag] cpar parts=${p.rdd.getNumPartitions}")
      p
    }
    t("exprPar") {
      Similarity.assignCellsExpr(cpar, coarse).write.format("noop")
        .mode("overwrite").save()
    }
    t("joinPar") {
      Similarity.assignCellsViaJoin(cpar, coarse).write.format("noop")
        .mode("overwrite").save()
    }
    t("twoLevelPar") {
      Similarity.assignCellsTwoLevel(cpar, coarse, fine, kf).write
        .format("noop").mode("overwrite").save()
    }
    val pops = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), max(col("n")).as("max_pop"),
        sum(expr("n * (n - 1L) DIV 2")).as("cand_pairs"))
      .head()
    val (nCells, maxPop, candPairs) =
      (pops.getLong(0), pops.getLong(1), pops.getLong(2))
    val drops = t("pairjoin") {
      Dedup.blockedPairs(assigned, "id", Seq("cell"), Seq("v"))
        .filter(Similarity.cosine(col("v_a"), col("v_b")) >= 0.9)
        .select(col("id_b")).distinct().count()
    }
    println(s"""{"metric":"cell_diag","sf":"$sfDir","table":"$table","n":$n,""" +
      s""""n_cells":$nCells,"max_pop":$maxPop,"cand_pairs":$candPairs,""" +
      s""""balanced_budget":${n * 32},"dropped":$drops}""")
    spark.stop()
  }
}
