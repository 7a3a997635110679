package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Print the dispatch decision each auto-routing operator takes against
  * a fixture directory (dev evidence tool for the sf1 sweep rows in
  * OPERATORS.md / OPTIMIZATION_r19.md — VERDICT r18 item 8 asks for the
  * route per lane). Uses the operators' own pure decision probes
  * ([[Dedup.containmentPathFor]], [[Similarity.vectorRouteFor]]) at the
  * exact lane parameters, so the printed route is the one the declared
  * lane body takes on that data. Not a gate; read-only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/testdata_sf1 sbt "runMain graft.tools.RouteProbe"
  */
object RouteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")

    // q146/q133/q135 family: containment dispatch at the lane's params
    // (n = 3, cap = 100 — the q146 lane body's arguments)
    val contain = Dedup.containmentPathFor(docs, "doc_id", "text",
      n = 3, maxShingleDocFreq = 100L)
    // q193/q194/q204 family: hashed-TF text vectors at dim 64
    val tf = TextAnalysis.hashedTfVectors(docs, "doc_id", "text", dim = 64)
      .select(col("doc_id"), col("vec"))
    val textRoute = Similarity.vectorRouteFor(tf, "doc_id", "vec")
    // q202/q205 run the cell route pinned; q156 pins SRP: both by
    // construction, printed for completeness of the sweep table
    val embRoute = Similarity.vectorRouteFor(emb, "vec_id", "embedding")

    println(s"""{"metric":"route_probe","sf":"$sfDir",""" +
      s""""containment_q146":"$contain",""" +
      s""""vector_text_q193":"$textRoute",""" +
      s""""vector_emb":"$embRoute"}""")
    spark.stop()
  }
}
