package graft

/** Fixture dump for `tools/rederive_media.py`: writes the three synthetic
  * media tables' RAW PAYLOADS (media_id, kind, mime, content) to parquet so
  * the pure-Python re-derivation can decode them without any JVM. Only the
  * GENERATORS run here — none of the decode/feature code under test — so
  * the payload bytes are the fixture definition (same trust level as the
  * bundled Bangumi JSONL for qb34–qb38) and every decode step, histogram,
  * RMS and Goertzel number is re-derived independently on the Python side.
  *
  * Usage: sbt "runMain graft.MediaDump /tmp/media_dump"
  */
object MediaDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/media_dump")
    val spark = GraftSession.builder(4).getOrCreate()
    // the qb39 lane uses syntheticMedia(200); qb40 uses syntheticMedia(60),
    // an exact prefix of the same generation — one dump serves both
    operators.Multimodal.syntheticMedia(spark, 200)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/media")
    operators.Multimodal.syntheticAudio(spark, 120)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/audio")
    operators.Multimodal.syntheticGifMedia(spark, 90)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/gif")
    operators.Multimodal.syntheticNearDupMedia(spark, 100)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/neardup")
    operators.Multimodal.syntheticNearDupAudio(spark, 72)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/audio_neardup")
    spark.stop()
  }
}
