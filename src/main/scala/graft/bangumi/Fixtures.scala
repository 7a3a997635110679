package graft.bangumi

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the bundled Bangumi fixture corpus (classpath resource →
  * temp file → `spark.read.text`), the local stand-in for the REST source
  * in tests and fixture-backed queries.
  */
object Fixtures {

  private lazy val itemsPath: Path = {
    val in = getClass.getResourceAsStream("/bangumi/items.jsonl")
    require(in != null, "bangumi fixture resource missing")
    val tmp = Files.createTempFile("bangumi_items", ".jsonl")
    tmp.toFile.deleteOnExit()
    Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
    tmp
  }

  def itemLines(spark: SparkSession): DataFrame =
    spark.read.text(itemsPath.toString)

  def items(spark: SparkSession): DataFrame =
    BangumiTransforms.parseItems(itemLines(spark))
}
