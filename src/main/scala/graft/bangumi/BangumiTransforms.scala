package graft.bangumi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The reference pipeline's transform layer, re-expressed as declarative
  * column pipelines (SURVEY §2.3 P1–P3, §2.6 W1, §2.8 F1–F13):
  * JSONL collection items → typed items frame → raw (21-col) and analytics
  * (27-col) projections → per-category summary.
  *
  * Everything here is pure column expressions over one narrow dependency
  * chain — no shuffles until the summary aggregation, so at scale these run
  * fused inside one whole-stage-codegen pass over the scan.
  */
object BangumiTransforms {

  /** Parse one-JSON-object-per-line items (`spark.read.text` output with a
    * `value` column). Typed fields via `from_json`; the polymorphic infobox
    * is pulled out as raw JSON and flattened by the custom
    * `infobox_to_map` expression (F1).
    *
    * A [[graft.GraftSession]] session has the function; any other session
    * calls `register` (see [[GraftFunctions]]) once.
    */
  def parseItems(lines: DataFrame): DataFrame =
    lines
      .select(
        from_json(col("value"), BangumiSchemas.itemSchema).as("item"),
        get_json_object(col("value"), "$.subject.infobox").as("infobox_json"))
      .select(col("item.*"),
        GraftFunctions.infobox_to_map(col("infobox_json")).as("infobox"))

  /** F7: wall-clock timestamp parse with error-coerce. The reference strips
    * the zone offset *after* pandas parsing (`tz_localize(None)`), i.e. it
    * keeps the literal wall clock of the source string — so we drop the
    * offset textually before parsing. Garbage → null (`errors="coerce"`).
    */
  def parseNaiveTimestamp(c: Column): Column =
    try_to_timestamp(
      regexp_replace(trim(c), "(Z|z|[+-]\\d{2}:?\\d{2})$", ""))

  /** Python-truthiness coalesce (F2): empty strings fall through too. */
  def coalesceTruthy(cols: Column*): Column =
    coalesce(cols.map(c => nullif(c, lit(""))): _*)

  /** F3: infobox lookup with bilingual key fallback. Values are never empty
    * (the flatten drops them), so plain coalesce matches Python `or`. */
  private def ibx(keys: String*): Column =
    coalesce(keys.map(k => try_element_at(col("infobox"), lit(k))): _*)

  /** P2: the 21-column raw projection
    * (`bangumi_data_ingestion.py:409-431`). */
  def rawProjection(items: DataFrame, userId: String): DataFrame = {
    val tags = coalesce(col("subject.tags"),
      array().cast(BangumiSchemas.subjectType("tags").dataType))
    items.select(
      lit(userId).as("user_id"),
      col("subject.id").as("subject_id"),
      col("subject_type"),
      col("type").as("collection_type"),
      parseNaiveTimestamp(col("created_at")).as("created_at"),
      parseNaiveTimestamp(col("updated_at")).as("updated_at"),
      col("ep_status"),
      col("vol_status"),
      col("subject.name").as("name"),
      col("subject.name_cn").as("name_cn"),
      col("subject.score").as("score"),
      col("subject.rank").as("rank"),
      col("subject.collection_total").as("collection_total"),
      col("subject.eps").as("eps"),
      col("subject.volumes").as("volumes"),
      col("subject.date").as("date"),
      col("subject.type").as("type"),
      substring(col("subject.short_summary"), 1, 500).as("short_summary"),
      transform(tags, t => t.getField("name")).as("tags"),
      when(size(tags) > 0, to_json(tags)).otherwise(lit(null).cast("string"))
        .as("tags_raw"),
      when(col("infobox").isNotNull && size(map_keys(col("infobox"))) > 0,
        to_json(col("infobox"))).otherwise(lit(null).cast("string"))
        .as("infobox_raw"))
  }

  /** P3 + W1 + F2/F3/F5: the 27-column analytics projection
    * (`bangumi_data_ingestion.py:434-461`). The top-5 tag pivot is
    * positional (the API pre-ranks tags by count) — `get()` is 0-based and
    * null-safe, so <5 tags null-pad exactly like the reference.
    */
  def analyticsProjection(items: DataFrame): DataFrame = {
    val tags = col("subject.tags")
    val tagCols = (1 to 5).flatMap { i =>
      Seq(
        get(tags, lit(i - 1)).getField("name").as(s"tag_${i}_name"),
        get(tags, lit(i - 1)).getField("count").as(s"tag_${i}_count"))
    }
    val allTags = nullif(
      array_join(
        filter(transform(tags, t => t.getField("name")),
          x => x.isNotNull && length(x) > 0),
        ", "),
      lit(""))
    items.select(
      Seq(
        col("subject.id").as("subject_id"),
        col("subject_type"),
        col("type").as("collection_type"),
        coalesceTruthy(col("subject.name_cn"), col("subject.name"))
          .as("name_cn"),
        col("subject.score").as("score"),
        col("subject.rank").as("rank"),
        col("subject.collection_total").as("collection_total"),
        parseNaiveTimestamp(col("created_at")).as("created_at"),
        parseNaiveTimestamp(col("updated_at")).as("updated_at"),
        col("subject.eps").as("eps"),
        col("subject.date").as("air_date"),
        ibx("导演", "監督").as("director"),
        ibx("动画制作", "アニメーション制作").as("studio"),
        ibx("国家/地区", "国").as("country"),
        ibx("出版社", "発売元").as("publisher"),
        ibx("作者", "著者").as("author")) ++
        tagCols :+ allTags.as("all_tags"): _*)
  }

  /** A1–A3 + F13: per-category summary with enum labels and completion
    * percentage against probed totals (`bangumi_data_ingestion.py:487-499`).
    * `totals`: optional (subject_type, collection_type, total_items) from
    * the source's count probes (S1).
    */
  def categorySummary(
      analytics: DataFrame,
      totals: Option[DataFrame] = None): DataFrame = {
    val stLabel = typedLit(BangumiSchemas.subjectTypeLabels)
    val ctLabel = typedLit(BangumiSchemas.collectionTypeLabels)
    val fetched = analytics
      .groupBy(col("subject_type"), col("collection_type"))
      .agg(count(lit(1)).as("fetched_items"),
        round(avg(col("score")), 4).as("avg_score"),
        count_if(col("rank") <= 1000).as("top_ranked"))
    val withTotals = totals match {
      case Some(t) =>
        fetched
          .join(t, Seq("subject_type", "collection_type"), "left_outer")
          .withColumn("completion_pct",
            round(col("fetched_items") * 100.0 / col("total_items"), 1))
      case None =>
        fetched
          .withColumn("total_items", col("fetched_items"))
          .withColumn("completion_pct", lit(100.0))
    }
    withTotals.select(
      try_element_at(stLabel, col("subject_type")).as("subject_type_label"),
      try_element_at(ctLabel, col("collection_type")).as("collection_type_label"),
      col("subject_type"), col("collection_type"),
      col("total_items"), col("fetched_items"),
      col("avg_score"), col("top_ranked"), col("completion_pct"))
  }

  /** Docx §4.4 data-quality metrics: row counts, `subject_id` uniqueness
    * (the documented dedup rule), and timestamp-coerce failures.
    */
  def qualityMetrics(raw: DataFrame): DataFrame =
    raw.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("subject_id")).as("n_distinct_ids"),
      (count(lit(1)) - countDistinct(col("subject_id"))).as("n_dup_rows"),
      count_if(col("subject_id").isNull).as("n_null_ids"),
      count_if(col("created_at").isNull).as("n_null_created"))
}
