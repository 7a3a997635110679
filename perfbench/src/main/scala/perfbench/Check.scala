package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode

/** Expected outputs of one sync, derived from the corpus alone (never from
  * the program's transforms): the JDBC target's digest and the Notion
  * pages' state. */
object Check {

  /** 64-bit FNV-1a, then a murmur finalizer so sums of row hashes mix. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(UTF_8).foreach { b => h ^= (b & 0xff); h *= 0x100000001b3L }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  private def s(v: Any): String = if (v == null) "\\N" else v.toString

  /** The compared columns of one target row, in one canonical string. */
  def rowKey(id: Long, st: Int, ct: Int, score: java.lang.Double,
      rank: java.lang.Integer, total: java.lang.Long, eps: java.lang.Integer,
      name: String): String =
    Seq(id, st, ct, score, rank, total, eps, name).map(s).mkString("|")

  /** Order-insensitive digest of a row set: count, key sum, row sum. */
  final case class Digest(count: Long, keys: Long, rows: Long) {
    def add(id: Long, row: String): Digest =
      Digest(count + 1, keys + hash(id.toString), rows + hash(row))
    def json: String = s"""{"count":$count,"keys":$keys,"rows":$rows}"""
  }
  val Empty: Digest = Digest(0, 0, 0)

  private def num[T](n: JsonNode)(f: JsonNode => T): T =
    if (n == null || n.isNull || n.isMissingNode) null.asInstanceOf[T] else f(n)

  def itemRow(i: Item): String = {
    val sj = i.node.get("subject")
    rowKey(i.id, i.subjectType, i.collectionType,
      num(sj.get("score"))(n => java.lang.Double.valueOf(n.asDouble)),
      num(sj.get("rank"))(n => java.lang.Integer.valueOf(n.asInt)),
      num(sj.get("collection_total"))(n => java.lang.Long.valueOf(n.asLong)),
      num(sj.get("eps"))(n => java.lang.Integer.valueOf(n.asInt)),
      Corpus.displayName(i.node))
  }

  def expected(c: Corpus): Digest =
    c.inGrid.foldLeft(Empty)((d, i) => d.add(i.id, itemRow(i)))

  def expectJson(c: Corpus): String =
    s"""{"jdbc":${expected(c).json},"in_grid":${c.inGridCount}}"""

  private def text(p: JsonNode, name: String, kind: String): String = {
    val t = p.path(name).path(kind)
    if (t.isArray && t.size() > 0) t.get(0).path("text").path("content").asText(null) else null
  }

  private def sameNumber(p: JsonNode, name: String, v: JsonNode): Boolean = {
    val got = p.path(name).path("number")
    if (v == null || v.isNull) got.isMissingNode || got.isNull
    else !got.isMissingNode && !got.isNull &&
      got.decimalValue.compareTo(new java.math.BigDecimal(v.asText)) == 0
  }

  /** Whether a page's properties carry the item's values. */
  def pageMatches(props: JsonNode, i: Item): Boolean = {
    val sj = i.node.get("subject")
    text(props, "subject_id", "title") == i.id.toString &&
      text(props, "name_cn", "rich_text") == Option(Corpus.displayName(i.node)).map(_.take(2000)).orNull &&
      sameNumber(props, "score", sj.get("score")) &&
      sameNumber(props, "rank", sj.get("rank")) &&
      sameNumber(props, "collection_total", sj.get("collection_total")) &&
      sameNumber(props, "eps", sj.get("eps")) &&
      sameNumber(props, "subject_type", i.node.get("subject_type")) &&
      sameNumber(props, "collection_type", i.node.get("type"))
  }

  /** Notion state against the model: every current key has exactly one
    * page, active, with the item's values; every other key's pages are
    * inactive. A current key left inactive after it was re-added is the
    * sink's known re-activation gap, counted apart as `stale_inactive`. */
  def notionJson(c: Corpus, pages: Iterable[Stub.Page]): String = {
    val byKey = pages.toSeq.groupBy(_.key)
    var ok, stale, mismatch = 0L
    val current = c.inGrid.map(i => i.id -> i).toMap
    current.foreach { case (k, i) =>
      byKey.get(k) match {
        case Some(Seq(p)) if pageMatches(p.props, i) =>
          if (p.active) ok += 1
          else if (c.reAddedKeys(k)) stale += 1
          else mismatch += 1
        case _ => mismatch += 1
      }
    }
    val leftover = byKey.iterator.filterNot { case (k, _) => current.contains(k) }
      .count { case (_, ps) => ps.exists(_.active) }
    mismatch += leftover
    s"""{"pages":${pages.size},"current":${current.size},"ok":$ok,""" +
      s""""stale_inactive":$stale,"mismatch":$mismatch}"""
  }
}
