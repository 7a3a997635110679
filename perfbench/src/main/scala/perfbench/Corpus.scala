package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** One collection item as the stub serves it. */
final case class Item(id: Long, subjectType: Int, collectionType: Int,
    node: ObjectNode) {
  def inGrid: Boolean =
    Corpus.SubjectTypes.contains(subjectType) &&
      Corpus.CollectionTypes.contains(collectionType)
}

/** Seeded scaler and delta generator for the Bangumi collection fixture.
  *
  * `base` makes k copies of the bundled `items.jsonl` with ids offset by
  * k·(max+1) and spreads the in-grid rows over the 3×4 category grid. The
  * fixture's malformed shapes (`not-a-date`, the `"oops"` tag, blank
  * infobox keys, a null `created_at`, an out-of-grid subject type) ride
  * along in every copy. The fixture lists subject 101 twice; the later
  * row takes the unused id 106, so every key is unique within a copy,
  * as in a real user's collection.
  *
  * `applyDelta` moves the collection one generation forward: a share of
  * in-grid items is updated, removed, added, and re-added after an
  * earlier removal. The same seed and the same calls give the same items.
  */
final class Corpus(template: IndexedSeq[ObjectNode], seed: Long) {
  import Corpus._

  private val stride: Long = template.map(idOf).max + 1
  private var items = TreeMap.empty[Long, Item]
  private var removed = TreeMap.empty[Long, Item]
  private var reAdded = Set.empty[Long]
  private var nextCopy = 0
  private var generation = 0

  def current: Iterable[Item] = items.values
  def inGrid: Iterator[Item] = items.valuesIterator.filter(_.inGrid)
  def inGridCount: Int = items.valuesIterator.count(_.inGrid)
  /** Keys that came back after a removal: the sink must re-activate them. */
  def reAddedKeys: Set[Long] = reAdded

  private def rng(salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** One fresh copy of the template: ids offset, rows spread over the grid,
    * numbers perturbed. */
  private def copy(k: Int): Seq[Item] = {
    val r = rng(1000003L * (k + 1))
    template.map { t =>
      val n = t.deepCopy()
      val id = idOf(t) + k * stride
      n.put("subject_id", id)
      val subj = n.get("subject").asInstanceOf[ObjectNode]
      subj.put("id", id)
      subj.put("name", subj.path("name").asText("") + s" #$k")
      val inGridRow = SubjectTypes.contains(n.get("subject_type").asInt) &&
        CollectionTypes.contains(n.get("type").asInt)
      if (inGridRow) {
        val st = SubjectTypes(r.nextInt(SubjectTypes.size))
        val ct = CollectionTypes(r.nextInt(CollectionTypes.size))
        n.put("subject_type", st)
        n.put("type", ct)
        subj.put("type", st)
      }
      perturb(n, r)
      Item(id, n.get("subject_type").asInt, n.get("type").asInt, n)
    }
  }

  private def perturb(n: ObjectNode, r: SplittableRandom): Unit = {
    val subj = n.get("subject").asInstanceOf[ObjectNode]
    if (subj.hasNonNull("score")) {
      val s = subj.get("score").asDouble + (r.nextInt(21) - 10) / 10.0
      subj.put("score", math.round(math.max(1.0, math.min(10.0, s)) * 10) / 10.0)
    }
    if (subj.hasNonNull("rank")) subj.put("rank", 1 + r.nextInt(5000))
    if (subj.hasNonNull("collection_total"))
      subj.put("collection_total", r.nextInt(100000).toLong)
    n.put("ep_status", r.nextInt(30))
    val tags = subj.get("tags")
    if (tags != null && tags.isArray) tags.elements().asScala.foreach {
      case o: ObjectNode if o.has("count") => o.put("count", r.nextInt(10000))
      case _ =>
    }
  }

  /** Generation 0: enough copies for at least `n` in-grid items. */
  def base(n: Int): Unit = {
    val perCopy = template.count(t =>
      SubjectTypes.contains(t.get("subject_type").asInt) &&
        CollectionTypes.contains(t.get("type").asInt))
    val copies = math.max(1, (n + perCopy - 1) / perCopy)
    items = TreeMap.from((0 until copies).flatMap(copy).map(i => i.id -> i))
    removed = TreeMap.empty
    reAdded = Set.empty
    nextCopy = copies
    generation = 0
  }

  /** k distinct elements of `from`, drawn with `r` (partial Fisher–Yates). */
  private def pick[T](from: IndexedSeq[T], k: Int, r: SplittableRandom): IndexedSeq[T] = {
    val a = from.toArray[Any]
    val m = math.min(k, a.length)
    for (i <- 0 until m) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(m).toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** One generation forward: 1% updated, 0.5% removed, 0.5% added and
    * 0.1% re-added after an earlier removal (shares of the in-grid count at
    * the time of the call). */
  def applyDelta(salt: Long): DeltaStats = {
    val r = rng(7919L * (salt + 1) + generation)
    val n = inGridCount
    val keys = items.valuesIterator.filter(_.inGrid).map(_.id).toIndexedSeq
    val nUpd = math.max(1, math.round(n * 0.01).toInt)
    val nRem = math.max(1, math.round(n * 0.005).toInt)
    val nAdd = math.max(1, math.round(n * 0.005).toInt)
    val nRe = math.min(removed.size, math.max(1, math.round(n * 0.001).toInt))
    val chosen = pick(keys, nUpd + nRem, r)
    val (upd, rem) = chosen.splitAt(nUpd)
    upd.foreach { k =>
      val n2 = items(k).node.deepCopy()
      val subj = n2.get("subject").asInstanceOf[ObjectNode]
      val s = if (subj.hasNonNull("score")) subj.get("score").asDouble else 5.0
      subj.put("score", math.round((if (s >= 9.5) s - 0.5 else s + 0.5) * 10) / 10.0)
      n2.put("ep_status", n2.path("ep_status").asInt(0) + 1)
      n2.put("updated_at", f"2025-01-${1 + generation % 28}%02dT00:00:00+08:00")
      items = items.updated(k, items(k).copy(node = n2))
    }
    val back = pick(removed.keys.toIndexedSeq, nRe, r)
    rem.foreach { k => removed = removed.updated(k, items(k)); items -= k }
    back.foreach { k =>
      items = items.updated(k, removed(k)); removed -= k; reAdded += k
    }
    var added = 0
    while (added < nAdd) {
      val fresh = copy(nextCopy).filter(_.inGrid).take(nAdd - added)
      nextCopy += 1
      fresh.foreach(i => items = items.updated(i.id, i))
      added += fresh.size
    }
    generation += 1
    DeltaStats(upd.size, rem.size, added, back.size)
  }

  /** Removes 0.5% of the in-grid items (the starting state of a delta
    * sync: keys that later generations re-add); returns their ids. */
  def removeSome(salt: Long): Seq[Long] = {
    val r = rng(104729L * (salt + 1) + generation)
    val keys = items.valuesIterator.filter(_.inGrid).map(_.id).toIndexedSeq
    val gone = pick(keys, math.max(1, math.round(keys.size * 0.005).toInt), r).sorted
    gone.foreach { k => removed = removed.updated(k, items(k)); items -= k }
    generation += 1
    gone
  }

  /** State for save/restore around a timed sync. */
  def snapshot(): Corpus.State =
    Corpus.State(items, removed, reAdded, nextCopy, generation)
  def restore(s: Corpus.State): Unit = {
    items = s.items; removed = s.removed; reAdded = s.reAdded
    nextCopy = s.nextCopy; generation = s.generation
  }
}

final case class DeltaStats(updated: Int, removed: Int, added: Int, reAdded: Int) {
  def changed: Int = updated + removed + added + reAdded
}

object Corpus {
  val SubjectTypes: IndexedSeq[Int] = IndexedSeq(1, 2, 3)
  val CollectionTypes: IndexedSeq[Int] = IndexedSeq(1, 2, 3, 4)

  final case class State(items: TreeMap[Long, Item], removed: TreeMap[Long, Item],
      reAdded: Set[Long], nextCopy: Int, generation: Int)

  private val mapper = new ObjectMapper()

  private def idOf(n: ObjectNode): Long = n.get("subject_id").asLong

  /** Parse the fixture; a repeated subject id takes the lowest id unused in
    * the fixture's id range. */
  def template(path: String): IndexedSeq[ObjectNode] = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
      .asScala.map(_.trim).filter(_.nonEmpty)
    val nodes = lines.map(l => mapper.readTree(l).asInstanceOf[ObjectNode]).toIndexedSeq
    val ids = nodes.map(idOf)
    val free = Iterator.from(ids.min.toInt).map(_.toLong).filterNot(ids.toSet)
    val seen = scala.collection.mutable.Set.empty[Long]
    nodes.map { n =>
      if (seen.add(idOf(n))) n
      else {
        val id = free.next()
        n.put("subject_id", id)
        n.get("subject").asInstanceOf[ObjectNode].put("id", id)
        n
      }
    }
  }

  def render(n: ObjectNode): String = mapper.writeValueAsString(n)

  /** Python-truthy `name_cn or name`, the analytics projection's rule. */
  def displayName(n: ObjectNode): String = {
    val s = n.get("subject")
    val cn = s.get("name_cn")
    if (cn != null && !cn.isNull && cn.asText.nonEmpty) cn.asText
    else { val nm = s.get("name"); if (nm == null || nm.isNull) null else nm.asText }
  }
}
