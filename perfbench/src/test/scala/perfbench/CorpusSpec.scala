package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val fixture = "../src/main/resources/bangumi/items.jsonl"
  private def corpus(seed: Long, n: Int): Corpus = {
    val c = new Corpus(Corpus.template(fixture), seed)
    c.base(n)
    c
  }
  private def rendered(c: Corpus): Seq[String] = c.current.map(i => Corpus.render(i.node)).toSeq

  test("the same seed gives the same items; another seed does not") {
    assert(rendered(corpus(1, 600)) == rendered(corpus(1, 600)))
    assert(rendered(corpus(1, 600)) != rendered(corpus(2, 600)))
    val a = corpus(3, 600); a.applyDelta(1); a.applyDelta(2)
    val b = corpus(3, 600); b.applyDelta(1); b.applyDelta(2)
    assert(rendered(a) == rendered(b))
  }

  test("copies offset ids by max+1, keep keys unique and fill the grid") {
    val c = corpus(1, 600)
    val ids = c.current.map(_.id).toSeq
    assert(ids.distinct.size == ids.size)
    assert(ids.contains(101L) && ids.contains(101L + 108) && ids.contains(106L))
    assert(c.inGridCount >= 600)
    val cats = c.inGrid.map(i => (i.subjectType, i.collectionType)).toSet
    assert(cats.size == 12)
    // the out-of-grid subject type rides along but is never in the grid
    assert(c.current.exists(!_.inGrid))
  }

  test("malformed fixture shapes survive scaling") {
    val all = rendered(corpus(1, 600)).mkString("\n")
    assert(all.contains("not-a-date"))
    assert(all.contains("\"oops\""))
    assert(all.contains("\"key\":\"  \""))
    assert(all.contains("\"created_at\":null"))
  }

  test("a delta updates, removes, adds and re-adds the documented shares") {
    val c = corpus(5, 6000)
    val before = c.inGrid.map(i => i.id -> Corpus.render(i.node)).toMap
    val gone = c.removeSome(0)
    assert(gone.size == 30 && gone.forall(k => !c.inGrid.exists(_.id == k)))
    val d = c.applyDelta(1)
    assert(d.updated == 60 && d.removed == 30 && d.added == 30 && d.reAdded == 6)
    assert(c.reAddedKeys.size == 6 && c.reAddedKeys.subsetOf(gone.toSet))
    val after = c.inGrid.map(i => i.id -> Corpus.render(i.node)).toMap
    val changed = after.count { case (k, v) => before.get(k).exists(_ != v) }
    assert(changed == 60)
    assert(after.keySet.diff(before.keySet).size == 30)
  }

  test("restore returns to a saved generation") {
    val c = corpus(5, 600)
    val saved = c.snapshot()
    val r0 = rendered(c)
    c.applyDelta(1)
    assert(rendered(c) != r0)
    c.restore(saved)
    assert(rendered(c) == r0)
  }

  test("the JDBC digest is order-insensitive and sensitive to values") {
    val c = corpus(1, 600)
    val rows = c.inGrid.map(i => i.id -> Check.itemRow(i)).toSeq
    val fwd = rows.foldLeft(Check.Empty) { case (d, (k, r)) => d.add(k, r) }
    val rev = rows.reverse.foldLeft(Check.Empty) { case (d, (k, r)) => d.add(k, r) }
    assert(fwd == rev && fwd == Check.expected(c))
    val (k, r) = rows.head
    val bent = rows.tail.foldLeft(Check.Empty.add(k, r + "x")) { case (d, (k2, r2)) => d.add(k2, r2) }
    assert(bent.rows != fwd.rows && bent.keys == fwd.keys)
  }
}
