package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Row counts at the JDBC boundary, through the driver the way Spark's
  * JDBC writer uses it: prepared INSERTs sent in batches. */
class CountingDriverSpec extends AnyFunSuite {
  private val url = "jdbc:derby:memory:countingspec;create=true"

  test("counts the rows each prepared INSERT sends, per table") {
    CountingDriver.reset()
    val conn = new CountingDriver().connect(url, new java.util.Properties())
    try {
      conn.createStatement().execute("CREATE TABLE t (id INT)")
      val ps = conn.prepareStatement("INSERT INTO t (\"ID\") VALUES (?)")
      (1 to 5).foreach { i => ps.setInt(1, i); ps.addBatch() }
      ps.executeBatch()
      ps.setInt(1, 6)
      ps.executeUpdate()
      val rs = conn.prepareStatement("SELECT COUNT(*) FROM t").executeQuery()
      rs.next()
      assert(rs.getInt(1) == 6)
      assert(CountingDriver.rows("T") == 6)
      assert(CountingDriver.rows("other") == 0)
    } finally conn.close()
  }

  test("recognizes INSERT targets, quoted or not") {
    assert(CountingDriver.insertTable("INSERT INTO fact_view_logs (\"a\") VALUES (?)")
      .contains("fact_view_logs"))
    assert(CountingDriver.insertTable("insert into \"Src\" values (?)").contains("src"))
    assert(CountingDriver.insertTable("SELECT * FROM t").isEmpty)
  }
}
