package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.{GraftExtensions, GraftFunctions}

/** The declarative path (`spark.sql.extensions=graft.functions
  * .GraftExtensions`) must expose every function `register` does, and a
  * `GraftSession` session must have them all with no register call.
  * Lives in Spark's package because
  * `SparkSessionExtensions.registerFunctions` is `private[sql]`. */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  private val expectedNames = Set("infobox_to_map", "rolling_chunks",
    "simhash64", "minhash_sig", "shingle_hashes", "nfc_normalize",
    "graft_dot", "graft_sqdist", "graft_hilbert2d", "kmin_values",
    "kmin_pairs", "graft_bloom_agg", "graft_bloom_might_contain")

  test("GraftExtensions injects every graft function, each resolving to its expression") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = ext.registerFunctions(FunctionRegistry.builtin.clone())
    val missing = expectedNames.filterNot(n =>
      registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: ${missing.toSeq.sorted}")
    assert(GraftFunctions.table.map(_._1).toSet === expectedNames)
    // DESCRIBE FUNCTION reports the expression class, not the builder's
    GraftFunctions.table.foreach { case (name, cls, _) =>
      assert(registry.lookupFunction(FunctionIdentifier(name))
        .map(_.getClassName) === Some(cls.getName), name)
    }

    // an aggregate builder wraps its function in an AggregateExpression
    // with a fresh result id; compare the function itself
    def core(e: Expression): Expression = e match {
      case a: AggregateExpression => a.aggregateFunction
      case other => other
    }
    val args = Seq(Literal("a"), Literal(3), Literal(4))
    GraftFunctions.table.foreach { case (name, _, builder) =>
      val resolved = registry.lookupFunction(FunctionIdentifier(name), args)
      assert(core(resolved) === core(builder(args)), name)
    }
  }

  /** The class `DESCRIBE FUNCTION` reports for `name` in `session`. */
  private def describedClass(session: SparkSession, name: String): String =
    session.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      .collectFirst { case l if l.startsWith("Class:") =>
        l.stripPrefix("Class:").trim }
      .getOrElse(fail(s"no Class line for $name"))

  test("a GraftSession session resolves every graft function from SQL, and so does its newSession()") {
    val fresh = spark.newSession()
    for (session <- Seq(spark, fresh, fresh.newSession());
         (name, cls, _) <- GraftFunctions.table)
      assert(describedClass(session, name) === cls.getName, name)
    assert(fresh.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .head().getDouble(0) === 11.0)
  }

  test("register installs the functions on a session that lacks them; without it the call fails") {
    val bare = spark.newSession()
    GraftFunctions.table.foreach { case (name, _, _) =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    }
    val query = "SELECT graft_sqdist(array(1d, 2d), array(3d, 5d))"
    val err = intercept[AnalysisException](bare.sql(query))
    assert(err.getCondition === "UNRESOLVED_ROUTINE", err.getMessage)
    GraftFunctions.register(bare)
    assert(bare.sql(query).head().getDouble(0) === 13.0)
  }
}
