package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for graft's custom expressions, so a
  * cluster can enable them declaratively:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (equivalent to calling [[GraftFunctions.register]] per session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("infobox_to_map"),
      new ExpressionInfo(classOf[InfoboxToMap].getName, "infobox_to_map"),
      (exprs: Seq[Expression]) => InfoboxToMap(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("rolling_chunks"),
      new ExpressionInfo(classOf[RollingHashChunks].getName, "rolling_chunks"),
      (exprs: Seq[Expression]) => RollingHashChunks(exprs.head,
        GraftFunctions.intArg(exprs, 1, 16), GraftFunctions.intArg(exprs, 2, 6))))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSig(exprs(0),
        GraftFunctions.intArg(exprs, 1), GraftFunctions.intArg(exprs, 2))))
    e.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) =>
        ShingleHashes(exprs(0), GraftFunctions.intArg(exprs, 1))))
    // the same Catalyst bloom expressions GraftFunctions.register exposes
    e.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1))))
  }
}
