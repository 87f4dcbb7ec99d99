package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CosineSimilarity, DotProduct, SimHash}

/** Session extension: registers the engine's native expressions AND its
  * custom operator strategies. Attach with
  * .config("spark.sql.extensions", "graft.GraftExtensions") at session
  * build time (the idiomatic deployment), or call
  * [[GraftExtensions.ensureRegistered]] /
  * [[graft.plans.AsOfJoin.ensureStrategy]] on an existing session
  * (the driver's Verify session is built without the conf). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo("graft", null, "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two double arrays",
        "", "", "", "", "", "", ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo("graft", null, "graft_dot",
        "graft_dot(a, b) - dot product of two double arrays",
        "", "", "", "", "", "", ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo("graft", null, "graft_simhash",
        "graft_simhash(v) - 48-bit SimHash of a group's 48-bit token hashes",
        "", "", "", "", "", "", ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash(children(0))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Idempotent in-session registration for sessions built without the
    * extensions conf (e.g. the driver's own Verify session). */
  def ensureRegistered(spark: SparkSession): Unit = {
    org.apache.spark.sql.graftaccess.FunctionAccess.register(
      spark, "graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two double arrays",
      children => CosineSimilarity(children(0), children(1)))
    org.apache.spark.sql.graftaccess.FunctionAccess.register(
      spark, "graft_dot",
      "graft_dot(a, b) - dot product of two double arrays",
      children => DotProduct(children(0), children(1)))
    org.apache.spark.sql.graftaccess.FunctionAccess.register(
      spark, "graft_simhash",
      "graft_simhash(v) - 48-bit SimHash of a group's 48-bit token hashes",
      children => SimHash(children(0)))
  }
}
