package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CosineSimilarity, DotProduct, MinHash, SimHash}

/** Session extension: registers the engine's native expressions AND its
  * custom operator strategies. Attach with
  * .config("spark.sql.extensions", "graft.GraftExtensions") at session
  * build time (the idiomatic deployment), or call
  * [[GraftExtensions.ensureRegistered]] /
  * [[graft.plans.AsOfJoin.ensureStrategy]] on an existing session
  * (the driver's Verify session is built without the conf). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", ""),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** The native functions, as (name, usage, builder): both registration
    * paths read this one table. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity of two double arrays",
      c => CosineSimilarity(c(0), c(1))),
    ("graft_dot", "graft_dot(a, b) - dot product of two double arrays",
      c => DotProduct(c(0), c(1))),
    ("graft_simhash",
      "graft_simhash(v) - 48-bit SimHash of a group's 48-bit token hashes",
      c => SimHash(c(0))),
    ("graft_minhash",
      "graft_minhash(hs[, seed]) - MinHash signature of an array of shingle hashes",
      c => MinHash(c(0), c.lift(1).getOrElse(Literal(MinHash.DefaultSeed)))))

  /** Idempotent in-session registration for sessions built without the
    * extensions conf (e.g. the driver's own Verify session). */
  def ensureRegistered(spark: SparkSession): Unit =
    functions.foreach { case (name, usage, builder) =>
      org.apache.spark.sql.graftaccess.FunctionAccess.register(spark, name, usage, builder)
    }
}
