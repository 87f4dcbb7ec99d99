package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftaccess.ExtensionsAccess

/** The spark.sql.extensions deployment path: a session built with
  * .config("spark.sql.extensions", "graft.GraftExtensions") must get the
  * native cosine expression AND the as-of join strategy. The test JVM
  * holds one shared SparkContext, so instead of building a second
  * session we apply the extensions class to a fresh
  * SparkSessionExtensions and read back what it injected. */
class GraftExtensionsSpec extends SparkSpec {

  test("extensions class injects the native expressions and the as-of strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // Order-insensitive set compare: every native function the engine
    // registers, and nothing else.
    assert(ExtensionsAccess.registeredFunctionNames(ext).toSet
      == Set("graft_cosine", "graft_dot", "graft_simhash", "graft_minhash"))
    assert(ExtensionsAccess.plannerStrategies(ext, spark)
      == Seq(graft.plans.AsOfJoinStrategy))
  }
}
