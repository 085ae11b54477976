package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions
import graft.sources.ClusterScans

/** SparkSessionExtensions hook registering the engine's native
  * expressions into the SQL function registry, so `spark.sql("SELECT
  * fnv64(x) …")` plans the codegen expression (no UDF tier), with the
  * [[NanosFilterRule]] optimizer rule and the [[ClusterScans]]
  * post-planner rule: a split-file scan that claims clustering on a key
  * (a one-file wikirev scan, on `page_id`) is wrapped so that operators
  * needing that key's distribution get a local sort, not an exchange.
  * The rule runs only under adaptive execution; with it off, plans keep
  * their exchange.
  *
  * [[graft.GraftSession.build]] wires it through `spark.sql.extensions`,
  * which also carries it into every `newSession()` clone.
  * `GraftSparkExtensions.install(spark)` is the fallback for a live
  * session started without it; it does NOT reach that session's
  * `newSession()` clones, and it does not add [[ClusterScans]] (a live
  * session has no slot for it), so such a session's scans shuffle.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => NanosFilterRule)
    ext.injectQueryPostPlannerStrategyRule(_ => ClusterScans)
  }
}

object GraftSparkExtensions {
  private type Builder = Seq[Expression] => Expression

  // SQL-side arity validation: a mis-called function must surface as an
  // AnalysisException naming the signature, not an IndexOutOfBounds from
  // the builder reaching into args
  private def checkArity(name: String, expected: Int,
                         args: Seq[Expression]): Unit =
    if (args.length != expected)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  private def register(name: String, cls: Class[_], arity: Int,
      b: Seq[Expression] => Expression): (String, ExpressionInfo, Builder) =
    (name, new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => { checkArity(name, arity, args); b(args) })

  val functions: Seq[(String, ExpressionInfo, Builder)] =
    NativeFunctions.all.map(f =>
      register(f.name, classOf[NativeCall], f.args.length, NativeCall(f, _))) :+
      // hamming distance composes from built-ins: popcount(a xor b)
      register("hamming64", classOf[BitwiseCount], 2,
        args => BitwiseCount(BitwiseXor(args(0), args(1))))

  /** Runtime registration on an existing session (idempotent). After
    * this, `selectExpr("fnv64(col)")` / `expr("fnv64(col)")` plan the
    * native expression, and the [[NanosFilterRule]] pushdown-derivation
    * rule runs in the optimizer (experimental-methods slot, the live-
    * session equivalent of injectOptimizerRule). */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // check-then-append on a shared session must be atomic: racing
    // callers of an unguarded read-modify-write can append the
    // (idempotent, but then wastefully re-run) rule once each
    GraftSparkExtensions.synchronized {
      val cur = spark.experimental.extraOptimizations
      if (!cur.contains(NanosFilterRule))
        spark.experimental.extraOptimizations = cur :+ NanosFilterRule
    }
  }
}
