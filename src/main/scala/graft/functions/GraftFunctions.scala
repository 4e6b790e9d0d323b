package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** Registration surface for graft's native expressions.
  *
  * Two paths:
  *  - [[GraftExtensions]] for session construction
  *    (`.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.functions.GraftExtensions`) — the
  *    idiomatic cluster deployment;
  *  - [[GraftFunctions.register]] for an already-built session (the
  *    harness driver owns the SparkSession), after which
  *    `call_function("synonym_lookup", ...)` / SQL `synonym_lookup(...)`
  *    resolve.
  */
object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  private def fn(name: String, cls: Class[_])(builder: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** One (name, info, builder) triple per function, for both paths. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("synonym_lookup", classOf[SynonymLookup])(args => SynonymLookup(args(0), args(1))),
    fn("simhash64", classOf[SimHash64])(args => SimHash64(args(0))),
    fn("dot_product", classOf[DotProduct])(args => DotProduct(args(0), args(1))),
    fn("squared_l2", classOf[SquaredL2])(args => SquaredL2(args(0), args(1))),
    fn("md5_lanes", classOf[Md5Lanes])(args => Md5Lanes(args(0))),
    // membership probe against a pre-built broadcast Bloom filter
    // (serialized bytes literal + xxhash64 of the key) — the same
    // expression Spark's AQE runtime filter injects, exposed for
    // explicit reference-set prefilters (see extensions/Membership)
    fn("bloom_might_contain", classOf[BloomFilterMightContain])(
      args => BloomFilterMightContain(args(0), args(1))))

  /** Registers the functions the session does not resolve yet, so a
    * session built with [[GraftExtensions]], or one registered before,
    * is left untouched (re-registering logs a "replaced a previously
    * registered function" warning per function). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.FuseExplodeCount)
    // MERGE INTO over plain relations: rewritten at resolution into the
    // full-outer-join merge plan (see MergeIntoRewrite scaladoc)
    ext.injectResolutionRule(_ => graft.plans.MergeIntoRewrite)
  }
}
