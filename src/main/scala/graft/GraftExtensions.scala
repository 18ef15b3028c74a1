package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's one-line installation point:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * }}}
  *
  * gives every session built that way the engine's Catalyst surface with
  * no per-query registration calls:
  *  - `graft_cosine(a, b)` / `graft_jaccard(a, b)` as SQL functions (the
  *    codegen expressions behind the similarity/dedup stack) — usable
  *    from `spark.sql(...)` text, not just the Column API;
  *  - the AsOfJoin planner strategy, so `AsOfJoinPlan.build` plans the
  *    custom co-partitioned merge without touching
  *    `experimental.extraStrategies`;
  *  - the IndexRoute optimizer rule, which routes value-predicate reads
  *    on indexed graftcell catalog tables through the secondary index.
  *
  * This is the idiomatic packaging for a third-party Spark library
  * (injection over mutation: `experimental.extraStrategies` mutates live
  * session state, extensions compose declaratively and survive
  * `newSession()`/cloned sessions). The per-query
  * `createOrReplaceTempFunction` calls elsewhere stay, so queries also
  * work on vanilla driver-built sessions; ExtensionsSpec proves the
  * extension path works with NEITHER of those fallbacks firing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_],
                 builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
     new ExpressionInfo(clazz.getName, name),
     builder)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(fn("graft_cosine",
      classOf[functions.CosineSimilarity],
      es => functions.CosineSimilarity(es.head, es(1))))
    e.injectFunction(fn("graft_jaccard",
      classOf[functions.JaccardSets],
      es => functions.JaccardSets(es.head, es(1))))
    e.injectPlannerStrategy(_ => plans.AsOfStrategy)
    // r20: value-predicate reads on indexed graftcell catalog tables
    // route through the secondary index automatically (see IndexRoute)
    e.injectOptimizerRule(_ => plans.IndexRoute)
  }
}
