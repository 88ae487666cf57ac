package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression

import scala.reflect.ClassTag

/** Bridge to the Spark internals graft needs, which Spark keeps
  * package-private. Spark 4's classic API gates Column ↔ Catalyst
  * [[Expression]] conversion behind `private[sql]`
  * (`classic.ExpressionUtils`); graft's custom native expressions
  * (e.g. `graft.functions.LshBucketExpr`) need both directions to
  * participate in the DataFrame API. The cache manager is reached
  * through the classic session, to hand out a cached frame as a leaf
  * relation. The listener bus is
  * `private[spark]`; `graft.core.ExecMetrics` finds its listener on it
  * and waits for it to drain. Standard extension-library technique: a
  * tiny same-package shim, no behavior of its own.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s cached relation as a leaf frame (`df` itself when it is not
    * cached): an operation on the leaf analyzes one relation instead of
    * the whole plan that filled the cache.
    */
  def cachedLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(cd => classic.Dataset.ofRows(ds.sparkSession, cd.cachedRepresentation))
      .getOrElse(df)
  }

  /** Waits until every listener has seen every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listenersOf[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
