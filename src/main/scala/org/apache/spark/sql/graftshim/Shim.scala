package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion — the one
  * hook a library adding native Catalyst expressions needs. Spark 4's
  * classic API intentionally hides these behind the sql package; scoping
  * this object inside org.apache.spark.sql keeps the rest of graft on
  * public API only.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bounded top-k collect aggregate (catalyst's CollectTopK: a
    * TypedImperativeAggregate over a BoundedPriorityQueue — partial
    * map-side combine with at most k elements per partition buffer).
    * `reverse = false` keeps the k LARGEST by the child's ordering,
    * `reverse = true` the k smallest.
    * (CollectTopK is private[aggregate]; constructed by GraftTopK there.)
    */
  def collectTopK(c: Column, k: Int, reverse: Boolean): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopK
        .collectTopK(expression(c), k, reverse))

  /** Native Bloom-membership probe: catalyst's `BloomFilterMightContain`
    * over a serialized `org.apache.spark.util.sketch.BloomFilter` literal
    * — the same expression Spark's own runtime row-level filtering
    * injects, codegen'd, deserializing the sketch ONCE per task. `value`
    * must be the LongType hash the sketch was built from (both sides
    * `putLong`/`mightContainLong`, e.g. `xxhash64(col)`).
    */
  def bloomMightContain(serialized: Array[Byte], value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          serialized, org.apache.spark.sql.types.BinaryType),
        expression(value)))

  /** The session's broadcast-join size threshold in bytes (-1 = disabled).
    * (`sessionState` is `private[sql]`; operators that adapt their plan to
    * broadcastability — e.g. skipping a salt that only pays off under a
    * shuffle join — read it through this shim.)
    */
  def autoBroadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Apply a `SparkSessionExtensions` configurator to a LIVE session's
    * function registry — the injection Spark performs at session build
    * (`spark.sql.extensions`), made available post-hoc. Only function
    * injections take effect here; rules/strategies need session-build
    * wiring. (`registerFunctions` is `private[sql]`, hence this shim.)
    */
  def applyExtensions(spark: org.apache.spark.sql.SparkSession,
                      f: org.apache.spark.sql.SparkSessionExtensions => Unit): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }

  /** Drain the Spark listener bus (`listenerBus` is `private[spark]`) so
    * a spec counting job events via a SparkListener can assert
    * synchronously — e.g. "this cached catalog request launched ZERO
    * Spark jobs" needs all pending job-start events delivered first.
    */
  def waitForListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (`shuffleDepId` is
    * `private[spark]`).
    */
  def isShuffleMap(i: org.apache.spark.scheduler.StageInfo): Boolean =
    i.shuffleDepId.isDefined
}
