package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface needed by custom Catalyst expressions:
  * Spark 4 Columns wrap `ColumnNode`s, and the classic-API converter
  * (`org.apache.spark.sql.classic.ExpressionUtils`) is package-private.
  * Living inside `org.apache.spark.sql` is the standard extension-library
  * technique for this (same approach as frameless / spark-daria).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` with every field nullable, as Spark's file sources read. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Re-tag a batch plan as a STREAMING DataFrame — what a v1 streaming
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`), built exactly the way Spark's own v1 sources do it:
    * `internalCreateDataFrame(rdd, schema, isStreaming = true)` over the
    * plan's lazily-planned `toRdd` (no job runs here; the engine triggers
    * execution when the micro-batch runs). `internalCreateDataFrame` is
    * `private[sql]`, hence this bridge.
    */
  def streamingDataFrame(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    classic.internalCreateDataFrame(qe.toRdd, qe.analyzed.schema,
      isStreaming = true)
  }

  /** Build a NEW session over an existing context with the given extensions
    * applied — `SparkSession.builder.getOrCreate` reuses the default session
    * and silently ignores `spark.sql.extensions`, so tests (and any host
    * embedding the engine next to an existing session) need the direct
    * constructor, which is `private[sql]`.
    */
  def newSessionWithExtensions(
      sc: org.apache.spark.SparkContext,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit): org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    // The 6-arg primary constructor is Scala-restricted beyond even this
    // package but public in bytecode (private[x] erases to public); the
    // builder path can't be used because getOrCreate reuses the default
    // session. Signature: (sc, sharedState, parentSessionState, extensions,
    // initialSessionOptions, parentManagedJobTags).
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException(
        "classic.SparkSession 6-arg constructor not found — Spark version change?"))
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}
