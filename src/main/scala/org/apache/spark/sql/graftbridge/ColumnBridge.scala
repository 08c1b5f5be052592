package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, InSet, KnownNullable, UnixDate}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Bridge to the `private[sql]` Column ↔ Expression converters — the
  * supported extension-point shape for libraries that ship custom Catalyst
  * expressions (the converters are package-private, so the bridge lives
  * under org.apache.spark.sql). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `c`, of type `dataType`, is one of `values` (external values of
    * that type, as a `Row` holds them), as ONE hashed Catalyst `InSet`:
    * no literal per value, and generated code that reads the set by
    * reference, so it does not change with the values. Nulls in `values`
    * are left out: a null `c` is never in the set. Values compare as an
    * equi-join compares them: a float's -0.0 equals 0.0, every NaN equals
    * every other, binary values by content. */
  def inSet(c: Column, dataType: DataType, values: Iterable[Any]): Column = {
    def key(e: Expression): Expression = dataType match {
      case FloatType | DoubleType => NormalizeNaNAndZero(e)
      // For these types InSet compiles a switch over the values while the
      // set holds at most spark.sql.optimizer.inSetSwitchThreshold of them,
      // one class per set. Widened to a long they take the set path; the
      // tag keeps the optimizer from unwrapping the widening cast.
      case ByteType | ShortType | IntegerType => KnownNullable(Cast(e, LongType))
      case DateType => KnownNullable(Cast(UnixDate(e), LongType))
      case _ => e
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dataType)
    val onDriver = key(BoundReference(0, dataType, nullable = false))
    val set: Set[Any] = values.iterator.filter(_ != null)
      .map(v => onDriver.eval(InternalRow(toCatalyst(v)))).toSet
    column(InSet(key(expression(c)), set))
  }

  /** Force-create the session's StateStoreCoordinator RPC endpoint.
    *
    * Streaming queries create it on first use, but BATCH
    * `transformWithState` does not: its state-store init builds a default
    * SQLConf (so session overrides like
    * `coordinatorReportSnapshotUploadLag=false` never reach it) while the
    * RocksDB provider's snapshot-upload telemetry unconditionally resolves
    * the coordinator endpoint — absent a prior streaming query, that dies
    * with RpcEndpointNotFoundException → CANNOT_LOAD_STATE_STORE. Creating
    * the endpoint up front (what any streaming query would do anyway)
    * makes batch TWS safe. Idempotent and ~free. */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .streams.stateStoreCoordinator

  /** A DataFrame over rows already in Catalyst's internal format, such as
    * those of another DataFrame's `queryExecution.toRdd`
    * (`internalCreateDataFrame` is `private[sql]`). The rows are not
    * converted or copied, so `schema` must be the one they were produced
    * under. */
  def dataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Runs `body` on a thread of `exec` under the calling thread's active
    * session and local properties (its job group and SQL execution ids):
    * `SQLExecution.withThreadLocalCaptured`, which is `private[sql]`. */
  def onThread[T](spark: org.apache.spark.sql.SparkSession,
      exec: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)

  /** Register a function builder into an EXISTING session's registry
    * (`sessionState` is `private[sql]`; the config-driven
    * `spark.sql.extensions` path cannot retrofit a live session). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
