package perfbench

import graft.pipeline.{IdempotentSink, Sink, Source, WatermarkState}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import scala.jdk.CollectionConverters._

/** One timed call of a decorated layer function. `t0`/`t1` are
  * `System.nanoTime` readings. */
final case class Span(layer: String, table: String, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Thread-safe span log shared by every decorator of one traced run. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]
  def time[A](layer: String, table: String)(f: => A): A = {
    val t0 = System.nanoTime
    try f finally q.add(Span(layer, table, t0, System.nanoTime))
  }
  def take(): Seq[Span] = {
    val out = q.asScala.toList
    q.clear()
    out
  }
}

/** Timing decorators for the pipeline's extension points. Each forwards
  * to the wrapped instance unchanged and records one span per call. */
final class TimedSource(inner: Source, spans: Spans) extends Source {
  def read(spark: SparkSession, table: String): DataFrame =
    spans.time("source.read", table)(inner.read(spark, table))
}

final class TimedSink(inner: Sink, spans: Spans) extends Sink {
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    spans.time("sink.write", table)(inner.write(df, table, mode))
}

/** Stays an [[IdempotentSink]]: `CopyJob` and the stream path dispatch on
  * that type, and a plain [[Sink]] wrapper would silently switch them to
  * append semantics. */
final class TimedIdempotentSink(inner: IdempotentSink, spans: Spans) extends IdempotentSink {
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    spans.time("sink.write", table)(inner.write(df, table, mode))
  def writeBatch(df: DataFrame, table: String, batchToken: String): Unit =
    spans.time("sink.write", table)(inner.writeBatch(df, table, batchToken))
}

final class TimedState(inner: WatermarkState, spans: Spans) extends WatermarkState {
  def get(table: String): Option[String] = spans.time("state.get", table)(inner.get(table))
  def put(table: String, value: String): Unit =
    spans.time("state.put", table)(inner.put(table, value))
}

object Timed {
  def sink(s: Sink, spans: Spans): Sink = s match {
    case i: IdempotentSink => new TimedIdempotentSink(i, spans)
    case o                 => new TimedSink(o, spans)
  }
}
