package graft.pipeline

import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Result of one table copy. The reference communicates the new watermark to
  * its orchestrator by printing `NEW_WATERMARK_<T>=<v>` to stdout
  * (`/root/reference/app.py:160-172`); we return it in-process (SURVEY §7.3
  * hazard 7).
  */
final case class CopyResult(
    table: String,
    rowsCopied: Long,
    newWatermark: Option[WatermarkValue],
    skipped: Boolean)

/** One-table copy: the Spark-native rebuild of the reference's per-table
  * loop body (`/root/reference/app.py:88-177`).
  *
  * Dataflow: `source.read` → optional pushed-down watermark filter
  * (`util.py:149-159` rebuilt as a `Column` predicate — Catalyst pushes `>`
  * into the parquet/JDBC scan, SURVEY §4) → on incremental runs, a probe of
  * which scan partitions hold delta rows, with the empty-delta skip
  * (`app.py:147-153`) → sink write of those partitions only →
  * `agg(max(wm))` over the copied delta (`util.py:403-426`: the reference
  * computes the watermark from the fetched data, not the source — we keep
  * that definition, SURVEY §7.3 hazard 3).
  *
  * Scale notes: no driver materialization of table data (the delta count and
  * max are single-row aggregates); the strictly-greater `>` semantics match
  * the reference (`util.py:156,159`) including its documented lossiness for
  * equal-timestamp late arrivals (hazard 1). A source without snapshot
  * reads (JDBC) adds a second window: a row inserted, between the probe
  * and the write, into a scan partition the probe found empty is not
  * copied by this run, and if a later row already advanced the watermark
  * past it, by no run. Without the probe the same risk exists only while
  * the write scans.
  */
object CopyJob {

  def run(
      spark: SparkSession,
      spec: TableSpec,
      source: Source,
      sink: Sink,
      state: WatermarkState,
      mode: SaveMode = SaveMode.Append): CopyResult = {

    val full = source.read(spark, spec.tableName)

    val wm: Option[(String, WatermarkValue)] = for {
      wmCol <- spec.watermarkColumn
      wmType <- spec.watermarkType
      value <- WatermarkValue.decode(state.get(spec.tableName), wmType)
    } yield (wmCol, value)

    val delta = wm match {
      case Some((c, WatermarkValue.IdValue(v)))  => full.filter(col(c) > lit(v))
      case Some((c, WatermarkValue.TsValue(v)))  => full.filter(col(c) > lit(v))
      case None                                  => full
    }

    // Incremental runs (an existing watermark pushed into the scan) probe
    // the delta BEFORE writing: one single-stage job, no shuffle, whose
    // tasks each scan their partition up to its first delta row. With no
    // rows anywhere (the common steady state) the write is skipped, keeping
    // empty deltas out of the sink (the reference skips the load too,
    // app.py:147-153). Otherwise the write reads only the partitions that
    // hold delta rows, from the same RDD: partitions holding only history
    // are scanned once, by the probe, and the write's task 0, for which
    // Spark's file writer always opens a file, has rows, so no 0-row part
    // file is written. Initial full loads skip the probe: they are never
    // empty in practice and the probe would be a wasted scan.
    val toWrite = if (wm.isEmpty) delta else {
      val rows = delta.queryExecution.toRdd
      val hasRows = spark.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => it.hasNext)
      if (!hasRows.contains(true))
        return CopyResult(spec.tableName, 0L, None, skipped = true)
      ColumnBridge.dataFrame(spark, PartitionPruningRDD.create(rows, hasRows(_)), delta.schema)
    }

    // No stats pass: the row count and max(watermark) are collected as
    // observed metrics DURING the write, so the write is the only full read
    // of the delta (at 100 TB a second stats pass would double the dominant
    // cost).
    val obs = org.apache.spark.sql.Observation(s"copy_${spec.tableName}")
    val metricCols = count(lit(1)).as("n") +:
      spec.watermarkColumn.map(c => max(col(c)).as("wm")).toSeq
    val observed = toWrite.observe(obs, metricCols.head, metricCols.tail: _*)
    sink match {
      case is: IdempotentSink =>
        // Batch token = the watermark this delta was read FROM (not to):
        // a crash before the state write replays the exact same token, so
        // the retry REPLACES the earlier attempt (hazard 2 closed for
        // sinks that can overwrite a batch). The path-safe encoding is
        // INJECTIVE — ASCII [A-Za-z0-9.-] pass through, everything else
        // (including '_', the escape marker) becomes _XXXX hex — because a
        // lossy sanitizer could collide two distinct watermarks onto one
        // token, letting a later batch dynamically overwrite an earlier
        // batch's partition and silently delete its rows.
        val token = wm.map(_._2.serialized).getOrElse("full").flatMap {
          case c if (c.isLetterOrDigit && c < 0x80) || c == '.' || c == '-' => c.toString
          case c => f"_${c.toInt}%04X"
        }
        is.writeBatch(observed, spec.tableName, token)
      case other => other.write(observed, spec.tableName, mode)
    }
    val stats = obs.get
    val n = stats("n").asInstanceOf[Long]
    val maxRaw =
      if (spec.watermarkColumn.isDefined) Option(stats("wm")) else None

    if (n == 0L) {
      // Empty delta: skip load, do NOT advance the watermark
      // (/root/reference/app.py:147-153).
      CopyResult(spec.tableName, 0L, None, skipped = true)
    } else {
      // The observed max arrives as whatever external type the session's
      // datetime config produces: java.sql.Timestamp by default,
      // java.time.Instant/LocalDateTime under datetime.java8API.enabled.
      // An UNRECOGNIZED type must fail loudly: silently returning None here
      // would copy rows but never advance the watermark, so every later run
      // re-appends the full table with no visible error.
      val newWm: Option[WatermarkValue] = (spec.watermarkType, maxRaw) match {
        case (Some(WatermarkType.Id), Some(v: Number)) =>
          Some(WatermarkValue.IdValue(v.longValue()))
        case (Some(WatermarkType.Timestamp), Some(t: java.sql.Timestamp)) =>
          Some(WatermarkValue.TsValue(t))
        case (Some(WatermarkType.Timestamp), Some(i: java.time.Instant)) =>
          Some(WatermarkValue.TsValue(java.sql.Timestamp.from(i)))
        case (Some(WatermarkType.Timestamp), Some(l: java.time.LocalDateTime)) =>
          Some(WatermarkValue.TsValue(java.sql.Timestamp.valueOf(l)))
        case (None, _) => None
        case (Some(wt), bad) =>
          throw new IllegalStateException(
            s"table ${spec.tableName}: watermark metric of type " +
              s"${bad.map(_.getClass.getName).getOrElse("null")} not usable as $wt " +
              "— refusing to advance silently (would re-copy forever)")
      }
      // State write strictly AFTER the sink commit (SURVEY §7.3 hazard 2).
      newWm.foreach(v => state.put(spec.tableName, v.serialized))
      CopyResult(spec.tableName, n, newWm, skipped = false)
    }
  }
}
