package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Source/sink registry — Spark-native version of the reference's connector
  * factories (`/root/reference/util.py:276-335`), which dispatch on a
  * `DB_TYPE` string and leave commented extension stubs for api/file
  * connectors (`util.py:291-301`). Here a format string dispatches to
  * `spark.read.format(...)` so new formats are one case each, and all I/O
  * stays executor-side (never the reference's driver `fetchall`,
  * `util.py:170`).
  */
/** Open extension points: the reference leaves commented connector stubs for
  * future api/file connectors (`util.py:291-301`) — third-party formats plug
  * in by implementing these. */
trait Source {
  def read(spark: SparkSession, table: String): DataFrame
}
trait Sink {
  def write(df: DataFrame, table: String, mode: SaveMode): Unit
}

/** Sinks that can REPLACE a re-delivered batch instead of appending it a
  * second time. Data commit and watermark-state update are not one
  * transaction (SURVEY §7.3 hazard 2): a crash between them re-runs the
  * same delta, and a plain append sink then duplicates it. An idempotent
  * sink keys each batch write by a deterministic token (the watermark the
  * delta was read FROM) so the replay overwrites its own previous attempt.
  */
trait IdempotentSink extends Sink {
  def writeBatch(df: DataFrame, table: String, batchToken: String): Unit
}

object Connectors {

  /** Parquet directory source: one subdirectory (or file) per table. The
    * layout probe goes through the Hadoop FileSystem API so it honors the
    * path's scheme — a `java.nio` probe would be always-false for
    * `hdfs://`/`s3a://` base dirs (the actual cluster deployment shape) and
    * silently misread directory-per-table layouts. The schema is read on
    * the driver from one footer ([[readParquet]]), so `read` starts no
    * Spark job.
    */
  final case class ParquetSource(baseDir: String) extends Source {
    def read(spark: SparkSession, table: String): DataFrame = {
      val dir = new Path(s"$baseDir/$table")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = if (fs.exists(dir)) dir.toString else s"$baseDir/$table.parquet"
      readParquet(spark, p)
    }
  }

  /** `spark.read.parquet(path)` without its schema-inference job. Spark's
    * non-merging inference reads exactly one footer — the first data file
    * in path order — but inside a one-task job. Here that footer is read on
    * the driver and converted by Spark's own `readSchemaFromFooter`, and the
    * result is handed to the reader as its schema; partition columns are
    * still discovered from the paths. Falls back to plain
    * `spark.read.parquet` when Spark would read something else: schema
    * merging is on, a `_metadata`/`_common_metadata` summary file sits on
    * the way to the first data file, a file column repeats a partition
    * column, or there is no data file (then Spark raises its own error).
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    // Spark's file index hides `_x` (but not `_k=v` partition directories)
    // and `.x` names and in-flight copies; summary files are `_x` names.
    def visible(s: FileStatus) = {
      val n = s.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    var summary = false
    // Depth-first in name order, a directory sorting as `name/`, visits
    // files in the full-path order Spark's inference sorts them by.
    def firstFile(dir: Path): Option[FileStatus] = {
      val entries = fs.listStatus(dir)
      summary ||= entries.exists(e => SummaryFiles(e.getPath.getName))
      entries.filter(visible).sortBy(e => e.getPath.getName + (if (e.isDirectory) "/" else ""))
        .iterator.flatMap(e => if (e.isDirectory) firstFile(e.getPath) else Some(e)).nextOption()
    }
    val first =
      try { val st = fs.getFileStatus(root); if (st.isDirectory) firstFile(root) else Some(st) }
      catch { case _: java.io.FileNotFoundException => None }
    first.filterNot(_ => summary).flatMap { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, footer), new ParquetToSparkSchemaConverter(sqlConf))
      // A column that is also a partition directory keeps its data-file
      // position under inference but moves last under a given schema.
      val partitionKeys = Iterator.iterate(st.getPath.getParent)(_.getParent)
        .take(st.getPath.depth - root.depth - 1)
        .map(_.getName).filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSeq
      if (schema.fieldNames.exists(f => partitionKeys.exists(_.equalsIgnoreCase(f)))) None
      else Some(schema)
    }
  }

  private val SummaryFiles = Set("_metadata", "_common_metadata")

  final case class CsvSource(baseDir: String, header: Boolean = true) extends Source {
    def read(spark: SparkSession, table: String): DataFrame =
      spark.read.option("header", header.toString)
        .option("inferSchema", "true").csv(s"$baseDir/$table.csv")
  }

  final case class JsonSource(baseDir: String) extends Source {
    def read(spark: SparkSession, table: String): DataFrame =
      spark.read.json(s"$baseDir/$table.json")
  }

  /** Line-delimited text source: one row per line (`value: string`) — the
    * rawest LLM-corpus ingestion format (a .txt shard per table). Lines
    * split by newline at arbitrary byte offsets, so a shard parallelizes
    * across executors without any row-group structure. */
  final case class TextSource(baseDir: String) extends Source {
    def read(spark: SparkSession, table: String): DataFrame =
      spark.read.text(s"$baseDir/$table.txt")
  }

  /** Binary-file source: one row per FILE (`path, modificationTime,
    * length, content: binary`) — the multimodal ingestion path (a
    * directory of images/audio per table), feeding
    * [[graft.multimodal.Multimodal.decodeMeta]] directly. Spark lists and
    * splits by file, so decode parallelism equals file count; payloads are
    * read executor-side, never through the driver. */
  final case class BinarySource(baseDir: String) extends Source {
    def read(spark: SparkSession, table: String): DataFrame =
      spark.read.format("binaryFile").load(s"$baseDir/$table")
  }

  /** JDBC source with optional partitioned parallel scan — fixes the
    * reference's single-cursor full fetch (`/root/reference/util.py:167,170`,
    * BASELINE.md "source scan parallelism: 1"). With a partition column the
    * scan fans out over `numPartitions` executor-side connections.
    */
  final case class JdbcSource(
      url: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8) extends Source {
    /** The bounds-probe SQL, dialect-quoted. Spark creates tables with
      * quoted column identifiers, so an unquoted column would be
      * case-folded by databases like Derby/Postgres and not resolve; the
      * table name stays unquoted (created unquoted → case-folded by the
      * database). Factored out so JdbcDialectSpec can pin the generated
      * SQL per dialect (MySQL backticks vs Postgres double quotes). */
    def boundsQuery(table: String, pc: String): String = {
      val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier _
      s"SELECT MIN(${q(pc)}) lo, MAX(${q(pc)}) hi FROM $table"
    }

    def read(spark: SparkSession, table: String): DataFrame = {
      val base = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
      val withProps = props.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
      partitionColumn match {
        case Some(pc) =>
          // Bounds probe is one tiny aggregate pushed to the source.
          val bounds = spark.read.format("jdbc").option("url", url)
            .option("query", boundsQuery(table, pc))
            .load().collect().headOption
          bounds match {
            case Some(r) if !r.isNullAt(0) =>
              withProps
                .option("partitionColumn", pc)
                .option("lowerBound", r.get(0).toString)
                .option("upperBound", r.get(1).toString)
                .option("numPartitions", numPartitions.toString)
                .load()
            case _ => withProps.load()
          }
        case None => withProps.load()
      }
    }
  }

  /** ORC source/sink: the other columnar format real warehouses hold
    * (Hive-lineage lakes are ORC-first); Spark's native vectorized ORC
    * reader gives the same pushdown/pruning surface as parquet, so the
    * scan-shape guarantees elsewhere in this file carry over unchanged. */
  final case class OrcSource(baseDir: String) extends Source {
    def read(spark: SparkSession, table: String): DataFrame = {
      val dir = new Path(s"$baseDir/$table")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = if (fs.exists(dir)) dir.toString else s"$baseDir/$table.orc"
      spark.read.orc(p)
    }
  }

  final case class ParquetSink(baseDir: String) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      df.write.mode(mode).parquet(s"$baseDir/$table")
  }

  final case class OrcSink(baseDir: String) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      df.write.mode(mode).orc(s"$baseDir/$table")
  }

  final case class CsvSink(baseDir: String) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      df.write.mode(mode).option("header", "true").csv(s"$baseDir/$table")
  }

  final case class JsonSink(baseDir: String) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      df.write.mode(mode).json(s"$baseDir/$table")
  }

  /** Idempotent parquet sink: each batch lands in a
    * `_graft_batch=<token>` partition via DYNAMIC partition overwrite, so a
    * crash-replayed delta (same origin watermark → same token) replaces its
    * earlier partial write instead of appending duplicates — overwrite-
    * partition staging, the standard exactly-once-per-batch pattern on
    * file sinks. Trade-offs, documented: readers see the `_graft_batch`
    * column (it is lineage metadata — which watermark the rows arrived
    * from), and a full load (token `full`) gets replace-semantics rather
    * than the reference's append-again behavior.
    */
  final case class IdempotentParquetSink(baseDir: String) extends IdempotentSink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      writeBatch(df, table, "adhoc")
    def writeBatch(df: DataFrame, table: String, batchToken: String): Unit = {
      // A FULL load is the whole-table truth: overwrite statically so stale
      // incremental batch partitions from before a state reset are removed
      // (dynamic overwrite would replace only the `full` partition and
      // leave old deltas behind → duplicates). Incremental batches
      // overwrite dynamically: only their own token partition is replaced.
      val mode =
        if (batchToken == "full") "static" else "dynamic"
      df.withColumn("_graft_batch", org.apache.spark.sql.functions.lit(batchToken))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", mode)
        .partitionBy("_graft_batch")
        .parquet(s"$baseDir/$table")
    }
  }

  /** Hive-style partitioned parquet sink (`.../table/col=value/...`). At
    * scale this is the difference between scanning a date slice and
    * scanning 100 TB: readers with a predicate on the partition columns
    * prune directories BEFORE listing files (PartitionFilters in the scan —
    * gated by ConnectorsSpec). Choose low-cardinality columns; a
    * high-cardinality partition key degenerates into millions of tiny
    * files.
    */
  final case class PartitionedParquetSink(
      baseDir: String,
      partitionCols: Seq[String]) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      df.write.mode(mode).partitionBy(partitionCols: _*)
        .parquet(s"$baseDir/$table")
  }

  /** JDBC sink; `batchsize=1000` for parity with the reference's
    * `execute_batch(page_size=1000)` (`/root/reference/util.py:226,232`).
    */
  final case class JdbcSink(
      url: String,
      props: Map[String, String] = Map.empty,
      batchSize: Int = 1000) extends Sink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
      val base = df.write.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("batchsize", batchSize.toString)
        .mode(mode)
      props.foldLeft(base) { case (w, (k, v)) => w.option(k, v) }.save()
    }
  }

  /** String-keyed factory, the analogue of `create_source_connector`
    * (`/root/reference/util.py:276-304`). */
  def source(format: String, baseDirOrUrl: String): Source =
    format.toLowerCase match {
      case "parquet" => ParquetSource(baseDirOrUrl)
      case "csv"     => CsvSource(baseDirOrUrl)
      case "json"    => JsonSource(baseDirOrUrl)
      case "text"    => TextSource(baseDirOrUrl)
      case "binary"  => BinarySource(baseDirOrUrl)
      case "orc"     => OrcSource(baseDirOrUrl)
      case "jdbc"    => JdbcSource(baseDirOrUrl)
      case other     => throw new IllegalArgumentException(s"unknown source format: $other")
    }

  def sink(format: String, baseDirOrUrl: String): Sink =
    format.toLowerCase match {
      case "parquet" => ParquetSink(baseDirOrUrl)
      case "parquet-idempotent" => IdempotentParquetSink(baseDirOrUrl)
      case "csv"     => CsvSink(baseDirOrUrl)
      case "json"    => JsonSink(baseDirOrUrl)
      case "orc"     => OrcSink(baseDirOrUrl)
      case "jdbc"    => JdbcSink(baseDirOrUrl)
      case other     => throw new IllegalArgumentException(s"unknown sink format: $other")
    }
}
