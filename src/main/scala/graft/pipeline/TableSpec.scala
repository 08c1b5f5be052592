package graft.pipeline

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import java.io.InputStreamReader
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One row of the table catalog.
  *
  * Mirrors the reference's `tables_list` CSV
  * (`/root/reference/tables_list:1`): columns
  * `table_name,to_be_loaded,watermark_column,watermark_type`. Empty
  * watermark fields mean "always full load"
  * (`/root/reference/tables_list:2-7`).
  */
final case class TableSpec(
    tableName: String,
    toBeLoaded: Boolean,
    watermarkColumn: Option[String],
    watermarkType: Option[WatermarkType])

sealed trait WatermarkType
object WatermarkType {
  /** Monotonic integer key (`/root/reference/app.py:105-107`). */
  case object Id extends WatermarkType
  /** Timestamp column (`/root/reference/app.py:108-112`). */
  case object Timestamp extends WatermarkType

  /** Unknown tags degrade to None → full load
    * (`/root/reference/app.py:113-117`). */
  def parse(s: String): Option[WatermarkType] = s.trim.toLowerCase match {
    case "id"        => Some(Id)
    case "timestamp" => Some(Timestamp)
    case _           => None
  }
}

/** Catalog loader — driver-side version of `get_tables`
  * (`/root/reference/util.py:352-400`): CSV scan → `to_be_loaded == "yes"`
  * filter → optional requested-name `isin` filter, warning on requested
  * names that don't exist (the reference's anti-diff,
  * `/root/reference/util.py:385-387`).
  *
  * The catalog is a handful of lines, so it is read on the driver and
  * starts no Spark job (a `spark.read.csv` scan started two, serially,
  * before any table could begin). The file is opened through the Hadoop
  * `FileSystem`, so `hdfs://`/`s3a://` catalogs still work, and parsed
  * with univocity, the parser under Spark's own CSV reader, configured as
  * Spark configures it: `"` quotes, `\` escapes, no comment lines, blank
  * lines skipped. Columns are found by header name, case-insensitively;
  * values are trimmed and an empty value is `None`; a short row reads its
  * missing fields as `None`. A missing required column, or a path that is
  * not a single file, refuses.
  */
object Catalog {

  private val Columns = Seq("table_name", "to_be_loaded", "watermark_column", "watermark_type")

  /** @param requested `None` = all (the reference's `"all"` argument,
    *                  `/root/reference/util.py:368-381`) */
  def load(
      spark: SparkSession,
      csvPath: String,
      requested: Option[Seq[String]] = None,
      warn: String => Unit = s => System.err.println(s"[catalog] $s"))
      : Seq[TableSpec] = {
    val path = new Path(csvPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(path).isFile)
      throw new IllegalArgumentException(s"catalog $csvPath is not a single file")

    val settings = new CsvParserSettings()
    settings.getFormat.setQuoteEscape('\\')
    settings.setCommentProcessingEnabled(false)
    settings.setLineSeparatorDetectionEnabled(true)
    settings.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
    settings.setReadInputOnSeparateThread(false)
    val in = new InputStreamReader(fs.open(path), StandardCharsets.UTF_8)
    val lines = try new CsvParser(settings).parseAll(in).asScala.toSeq finally in.close()

    def clean(s: String): Option[String] = Option(s).map(_.trim).filter(_.nonEmpty)
    val header = lines.headOption.getOrElse(Array.empty[String]).map(clean(_).getOrElse(""))
    val Seq(name, flag, wmCol, wmType) = Columns.map { c =>
      val i = header.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) throw new IllegalArgumentException(
        s"catalog $csvPath has no column '$c' (header: ${header.mkString(",")})")
      i
    }
    val rows = lines.drop(1).map { r =>
      def str(i: Int): Option[String] = r.lift(i).flatMap(clean)
      TableSpec(
        tableName = str(name).getOrElse(""),
        toBeLoaded = str(flag).exists(_.equalsIgnoreCase("yes")),
        watermarkColumn = str(wmCol),
        watermarkType = str(wmType).flatMap(WatermarkType.parse))
    }

    val loadable = rows.filter(_.toBeLoaded)
    requested match {
      case None => loadable
      case Some(names) =>
        val found = loadable.filter(t => names.contains(t.tableName))
        val missing = names.diff(found.map(_.tableName))
        if (missing.nonEmpty)
          warn(s"requested tables not in catalog or not loadable: ${missing.mkString(", ")}")
        found
    }
  }
}
