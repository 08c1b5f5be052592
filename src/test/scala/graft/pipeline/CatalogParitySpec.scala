package graft.pipeline

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side catalog parser reads every file shape the way Spark's
  * CSV reader does: each fixture is checked against `spark.read.csv` with
  * the same column lookup and value rules. */
class CatalogParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(content: String): String = {
    val f = Files.createTempFile("tables_list", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  /** The catalog as a Spark CSV scan reads it. */
  private def viaSpark(path: String): Seq[TableSpec] =
    spark.read.option("header", "true").csv(path)
      .select(col("table_name"), col("to_be_loaded"), col("watermark_column"), col("watermark_type"))
      .collect().toSeq.map { r =>
        def str(i: Int) = Option(r.getString(i)).map(_.trim).filter(_.nonEmpty)
        TableSpec(str(0).getOrElse(""), str(1).exists(_.equalsIgnoreCase("yes")), str(2),
          str(3).flatMap(WatermarkType.parse))
      }.filter(_.toBeLoaded)

  private def parity(content: String): Seq[TableSpec] = {
    val path = write(content)
    val specs = Catalog.load(spark, path)
    assert(specs == viaSpark(path))
    specs
  }

  test("a quoted name keeps its comma") {
    val specs = parity(
      "table_name,to_be_loaded,watermark_column,watermark_type\n" +
        "\"orders, archived\",yes,order_id,id\n" +
        "plain,yes,,\n")
    assert(specs.map(_.tableName) == Seq("orders, archived", "plain"))
    assert(specs.head.watermarkType.contains(WatermarkType.Id))
  }

  test("columns are found by name in any order and case") {
    val specs = parity(
      "WATERMARK_TYPE,Table_Name,watermark_column,TO_BE_LOADED\n" +
        "timestamp,orders,order_date,YES\n" +
        ",departments,,Yes\n" +
        "id,skipped,id,no\n")
    assert(specs == Seq(
      TableSpec("orders", toBeLoaded = true, Some("order_date"), Some(WatermarkType.Timestamp)),
      TableSpec("departments", toBeLoaded = true, None, None)))
  }

  test("CRLF endings, blank lines and no final newline") {
    val specs = parity(
      "table_name,to_be_loaded,watermark_column,watermark_type\r\n" +
        "\r\n" +
        "customers,yes,customer_id,id\r\n" +
        "\r\n" +
        "\r\n" +
        " products , yes ,  ,  \r\n" +
        "orders,yes,order_date,timestamp")
    assert(specs.map(_.tableName) == Seq("customers", "products", "orders"))
    assert(specs(1).watermarkColumn.isEmpty)
    assert(specs(2).watermarkType.contains(WatermarkType.Timestamp))
  }

  test("a short row reads its missing fields as None") {
    val specs = parity(
      "table_name,to_be_loaded,watermark_column,watermark_type\n" +
        "short,yes,updated_at\n" +
        "shorter,yes\n")
    assert(specs == Seq(
      TableSpec("short", toBeLoaded = true, Some("updated_at"), None),
      TableSpec("shorter", toBeLoaded = true, None, None)))
  }

  test("a missing required column refuses and names it") {
    val path = write("table_name,to_be_loaded,watermark_column\norders,yes,order_id\n")
    val e = intercept[IllegalArgumentException](Catalog.load(spark, path))
    assert(e.getMessage.contains("watermark_type"), e.getMessage)
    // Spark's scan refuses too, on the same column.
    val se = intercept[org.apache.spark.sql.AnalysisException](viaSpark(path))
    assert(se.getMessage.contains("watermark_type"))
  }

  test("a directory is not a catalog") {
    val dir = Files.createTempDirectory("tables_list_dir")
    val e = intercept[IllegalArgumentException](Catalog.load(spark, dir.toString))
    assert(e.getMessage.contains("not a single file"), e.getMessage)
  }
}
