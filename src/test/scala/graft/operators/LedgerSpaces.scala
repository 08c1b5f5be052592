package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** One epoch ingest per ledger space, for the table-driven
  * protocol specs (pin race, debris-only directory, ingest crash sweep).
  * [[ingests]] is keyed by [[Ledger.spaces]], and every spec asserts the
  * key set equals that list — a new space cannot skip them. */
object LedgerSpaces {

  /** A prepared batch: the output the caller writes, and the stage of its
    * ledger commit, which returns the publish. */
  final case class Prepared(output: DataFrame, stage: () => () => Unit) {
    def commit(): Unit = stage()()
  }

  trait Ingest {
    /** Lay down what the space needs before its first ingest (the PQ
      * store's codebooks); `root` is the operator's directory argument. */
    def setup(spark: SparkSession, root: String): Unit = ()
    /** The directory that holds the ledger rows. */
    def ledgerDir(root: String): String = root
    /** Prepare epoch `n` (0 or 1) — epoch 1 repeats some of epoch 0, so
      * the ledger decides the output. `variant` 1 asks for other pinned
      * parameters than the default 0. */
    def prepare(spark: SparkSession, root: String, n: Int,
        token: Option[String], variant: Int = 0): Prepared
  }

  private def texts(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (if (n == 0) Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
    else Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "completely different words appear here in this one"),
      (5L, "completely different words appear here in this one"))
    ).toDF("doc_id", "text")
  }

  private val Dim = 8

  /** Unit vector along `axis`, tilted by `tilt` toward the next axis. */
  private def vec(axis: Int, tilt: Double = 0.0): Array[Float] = {
    val raw = Array.tabulate(Dim)(i =>
      if (i == axis) 1.0 else if (i == (axis + 1) % Dim) tilt else 0.0)
    val norm = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / norm).toFloat)
  }

  private def vectors(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (if (n == 0) Seq((1L, vec(0)), (2L, vec(3)))
    else Seq((3L, vec(0, 0.05)), (4L, vec(5)), (5L, vec(5, 0.05))))
      .toDF("vec_id", "embedding")
  }

  private def pending(p: Ledger.Pending) = Prepared(p.survivors, p.stageLedger _)

  // The PQ store's codebooks are fitted once; each setup copies them.
  private var pqTemplate: Option[String] = None

  private def pqVectors(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, Array.tabulate(4)(d => ((i % 6) * 4 + d).toFloat))).toDF("id", "v")
  }

  private def pqStore(spark: SparkSession): String = synchronized {
    pqTemplate.getOrElse {
      val tpl = java.nio.file.Files.createTempDirectory("ledger_pq_tpl")
        .resolve("pq").toString
      PqOps.writePqArtifacts(spark, pqVectors(spark, 0L until 4L), "v", "id",
        tpl, m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
      pqTemplate = Some(tpl)
      tpl
    }
  }

  val ingests: Map[Ledger.Space, Ingest] = Map(
    Ledger.Fingerprints -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared = {
        val p = DedupOps.incrementalDedup(spark, texts(spark, n), "text", "doc_id",
          root, epochToken = token)
        Prepared(p.survivors, p.stageLedger _)
      }
    },
    Ledger.Spans -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared = {
        val p = DedupOps.incrementalSpans(spark, texts(spark, n), "text", "doc_id",
          root, spanTokens = 3 + variant, epochToken = token)
        Prepared(p.flags, p.stageLedger _)
      }
    },
    Ledger.MinhashBands -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared =
        pending(LshOps.incrementalNeardup(spark, texts(spark, n), "text", "doc_id",
          root, shingleN = 3 + variant, epochToken = token))
    },
    Ledger.SrpBands -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared =
        pending(SrpOps.incrementalNeardup(spark, vectors(spark, n), "embedding", "vec_id",
          root, bitsPerBand = 10 + 2 * variant, epochToken = token))
    },
    Ledger.Clusters -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared =
        pending(KmeansOps.incrementalSemantic(spark, vectors(spark, n), "embedding",
          "vec_id", root, k = 1 + variant, iters = 0, minCos = 0.9, epochToken = token))
    },
    Ledger.HeavyHitters -> new Ingest {
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared = {
        import spark.implicits._
        val values = if (n == 0) Seq.fill(5)("a") ++ Seq.fill(3)("b")
          else Seq.fill(2)("a") ++ Seq.fill(4)("c")
        val p = SketchOps.incrementalHeavyHitters(spark, values.toDF("v"), "v", root,
          capacity = 16 >> variant, k = 3, epochToken = token)
        Prepared(p.top, p.stageLedger _)
      }
    },
    Ledger.PqCodes -> new Ingest {
      override def setup(spark: SparkSession, root: String): Unit = {
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new Path(pqStore(spark))
        val dst = new Path(root)
        assert(FileUtil.copy(src.getFileSystem(conf), src, dst.getFileSystem(conf), dst,
          false, conf))
      }
      override def ledgerDir(root: String): String = s"$root/codes"
      def prepare(spark: SparkSession, root: String, n: Int,
          token: Option[String], variant: Int): Prepared = {
        val p = PqOps.incrementalPqEncode(spark,
          pqVectors(spark, if (n == 0) Seq(4L, 5L) else Seq(6L, 7L)), "v", "id", root,
          token.getOrElse(s"epoch$n"))
        Prepared(p.codes, p.stageLedger _)
      }
    })

  /** A frame's rows as comparable values (arrays as lists). */
  def rowSet(df: DataFrame): Set[List[Any]] =
    df.collect().map(_.toSeq.toList.map {
      case a: scala.collection.Seq[_] => a.toList
      case r: Row => r.toSeq.toList
      case x => x
    }).toSet

  /** What a ledger holds, epochs aside: the row set of a membership
    * space, the per-key sums of a count space. */
  def ledgerView(spark: SparkSession, space: Ledger.Space, dir: String): Set[List[Any]] = {
    val rows = spark.read.parquet(dir).drop("_graft_epoch")
    if (!space.countsSummed) rowSet(rows.distinct())
    else {
      val keys = rows.columns.filter(_ != "_graft_n").map(col).toIndexedSeq
      rowSet(rows.groupBy(keys: _*).agg(sum(col("_graft_n"))))
    }
  }
}
