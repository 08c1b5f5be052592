package graft.operators

import graft.TestSpark
import graft.functions.TextFunctions.minhashBandHashes
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, posexplode}
import org.scalatest.funsuite.AnyFunSuite

/** [[LshOps.incrementalNeardup]]'s single verdict frame against the
  * formulation it replaced, kept here as the reference: a ledger-hit set,
  * a keep-min-id purge list over the non-hit bands and the survivor
  * buckets, each pinned by its own `localCheckpoint`. Every fixture runs
  * both on copies of the same ledger and compares the survivors, the
  * ledger hits and the committed ledger rows. */
class LshIncrParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  final case class Params(
      k: Int = 16, shingleN: Int = 3, nBands: Int = 4, rowsPerBand: Int = 4,
      maxBucket: Int = 10000)

  private def reference(batch: DataFrame, dir: String, p: Params,
      token: Option[String]): Ledger.Pending = {
    val banded = LshOps.bandedMinhash(batch, "text", "doc_id", p.k, p.shingleN, p.nBands,
      p.rowsPerBand, p.maxBucket)
    val params = s"k=${p.k},shingleN=${p.shingleN},nBands=${p.nBands},rowsPerBand=${p.rowsPerBand}"
    val prior = Ledger.prior(spark, dir, Ledger.MinhashBands, params, token)
    val hits = (prior match {
      case Some(l) =>
        banded.bands.join(
          l.select(col("_graft_b").as("b"), col("_graft_bh").as("bh")).distinct(),
          Seq("b", "bh"), "left_semi")
          .select(col("doc_id")).distinct()
      case None => banded.bands.select(col("doc_id")).filter(lit(false))
    }).localCheckpoint(true)
    val keptBands = banded.bands.join(hits, Seq("doc_id"), "left_anti")
    val batchDrops = LshOps.purgeList(keptBands, "doc_id").localCheckpoint(true)
      .withColumnRenamed("drop_id", "doc_id")
    val survivors = batch
      .join(hits, Seq("doc_id"), "left_anti")
      .join(batchDrops, Seq("doc_id"), "left_anti")
    val survivorBuckets = keptBands
      .join(batchDrops, Seq("doc_id"), "left_anti")
      .select(col("b").as("_graft_b"), col("bh").as("_graft_bh")).distinct()
      .localCheckpoint(true)
    banded.unpersist()
    new Ledger.Pending(survivors, hits,
      () => Ledger.stage(survivorBuckets, dir, Ledger.MinhashBands, params, token))
  }

  private def tmp() = Files.createTempDirectory("lsh_parity").resolve("bands").toString

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  /** A binary id renders as hex, so equal contents compare equal. */
  private def show(v: Any): Any = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case other => other
  }

  private def rows(df: DataFrame): List[String] =
    df.collect().map(_.toSeq.map(show).mkString("[", ",", "]")).toList.sorted

  private def ledgerRows(dir: String): List[String] =
    if (!new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(dir)))
      Nil
    else rows(spark.read.parquet(dir))

  /** Runs `batch` through both ingests on copies of the ledger `setup`
    * lays down; asserts equal outputs and committed rows; returns the
    * survivor ids and the hit ids. */
  private def parity(setup: (String, Params) => Unit, batch: DataFrame, p: Params = Params(),
      token: Option[String] = None): (Set[Any], Set[Any]) = {
    val (refDir, newDir) = (tmp(), tmp())
    setup(refDir, p)
    setup(newDir, p)
    val ref = reference(batch, refDir, p, token)
    val got = LshOps.incrementalNeardup(spark, batch, "text", "doc_id", newDir,
      p.k, p.shingleN, p.nBands, p.rowsPerBand, p.maxBucket, token)
    assert(rows(got.survivors) == rows(ref.survivors), "survivors differ")
    assert(rows(got.ledgerHits) == rows(ref.ledgerHits), "ledger hits differ")
    ref.commitLedger()
    got.commitLedger()
    assert(ledgerRows(newDir) == ledgerRows(refDir), "committed ledger rows differ")
    def ids(df: DataFrame) = df.select("doc_id").collect().map(r => show(r.get(0))).toSet
    (ids(got.survivors), ids(got.ledgerHits))
  }

  private def ledgerOf(corpus: DataFrame, token: Option[String] = None)(dir: String,
      p: Params): Unit =
    LshOps.incrementalNeardup(spark, corpus, "text", "doc_id", dir,
      p.k, p.shingleN, p.nBands, p.rowsPerBand, p.maxBucket, token).commitLedger()

  private val noLedger: (String, Params) => Unit = (_, _) => ()

  private val alpha = "alpha beta gamma delta epsilon zeta eta theta"
  private val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit"
  private val fresh = "completely different words appear here in this one"

  /** Each text's (band, bucket) set, banded with the default parameters. */
  private def bandSets(texts: Seq[String]): IndexedSeq[Set[(Int, Long)]] = {
    val p = Params()
    val rows = texts.zipWithIndex.toDF("text", "j")
      .select($"j", posexplode(minhashBandHashes($"text", p.k, p.shingleN, p.nBands,
        p.rowsPerBand)))
      .as[(Int, Int, Long)].collect().groupBy(_._1)
    texts.indices.map(j => rows.getOrElse(j, Array.empty).map(r => (r._2, r._3)).toSet)
  }

  test("ledger hits drop, fresh docs and in-batch keep-min-id survive") {
    val (kept, hits) = parity(ledgerOf(docs((1L, alpha), (2L, lorem))),
      docs((11L, alpha), (13L, fresh), (15L, fresh), (17L, lorem)))
    assert(kept == Set(13L) && hits == Set(11L, 17L))
  }

  test("an in-batch chain a~b~c whose head a is a ledger hit") {
    // Texts are 12-word windows of one seeded word stream at stride 2:
    // neighbours share 10 words and often a bucket, texts further apart
    // rarely. The first four consecutive windows where L~a, a~b and b~c
    // collide and no other pair does are the fixture; b is then no
    // ledger hit and c no neighbour of a.
    val rnd = new scala.util.Random(7)
    val words = IndexedSeq.fill(600)(s"w${rnd.nextInt(5000)}")
    val texts = (0 until 290).map(j => words.slice(2 * j, 2 * j + 12).mkString(" "))
    val bands = bandSets(texts)
    def meet(i: Int, j: Int) = (bands(i) & bands(j)).nonEmpty
    val j = (0 until 287).find { j =>
      (0 until 3).forall(i => meet(j + i, j + i + 1)) &&
        !meet(j, j + 2) && !meet(j, j + 3) && !meet(j + 1, j + 3)
    }.getOrElse(fail("no chain-shaped window in the seeded word stream"))
    val (kept, hits) = parity(ledgerOf(docs((9L, texts(j)))),
      docs((1L, texts(j + 1)), (2L, texts(j + 2)), (3L, texts(j + 3))))
    // The hit a drops no batch doc: b survives and drops c.
    assert(hits == Set(1L) && kept == Set(2L))
  }

  test("buckets over maxBucket take part in nothing") {
    val p = Params(maxBucket = 2)
    val (kept, hits) = parity(ledgerOf(docs((1L, alpha))),
      docs((10L, alpha), (11L, alpha), (12L, alpha), (20L, lorem), (21L, lorem), (30L, fresh)),
      p)
    // alpha's buckets hold 3 batch rows: over the cap, so no hit and no drop.
    assert(hits.isEmpty && kept == Set(10L, 11L, 12L, 20L, 30L))
  }

  test("a bucket at the cap settles, one over the cap with a ledger row does not") {
    val p = Params(maxBucket = 2)
    val (kept, hits) = parity(ledgerOf(docs((1L, alpha), (2L, lorem))),
      docs((10L, alpha), (11L, alpha), (12L, alpha), (20L, lorem), (21L, lorem),
        (30L, fresh), (31L, fresh)),
      p)
    // alpha's buckets hold 3 batch rows beside their ledger row: over the
    // cap, so no hit. lorem's and fresh's hold exactly 2: both lorem rows
    // are hits, and 30 drops 31.
    assert(hits == Set(20L, 21L) && kept == Set(10L, 11L, 12L, 30L))
  }

  test("a bucket holding ledger rows of two epochs and several batch rows, null ids among them") {
    val ledgered = bandSets(Seq(alpha)).head.toSeq
    val twice: (String, Params) => Unit = (dir, p) => {
      val params = s"k=${p.k},shingleN=${p.shingleN},nBands=${p.nBands},rowsPerBand=${p.rowsPerBand}"
      for (t <- Seq("epoch0", "epoch1"))
        Ledger.stage(ledgered.toDF("_graft_b", "_graft_bh"), dir, Ledger.MinhashBands, params,
          Some(t))()
    }
    val batch = Seq[(Option[Long], String)]((None, alpha), (Some(5L), alpha), (Some(3L), alpha),
      (None, alpha), (Some(8L), lorem), (None, lorem), (Some(9L), lorem), (Some(4L), fresh))
      .toDF("doc_id", "text")
    val (kept, hits) = parity(twice, batch, token = Some("epoch2"))
    // Every alpha row is a hit; the null ones stay in the batch. In
    // lorem's buckets the null id neither drops nor is dropped: 8 drops 9.
    assert(hits == Set(3L, 5L, null) && kept == Set(null, 8L, 4L))
  }

  test("a verdict spread over several partitions") {
    // Without coalescing, the verdict's exchange keeps one partition per
    // shuffle partition, so rows of different partitions share no row id.
    val rnd = new scala.util.Random(11)
    val words = IndexedSeq.fill(2000)(s"w${rnd.nextInt(3000)}")
    val texts = (0 until 160).map(j => words.slice(12 * j, 12 * j + 12).mkString(" "))
    val corpus = (0 until 40).map(j => (j.toLong, texts(j))).toDF("doc_id", "text")
    // Every 4th batch doc repeats a ledgered text, every 5th the doc before it.
    val batch = (0 until 120).map { j =>
      (1000L + j, if (j % 4 == 0) texts(j % 40) else if (j % 5 == 4) texts(40 + j - 1)
        else texts(40 + j))
    }.toDF("doc_id", "text")
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try {
      var newDir = ""
      val (kept, hits) = parity((dir, p) => { newDir = dir; ledgerOf(corpus, Some("epoch0"))(dir, p) },
        batch, token = Some("epoch1"))
      assert(hits == (0 until 120 by 4).map(1000L + _).toSet[Any])
      assert(kept.size == 120 - 30 - (0 until 120).count(j => j % 5 == 4 && j % 4 != 0 &&
        (j - 1) % 4 != 0))
      val fs = new Path(newDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leaf = fs.listStatus(new Path(newDir, "_graft_epoch=epoch1"))
        .count(_.getPath.getName.startsWith("part-"))
      assert(leaf >= 2, s"the epoch's ledger rows came from $leaf partition(s)")
    } finally spark.conf.set(conf, was)
  }

  test("sub-shingleN docs have no bands and survive") {
    val (kept, hits) = parity(ledgerOf(docs((1L, "x1"), (2L, alpha))),
      docs((5L, "x1"), (6L, "two words"), (7L, ""), (8L, alpha)))
    assert(hits == Set(8L) && kept == Set(5L, 6L, 7L))
  }

  test("duplicate ids and null ids") {
    val batch = Seq[(Option[Long], String)]((Some(5L), lorem), (Some(5L), fresh),
      (Some(6L), fresh), (Some(7L), alpha), (Some(7L), "unrelated prose about cats"),
      (None, lorem), (None, alpha), (None, "more unrelated prose about dogs"))
      .toDF("doc_id", "text")
    val (kept, hits) = parity(ledgerOf(docs((1L, alpha))), batch)
    // A null id is a hit (alpha) but cannot be anti-joined out of the
    // batch; it neither drops nor is dropped in the batch purge.
    assert(hits == Set(7L, null) && kept == Set(5L, null))
  }

  test("an empty ledger and a debris-only ledger") {
    val batch = docs((1L, alpha), (2L, alpha), (3L, lorem))
    val (kept, hits) = parity(noLedger, batch)
    assert(kept == Set(1L, 3L) && hits.isEmpty)
    val debris: (String, Params) => Unit = (dir, _) => {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(".spark-staging-0f3c/_graft_epoch=epoch0/part-00000-x.snappy.parquet",
          "_temporary/0/_temporary/attempt_0/part-00000-y.snappy.parquet").foreach { f =>
        val out = fs.create(new Path(dir, f), true)
        try out.write("torn".getBytes("UTF-8")) finally out.close()
      }
    }
    assert(parity(debris, batch, token = Some("epoch0")) == (kept, hits))
  }

  test("an epoch replay with the same token reproduces the epoch") {
    val epoch1 = docs((11L, alpha), (12L, fresh), (13L, fresh))
    val committed: (String, Params) => Unit = (dir, p) => {
      ledgerOf(docs((1L, alpha), (2L, lorem)), Some("epoch0"))(dir, p)
      ledgerOf(epoch1, Some("epoch1"))(dir, p)
    }
    val (kept, hits) = parity(committed, epoch1, token = Some("epoch1"))
    assert(kept == Set(12L) && hits == Set(11L))
  }

  test("string ids") {
    val (kept, hits) = parity(ledgerOf(Seq(("a1", alpha), ("a2", lorem)).toDF("doc_id", "text")),
      Seq(("b11", alpha), ("b13", fresh), ("b15", fresh), ("b17", lorem), (null, fresh))
        .toDF("doc_id", "text"))
    assert(kept == Set("b13", null) && hits == Set("b11", "b17"))
  }

  test("double ids: -0.0 equals 0.0 and NaNs equal each other") {
    val near = "seven words of prose that are near duplicates"
    val (kept, hits) = parity(ledgerOf(Seq((1.0, alpha), (2.0, lorem)).toDF("doc_id", "text")),
      Seq((0.0, alpha), (-0.0, fresh), (7.0, fresh), (5.0, lorem), (3.0, near),
        (Double.NaN, near), (Double.NaN, "unrelated prose about cats")).toDF("doc_id", "text"))
    // -0.0 is the hit 0.0, so 7.0 keeps the fresh text; both NaN rows are
    // one id, dropped by 3.0.
    assert(kept.map(_.toString) == Set("3.0", "7.0") && hits.map(_.toString) == Set("0.0", "5.0"))
  }

  test("binary ids compare by content") {
    def b(s: String) = s.getBytes("UTF-8")
    val (kept, hits) = parity(ledgerOf(Seq((b("L1"), alpha), (b("L2"), lorem)).toDF("doc_id", "text")),
      Seq((b("B11"), alpha), (b("B13"), fresh), (b("B15"), fresh), (b("B15"), "unrelated prose"),
        (b("B17"), lorem), (b("B19"), "more unrelated prose about dogs")).toDF("doc_id", "text"))
    assert(kept == Set(show(b("B13")), show(b("B19"))) &&
      hits == Set(show(b("B11")), show(b("B17"))))
  }

  test("int ids") {
    val (kept, hits) = parity(ledgerOf(Seq((1, alpha), (2, lorem)).toDF("doc_id", "text")),
      Seq[(Option[Int], String)]((Some(11), alpha), (Some(13), fresh), (Some(15), fresh),
        (Some(17), lorem), (None, alpha)).toDF("doc_id", "text"))
    assert(kept == Set(13, null) && hits == Set(11, 17, null))
  }

  test("date ids") {
    def d(day: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))
    val (kept, hits) = parity(ledgerOf(Seq((d(1), alpha), (d(2), lorem)).toDF("doc_id", "text")),
      Seq((d(11), alpha), (d(13), fresh), (d(15), fresh), (d(17), lorem)).toDF("doc_id", "text"))
    assert(kept == Set(d(13)) && hits == Set(d(11), d(17)))
  }
}
