package graft.operators

import graft.TestSpark
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The ledger protocol, table-driven over every space in
  * [[Ledger.spaces]] through [[LedgerSpaces.ingests]]: the commit's pin
  * and layout checks and the prior read's handling of a directory that
  * holds only Spark's commit debris. */
class LedgerProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String) =
    Files.createTempDirectory(s"ledger_$tag").resolve("ledger").toString

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Set[String] = {
    val fs = fsOf(dir)
    val it = fs.listFiles(new Path(dir), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) out += p.toString
    }
    out.result()
  }

  test("every ledger space is covered by the protocol specs") {
    assert(LedgerSpaces.ingests.keySet == Ledger.spaces.toSet)
    assert(Ledger.spaces.map(_.name).distinct.size == Ledger.spaces.size)
    val pins = Ledger.spaces.flatMap(_.pin.map(_.file))
    assert(pins.distinct.size == pins.size)
  }

  for (space <- Ledger.spaces; file <- space.pin.map(_.file)) {
    test(s"${space.name}: a batch prepared under other parameters refuses to commit " +
        "under the pin that won the race") {
      val ops = LedgerSpaces.ingests(space)
      val root = tmp("race")
      ops.setup(spark, root)
      // Both batches see an empty ledger; B commits first and pins.
      val a = ops.prepare(spark, root, 0, None)
      val b = ops.prepare(spark, root, 0, None, variant = 1)
      b.commit()
      val dir = new Path(ops.ledgerDir(root))
      val pinB = Ledger.readPin(fsOf(root), dir, file)
      val filesB = dataFiles(ops.ledgerDir(root))
      val e = intercept[IllegalStateException](a.commit())
      assert(e.getMessage.contains(space.name) && e.getMessage.contains("foreign pin"),
        e.getMessage)
      assert(Ledger.readPin(fsOf(root), dir, file) == pinB, "the winning pin changed")
      assert(dataFiles(ops.ledgerDir(root)) == filesB,
        "the refused batch wrote rows under the foreign pin")
      // The ledger keeps serving the winning parameters.
      ops.prepare(spark, root, 1, None, variant = 1).commit()
    }
  }

  for (space <- Ledger.spaces) {
    test(s"${space.name}: a directory holding only commit debris reads as an empty ledger") {
      val ops = LedgerSpaces.ingests(space)
      val clean = tmp("clean")
      ops.setup(spark, clean)
      val want = ops.prepare(spark, clean, 0, Some("epoch0"))
      val wantOut = LedgerSpaces.rowSet(want.output)
      want.commit()
      // What a crash inside the first commit leaves behind: the dynamic
      // overwrite's staging dir and the file committer's `_temporary`.
      val root = tmp("debris")
      ops.setup(spark, root)
      val fs = fsOf(root)
      Seq(".spark-staging-0f3c/_graft_epoch=epoch0/part-00000-x.snappy.parquet",
          "_temporary/0/_temporary/attempt_0/part-00000-y.snappy.parquet").foreach { f =>
        val out = fs.create(new Path(ops.ledgerDir(root), f), true)
        try out.write("torn".getBytes("UTF-8")) finally out.close()
      }
      val got = ops.prepare(spark, root, 0, Some("epoch0"))
      assert(LedgerSpaces.rowSet(got.output) == wantOut)
      got.commit()
      assert(LedgerSpaces.ledgerView(spark, space, ops.ledgerDir(root)) ==
        LedgerSpaces.ledgerView(spark, space, ops.ledgerDir(clean)))
    }
  }

  test("a plain commit into an epoch-partitioned count ledger is refused, not lost") {
    // The loss this refusal closes: epoch0 {a:2, b:1}, then a plain
    // commit of {a} appended a flat part file beside the epoch
    // partitions, and a plain read reported a=2, not 3.
    import spark.implicits._
    val ledger = tmp("layout_hh")
    def ingest(values: Seq[String], token: Option[String]) =
      SketchOps.incrementalHeavyHitters(spark, values.toDF("v"), "v", ledger,
        capacity = 16, k = 3, epochToken = token)
    def top(p: SketchOps.PendingHeavyHitters) = p.top.as[(String, Long, Long)].collect().toSet
    ingest(Seq("a", "a", "b"), Some("epoch0")).commitLedger()
    val plain = ingest(Seq("a"), None)
    assert(top(plain) == Set(("a", 3L, 0L), ("b", 1L, 0L)))
    val e = intercept[IllegalStateException](plain.commitLedger())
    assert(e.getMessage.contains("heavy-hitter ledger") &&
      e.getMessage.contains("epoch-partitioned") && e.getMessage.contains("flat"), e.getMessage)
    // Nothing was written: the ledger still holds epoch0 alone.
    assert(top(ingest(Nil, None)) == Set(("a", 2L, 0L), ("b", 1L, 0L)))
    val next = ingest(Seq("a"), Some("epoch1"))
    next.commitLedger()
    assert(top(ingest(Nil, None)) == Set(("a", 3L, 0L), ("b", 1L, 0L)))
  }

  // The PQ store has no plain mode: its ingest always takes an epoch.
  for (space <- Ledger.spaces if space != Ledger.PqCodes) {
    test(s"${space.name}: a commit in the other layout is refused and writes nothing") {
      val ops = LedgerSpaces.ingests(space)
      for ((winner, loser) <- Seq((Some("epoch0"), None), (None, Some("epoch1")))) {
        // Both batches see an empty ledger; the winner commits first.
        val root = tmp("layout")
        ops.setup(spark, root)
        val a = ops.prepare(spark, root, 0, winner)
        val b = ops.prepare(spark, root, 1, loser)
        a.commit()
        val files = dataFiles(ops.ledgerDir(root))
        val e = intercept[IllegalStateException](b.commit())
        assert(e.getMessage.contains(space.name) && e.getMessage.contains("flat") &&
          e.getMessage.contains("epoch"), e.getMessage)
        assert(dataFiles(ops.ledgerDir(root)) == files, "the refused commit wrote rows")
      }
    }
  }
}
