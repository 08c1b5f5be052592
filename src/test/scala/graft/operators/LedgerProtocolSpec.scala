package graft.operators

import graft.TestSpark
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The ledger protocol, table-driven over every space in
  * [[Ledger.spaces]] through [[LedgerSpaces.ingests]]: the commit's pin
  * check and the prior read's handling of a directory that holds only
  * Spark's commit debris. */
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
}
