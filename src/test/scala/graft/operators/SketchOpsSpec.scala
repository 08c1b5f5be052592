package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E136 Misra–Gries heavy hitters: exact when capacity exceeds the true
  * distinct count (q153's oracle regime), and in the lossy regime the
  * classic guarantees hold against exact counts — undercount only,
  * bounded by the REPORTED error mass (itself ≤ n/(capacity+1)), every
  * sufficiently-frequent value present — under any partitioning (the
  * mergeable-summaries property the map-side partial aggregation
  * relies on). */
class SketchOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic zipf-ish stream: value v_k appears ~n/k times. */
  private def skewed(nDistinct: Int, base: Int): Seq[String] =
    (1 to nDistinct).flatMap(k => Seq.fill(base / k)(f"v$k%03d"))

  test("capacity above the distinct count: exact counts, zero error mass") {
    val data = skewed(nDistinct = 20, base = 600)
    val truth = data.groupBy(identity).map { case (v, xs) => (v, xs.size.toLong) }
    val got = SketchOps
      .heavyHitters(data.toDF("v").repartition(7), "v", capacity = 32, k = 20)
      .as[(String, Long, Long)].collect()
    assert(got.forall(_._3 == 0L), "no decrement may fire below capacity")
    assert(got.map(r => r._1 -> r._2).toMap == truth)
    // Ranked (est desc, value asc).
    assert(got.sortBy(r => (-r._2, r._1)).toSeq == got.toSeq)
  }

  test("lossy regime: undercount-only within the reported mass; heavy values present") {
    val data = skewed(nDistinct = 120, base = 2400)
    val n = data.size.toLong
    val truth = data.groupBy(identity)
      .map { case (v, xs) => (v, xs.size.toLong) }
    val capacity = 8
    for (parts <- Seq(1, 13)) {
      val got = SketchOps
        .heavyHitters(data.toDF("v").repartition(parts), "v",
          capacity = capacity, k = capacity)
        .as[(String, Long, Long)].collect()
      assert(got.nonEmpty)
      val errMax = got.head._3
      assert(got.forall(_._3 == errMax), "one sketch, one error mass")
      // Mergeable-summaries bound: total decrement mass ≤ n/(capacity+1).
      assert(errMax <= n / (capacity + 1),
        s"error mass $errMax exceeds n/(capacity+1) = ${n / (capacity + 1)} @ $parts parts")
      // Undercount only, within the reported mass.
      got.foreach { case (v, est, _) =>
        val t = truth(v)
        assert(est <= t, s"$v overcounted: est $est > true $t @ $parts parts")
        assert(t <= est + errMax,
          s"$v undercounted past the bound: true $t > $est + $errMax @ $parts parts")
      }
      // Guarantee: any value more frequent than the error mass survives.
      val kept = got.map(_._1).toSet
      truth.foreach { case (v, t) =>
        if (t > errMax) assert(kept.contains(v),
          s"heavy value $v (true $t > err $errMax) missing @ $parts parts")
      }
    }
  }

  test("the aggregation is partial: shuffle carries sketches, not values") {
    // AQE's plan wrapper hides children from collect — the gate reads
    // the static plan (same discipline as the other plan gates).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      val df = (1 to 5000).map(i => s"v${i % 50}").toDF("v").repartition(8)
      df.agg(SketchOps.misraGries(16)(col("v"))).queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.size >= 2,
      s"expected partial + final aggregation (map-side sketches), got:\n$plan")
  }

  test("null values are ignored, not counted and never a buffer key") {
    val got = SketchOps.heavyHitters(
      Seq(Some("a"), None, Some("a"), None, Some("b")).toDF("v"),
      "v", capacity = 4, k = 4)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 0L), ("b", 1L, 0L)),
      "nulls must neither crash the buffer encoder nor appear as a value")
  }

  test("capacity must be positive") {
    intercept[IllegalArgumentException](SketchOps.MisraGries(0))
    intercept[IllegalArgumentException](
      SketchOps.heavyHitters(Seq("a").toDF("v"), "v", capacity = 4, k = 0))
  }

  test("incremental ledger: exact batches sum to whole-corpus counts; replay is exactly-once") {
    val ledger = java.nio.file.Files
      .createTempDirectory("hh_ledger").resolve("hh").toString
    def batch(xs: (String, Int)*) =
      xs.flatMap { case (v, n) => Seq.fill(n)(v) }.toDF("v")
    // Batch 1 committed; batch 2 read against it.
    SketchOps.incrementalHeavyHitters(spark, batch("a" -> 30, "b" -> 20),
      "v", ledger, capacity = 16, k = 3, epochToken = Some("epoch0"))
      .commitLedger()
    val p2 = SketchOps.incrementalHeavyHitters(spark,
      batch("a" -> 5, "c" -> 25), "v", ledger,
      capacity = 16, k = 3, epochToken = Some("epoch1"))
    val want = Set(("a", 35L, 0L), ("c", 25L, 0L), ("b", 20L, 0L))
    assert(p2.top.as[(String, Long, Long)].collect().toSet == want)
    p2.commitLedger()
    // At-least-once replay: same epoch token, identical totals (the
    // read excludes the batch's own partition).
    val replay = SketchOps.incrementalHeavyHitters(spark,
      batch("a" -> 5, "c" -> 25), "v", ledger,
      capacity = 16, k = 3, epochToken = Some("epoch1"))
    assert(replay.top.as[(String, Long, Long)].collect().toSet == want)
    replay.commitLedger()
    // Capacity drift refuses loudly — err_max would change meaning.
    val e = intercept[IllegalStateException](
      SketchOps.incrementalHeavyHitters(spark, batch("a" -> 1),
        "v", ledger, capacity = 8, k = 3))
    assert(e.getMessage.contains("capacity=16"))
  }

  test("incremental ledger pin: written before data, refuse data without it") {
    def batch(xs: (String, Int)*) =
      xs.flatMap { case (v, n) => Seq.fill(n)(v) }.toDF("v")
    // A lost/deleted pin over committed batches must refuse reads — the
    // old read path skipped validation when the pin was missing, so a
    // crash there let a different-capacity ingest silently change what
    // err_max means.
    val ledger = java.nio.file.Files
      .createTempDirectory("hh_pin").resolve("hh").toString
    SketchOps.incrementalHeavyHitters(spark, batch("a" -> 9), "v", ledger,
      capacity = 16, k = 3, epochToken = Some("epoch0")).commitLedger()
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ledger, "_graft_hh_construction"), false)
    val e = intercept[IllegalStateException](
      SketchOps.incrementalHeavyHitters(spark, batch("b" -> 1), "v", ledger,
        capacity = 16, k = 3, epochToken = Some("epoch1")))
    assert(e.getMessage.contains("construction pin"), e.getMessage)
    // Pinned-but-empty (the crash-between-pin-and-data state) is
    // harmless: the next ingest validates against the pin and proceeds.
    val ledger2 = java.nio.file.Files
      .createTempDirectory("hh_pin2").resolve("hh").toString
    val fs2 = new org.apache.hadoop.fs.Path(ledger2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outS = fs2.create(
      new org.apache.hadoop.fs.Path(ledger2, "_graft_hh_construction"), true)
    try outS.write("capacity=16".getBytes("UTF-8")) finally outS.close()
    val p = SketchOps.incrementalHeavyHitters(spark, batch("a" -> 3), "v",
      ledger2, capacity = 16, k = 3, epochToken = Some("epoch0"))
    assert(p.top.as[(String, Long, Long)].collect().toSet == Set(("a", 3L, 0L)))
    // And a mismatched-capacity ingest against that pre-pin refuses.
    val e2 = intercept[IllegalStateException](
      SketchOps.incrementalHeavyHitters(spark, batch("a" -> 1), "v", ledger2,
        capacity = 4, k = 3))
    assert(e2.getMessage.contains("capacity=16"), e2.getMessage)
  }

  test("incremental ledger: lossy batches keep the additive bound; folding preserves it") {
    val ledger = java.nio.file.Files
      .createTempDirectory("hh_fold").resolve("hh").toString
    // Two skewed batches sketched at capacity 4 over 30 distinct values
    // — decrements fire in both.
    val b1 = skewed(nDistinct = 30, base = 300)
    val b2 = skewed(nDistinct = 30, base = 270).map(_.toUpperCase) ++
      skewed(nDistinct = 6, base = 120)
    SketchOps.incrementalHeavyHitters(spark, b1.toDF("v"), "v", ledger,
      capacity = 4, k = 6, epochToken = Some("epoch0")).commitLedger()
    val p2 = SketchOps.incrementalHeavyHitters(spark, b2.toDF("v"), "v", ledger,
      capacity = 4, k = 6, epochToken = Some("epoch1"))
    val truth = (b1 ++ b2).groupBy(identity)
      .map { case (v, xs) => (v, xs.size.toLong) }
    def checkBound(rows: Array[(String, Long, Long)]): Unit = {
      assert(rows.nonEmpty)
      val errMax = rows.head._3
      assert(errMax > 0L, "this regime must actually decrement")
      rows.foreach { case (v, est, _) =>
        assert(est <= truth(v), s"$v overcounted")
        assert(truth(v) <= est + errMax, s"$v undercounted past the bound")
      }
    }
    checkBound(p2.top.as[(String, Long, Long)].collect())
    p2.commitLedger()
    // foldEpochs' count-merging fold: the null-keyed error rows SUM
    // (value is the grouping key), so the post-fold read reproduces the
    // same totals and the same error mass from a row count bounded by
    // distinct values, not drains.
    val before = SketchOps.incrementalHeavyHitters(spark,
      Seq.empty[String].toDF("v"), "v", ledger, capacity = 4, k = 6)
      .top.as[(String, Long, Long)].collect().toSet
    val r = MaintenanceOps.foldEpochs(spark, ledger, Ledger.HeavyHitters, upToBatchId = 1L)
    assert(r.rows > 0L)
    val after = SketchOps.incrementalHeavyHitters(spark,
      Seq.empty[String].toDF("v"), "v", ledger, capacity = 4, k = 6)
      .top.as[(String, Long, Long)].collect().toSet
    assert(after == before, "folding must not change totals or the error mass")
  }
}
