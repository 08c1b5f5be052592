package graft.operators

import graft.TestSpark
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point SWEEPS over the erase/fold maintenance protocol (round
  * 17). The family's hand-staged crash specs each pin ONE known window
  * (the mid-swap bak, the fold-after-crashed-erase chain, the pin gap);
  * every one of those windows was found by reading the code after the
  * fact. These sweeps enumerate the windows mechanically instead:
  * [[CrashFs]] injects a failure at the Nth driver-side rename / delete
  * / create for N = 1, 2, … past the op's full mutation sequence, and
  * after EVERY injection the documented recovery (re-enter the op; for
  * the composition sweep, let the unattended fold run first) must land
  * the ledger in exactly the no-crash final state. A future edit that
  * introduces a non-convergent boundary fails the sweep here, not a
  * round-N postmortem.
  *
  * Invariants are SET-valued where the protocol documents set
  * semantics (membership ledgers tolerate duplicate rows in base — hit
  * reads are semi-join/distinct; the count-ledger double-merge gap is
  * covered by its own marker spec in MaintenanceOpsSpec). */
class CrashSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsFor(dir: String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crash.impl", classOf[CrashFs].getName)
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** A lane of every mutation: for an op whose driver mutations are
    * sequential, the Nth mutation is the same boundary in every run. */
  private val everything: (String, String) => Boolean = (_, _) => true

  /** The lane of the mutations under `dir + suffix`. */
  private def under(suffix: String)(dir: String, path: String): Boolean = {
    val root = new Path(dir + suffix).toUri.getPath
    path == root || path.startsWith(root + "/")
  }

  /** First a run that records `op`'s driver mutations on a fresh fixture
    * without a crash; then, for each lane (a predicate on the ledger
    * dir and the mutated path; every recorded mutation must be in exactly
    * one) and each of its N recorded mutations: fresh fixture, inject a
    * crash at that lane's mutation N, which must fire, run `recover`,
    * assert `invariant`. Every run, the recording one too, is recovered
    * and checked. Returns how many boundaries were swept — the recorded
    * mutations, each crashed once. */
  private def sweep(tag: String, cap: Int, lanes: Seq[(String, String) => Boolean] = Seq(everything))(
      fixture: String => Unit)(
      op: String => Unit)(recover: String => Unit)(
      invariant: (String, Int, Boolean) => Unit): Int = {
    def fresh(): String = {
      val root = Files.createTempDirectory(s"crash_sweep_$tag")
      val dir = s"crash://$root/ledger"
      fsFor(dir) // registers the scheme before any crash:// I/O
      fixture(dir)
      dir
    }
    val clean = fresh()
    CrashFs.record()
    try op(clean) finally CrashFs.disarm()
    val recorded = CrashFs.mutations
    recover(clean)
    invariant(clean, 0, false)
    val perLane = lanes.map(lane => recorded.count(m => lane(clean, m.path)))
    recorded.foreach { m =>
      assert(lanes.count(_(clean, m.path)) == 1,
        s"[$tag] not in exactly one lane: $m\n${recorded.mkString("\n")}")
    }
    for ((lane, count) <- lanes.zip(perLane)) {
      assert(count <= cap, s"[$tag] a lane holds $count boundaries, over the cap of $cap")
      for (n <- 1 to count) {
        val dir = fresh()
        CrashFs.arm(n, lane(dir, _))
        val threw =
          try { op(dir); false }
          catch { case _: Throwable => true }
        val fired = CrashFs.disarm() <= 0
        assert(fired, s"[$tag] crash point $n of a lane with $count recorded boundaries " +
          s"never came: the op's mutations vary from run to run\n${recorded.mkString("\n")}")
        recover(dir)
        invariant(dir, n, threw || fired)
      }
    }
    perLane.sum
  }

  private def keySet(dir: String): Set[String] =
    spark.read.parquet(dir).select(col("k")).as[String].collect().toSet

  private def noEraseDebris(dir: String): Unit = {
    val fs = fsFor(dir)
    val p = new Path(dir)
    val here =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSeq else Nil
    val beside =
      fs.listStatus(p.getParent).map(_.getPath.getName).toSeq
    val debris = (here ++ beside).filter(_.contains("_erase_"))
    assert(debris.isEmpty, s"erase debris left behind: ${debris.mkString(", ")}")
  }

  test("ledgerDelete (flat, pinned) converges from every crash boundary") {
    val pinBytes = "k=16,shingleN=3,nBands=4,rowsPerBand=4"
    val boundaries = sweep("flat", cap = 120) { dir =>
      Seq("kill1", "kill2", "keep1", "keep2", "keep3").toDF("k")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
      val fs = fsFor(dir)
      val out = fs.create(new Path(dir, "_graft_lsh_meta"), true)
      try out.write(pinBytes.getBytes("UTF-8")) finally out.close()
    } { dir =>
      MaintenanceOps.ledgerDelete(spark, dir, "k",
        Seq("kill1", "kill2").toDF("k"), s"$dir-audit")
    } { dir =>
      MaintenanceOps.ledgerDelete(spark, dir, "k",
        Seq("kill1", "kill2").toDF("k"), s"$dir-audit2")
    } { (dir, n, crashed) =>
      assert(keySet(dir) == Set("keep1", "keep2", "keep3"),
        s"crash point $n (crashed=$crashed): wrong survivors")
      val fs = fsFor(dir)
      val pin = new Path(dir, "_graft_lsh_meta")
      assert(fs.exists(pin), s"crash point $n: construction pin lost")
      val in = fs.open(pin)
      val got =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(got == pinBytes, s"crash point $n: pin content drifted")
      noEraseDebris(dir)
    }
    info(s"flat ledgerDelete: $boundaries crash boundaries, all convergent")
  }

  test("ledgerDelete crash -> unattended fold -> re-enter converges at every boundary") {
    // The round-17 lead-fix chain, swept: the erase crashes at ANY
    // point, the unattended compliance loop's fold runs next, then the
    // erase re-enters. No boundary may lose a committed epoch's
    // survivors or leave a kill behind.
    val boundaries = sweep("fold_compose", cap = 160) { dir =>
      Seq(("a", "base"), ("kill", "epoch0"), ("b", "epoch0"),
        ("kill", "epoch1"), ("c", "epoch1"), ("d", "epoch2"))
        .toDF("k", "_graft_epoch")
        .write.partitionBy("_graft_epoch").mode(SaveMode.Overwrite).parquet(dir)
    } { dir =>
      MaintenanceOps.ledgerDelete(spark, dir, "k",
        Seq("kill").toDF("k"), s"$dir-audit")
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.MinhashBands, upToBatchId = 9L)
      MaintenanceOps.ledgerDelete(spark, dir, "k",
        Seq("kill").toDF("k"), s"$dir-audit2")
    } { (dir, n, crashed) =>
      assert(keySet(dir) == Set("a", "b", "c", "d"),
        s"crash point $n (crashed=$crashed): committed rows lost or kill kept")
      val fs = fsFor(dir)
      assert(MaintenanceOps.foldedThrough(fs, new Path(dir)) == 2L,
        s"crash point $n: fold marker wrong")
      noEraseDebris(dir)
    }
    info(s"erase-crash x fold composition: $boundaries boundaries, all convergent")
  }

  test("targetedDelete converges from every crash boundary (self-healing re-entry)") {
    // Round 17: targetedDelete was the one swap in the family whose
    // crash recovery was MANUAL ("recover by renaming it back") — now
    // it runs the shared recovery at entry and its `_delete_*`
    // artifacts joined the sweep. Every boundary of delete → re-enter
    // must land exactly the survivor set, with the corpus directory
    // present and no swap debris.
    val boundaries = sweep("tdelete", cap = 120) { dir =>
      Seq((1L, "kill1"), (2L, "keep1"), (3L, "kill2"), (4L, "keep2"))
        .toDF("id", "payload")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    } { dir =>
      MaintenanceOps.targetedDelete(spark, dir, "id", Seq(1L, 3L), s"$dir-audit")
    } { dir =>
      MaintenanceOps.targetedDelete(spark, dir, "id", Seq(1L, 3L), s"$dir-audit2")
    } { (dir, n, crashed) =>
      val left = spark.read.parquet(dir)
        .select(col("id"), col("payload")).as[(Long, String)].collect().toSet
      assert(left == Set((2L, "keep1"), (4L, "keep2")),
        s"crash point $n (crashed=$crashed): wrong survivors: $left")
      val fs = fsFor(dir)
      val debris = fs.listStatus(new Path(dir).getParent)
        .map(_.getPath.getName).filter(_.contains("_delete_"))
      assert(debris.isEmpty,
        s"crash point $n: swap debris left: ${debris.mkString(", ")}")
    }
    info(s"targetedDelete: $boundaries crash boundaries, all convergent")
  }

  test("compactLedger crash -> unattended fold -> re-enter converges at every boundary") {
    // Round 17 widened the recovery sweep to the compaction family's
    // `_compact_bak`/`_compact_tmp`: before that, a leaf hidden by a
    // crashed compaction swap was restorable only BY HAND, and a fold
    // running next could advance its marker past the compact-hidden
    // epoch — the same phantom-loss class as the erase chain. Fixture
    // is a part-folded ledger (base carries its in-leaf fold marker,
    // one live epoch of two part files, so the compaction rewrites it)
    // with a root construction pin; every boundary of compact → fold →
    // compact must keep the rows, the pin, AND the horizon.
    val tpl = Files.createTempDirectory("crash_sweep_compact_tpl")
      .resolve("ledger").toString
    Seq(("a", "base"), ("b", "epoch0"), ("c", "epoch1"))
      .toDF("k", "_graft_epoch")
      .write.partitionBy("_graft_epoch").mode(SaveMode.Overwrite).parquet(tpl)
    Seq(("d", "epoch1")).toDF("k", "_graft_epoch")
      .write.partitionBy("_graft_epoch").mode(SaveMode.Append).parquet(tpl)
    MaintenanceOps.foldEpochs(spark, tpl, Ledger.MinhashBands, upToBatchId = 0L)
    val tplFs = new Path(tpl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = tplFs.create(new Path(tpl, "_graft_lsh_meta"), true)
    try out.write("k=16,shingleN=3,nBands=4,rowsPerBand=4".getBytes("UTF-8"))
    finally out.close()
    val conf = spark.sparkContext.hadoopConfiguration
    // Without a crash the compaction swaps a leaf in: the sweep crosses a
    // real rewrite, not only the entry recovery.
    val plain = Files.createTempDirectory("crash_sweep_compact_plain")
      .resolve("ledger").toString
    assert(org.apache.hadoop.fs.FileUtil.copy(
      tplFs, new Path(tpl), tplFs, new Path(plain), false, conf))
    val rewrite = MaintenanceOps.compactLedger(spark, plain)
    assert(rewrite.filesAfter < rewrite.filesBefore, rewrite)
    val boundaries = sweep("compact", cap = 120) { dir =>
      val dfs = fsFor(dir)
      assert(org.apache.hadoop.fs.FileUtil.copy(
        tplFs, new Path(tpl), dfs, new Path(dir), false, conf))
    } { dir =>
      MaintenanceOps.compactLedger(spark, dir)
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.MinhashBands, upToBatchId = 9L)
      MaintenanceOps.compactLedger(spark, dir)
    } { (dir, n, crashed) =>
      assert(keySet(dir) == Set("a", "b", "c", "d"),
        s"crash point $n (crashed=$crashed): rows lost through compact/fold")
      val fs = fsFor(dir)
      assert(MaintenanceOps.foldedThrough(fs, new Path(dir)) == 1L,
        s"crash point $n: fold horizon lost through the compaction swap")
      assert(fs.exists(new Path(dir, "_graft_lsh_meta")),
        s"crash point $n: construction pin lost")
      val debris = fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(nm => nm.contains("_compact_") || nm.contains("_erase_"))
      assert(debris.isEmpty,
        s"crash point $n: swap debris left: ${debris.mkString(", ")}")
    }
    info(s"compactLedger x fold: $boundaries crash boundaries, all convergent")
  }

  // PQ-store sweeps share one template store (built once on plain
  // file://, copied per crash point): base ids 0-3 + epoch0 {4} +
  // epoch1 {5}, WITH a refinement level so every sweep crosses the
  // per-namespace (codes, rcodes) loop — a crash between the two
  // namespaces' sequences is the composition the hand specs never
  // staged.
  private lazy val pqTemplate: String = {
    val tpl = Files.createTempDirectory("crash_sweep_pq_tpl")
      .resolve("pq").toString
    val vecs = (0L to 5L)
      .map(i => (i, Array.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("id", "v")
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id",
      tpl, m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    PqOps.incrementalPqEncode(spark,
      vecs.filter(col("id") === 4L), "v", "id", tpl, "epoch0").commitLedger()
    PqOps.incrementalPqEncode(spark,
      vecs.filter(col("id") === 5L), "v", "id", tpl, "epoch1").commitLedger()
    tpl
  }

  private def copyPqTemplate(dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(pqTemplate)
    val lfs = src.getFileSystem(conf)
    val dst = new Path(dir)
    val dfs = dst.getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(lfs, src, dfs, dst, false, conf))
  }

  /** The store's read view as a multiset (row -> count): a duplicated
    * code row doubles an ADC sum, so a set would hide it. */
  private def pqView(dir: String, ns: String): Map[(Long, Int, Int, Int), Int] = {
    val arts = PqOps.readPqArtifacts(spark, dir)
    val df = if (ns == "codes") arts.codes else arts.rcodes.get
    df.select(col("id"), col("sub"), col("code"), col("cell"))
      .as[(Long, Int, Int, Int)].collect().groupBy(identity).view.mapValues(_.length).toMap
  }

  test("foldPqEpochs converges from every crash boundary across BOTH namespaces") {
    val expCodes = pqView(pqTemplate, "codes")
    val expRcodes = pqView(pqTemplate, "rcodes")
    val boundaries = sweep("pq_fold", cap = 200) { dir =>
      copyPqTemplate(dir)
    } { dir =>
      PqOps.foldPqEpochs(spark, dir, upToBatchId = 1L)
    } { dir =>
      PqOps.foldPqEpochs(spark, dir, upToBatchId = 1L)
    } { (dir, n, crashed) =>
      assert(pqView(dir, "codes") == expCodes,
        s"crash point $n (crashed=$crashed): codes view broken")
      assert(pqView(dir, "rcodes") == expRcodes,
        s"crash point $n (crashed=$crashed): rcodes view broken")
      val fs = fsFor(dir)
      Seq("codes", "rcodes").foreach { ns =>
        assert(MaintenanceOps.foldedThrough(fs, new Path(dir, ns)) == 1L,
          s"crash point $n: $ns fold marker wrong after recovery")
        val epochs = fs.listStatus(new Path(dir, ns)).map(_.getPath.getName)
          .filter(nm => nm.startsWith("_graft_epoch=") &&
            nm != "_graft_epoch=base")
        assert(epochs.isEmpty,
          s"crash point $n: $ns unfolded epochs left: ${epochs.mkString(", ")}")
      }
    }
    info(s"foldPqEpochs: $boundaries crash boundaries, all convergent")
  }

  test("pqStoreDelete converges from every crash boundary across BOTH namespaces") {
    val expCodes = pqView(pqTemplate, "codes").filterNot(r => r._1._1 == 1L || r._1._1 == 4L)
    val expRcodes = pqView(pqTemplate, "rcodes").filterNot(r => r._1._1 == 1L || r._1._1 == 4L)
    val boundaries = sweep("pq_delete", cap = 200) { dir =>
      copyPqTemplate(dir)
    } { dir =>
      PqOps.pqStoreDelete(spark, dir, "id", Seq(1L, 4L), s"$dir-audit")
    } { dir =>
      PqOps.pqStoreDelete(spark, dir, "id", Seq(1L, 4L), s"$dir-audit2")
    } { (dir, n, crashed) =>
      assert(pqView(dir, "codes") == expCodes,
        s"crash point $n (crashed=$crashed): codes survivors broken")
      assert(pqView(dir, "rcodes") == expRcodes,
        s"crash point $n (crashed=$crashed): rcodes survivors broken")
      noEraseDebris(s"$dir/codes")
      noEraseDebris(s"$dir/rcodes")
    }
    info(s"pqStoreDelete: $boundaries crash boundaries, all convergent")
  }

  test("foldEpochs (count ledger) sums EXACTLY at every crash boundary") {
    // The protocol's formerly-declared "only non-convergent window left"
    // (base committed, marker not yet written → a re-run re-merges and
    // DOUBLES the count ledger's epoch contributions) is closed in round
    // 17: the marker now rides INSIDE the staged base swap, so data and
    // horizon commit in one rename. This sweep would fail at that
    // boundary under the old protocol.
    val boundaries = sweep("fold_count", cap = 120) { dir =>
      Seq(("x", 2L, "base"), ("y", 5L, "base"),
        ("x", 3L, "epoch0"), ("z", 7L, "epoch1"))
        .toDF("k", "_graft_n", "_graft_epoch")
        .write.partitionBy("_graft_epoch").mode(SaveMode.Overwrite).parquet(dir)
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.Spans, upToBatchId = 9L)
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.Spans, upToBatchId = 9L)
    } { (dir, n, crashed) =>
      val sums = spark.read.parquet(dir)
        .groupBy(col("k")).agg(org.apache.spark.sql.functions.sum(col("_graft_n")).as("n"))
        .as[(String, Long)].collect().toMap
      assert(sums == Map("x" -> 5L, "y" -> 5L, "z" -> 7L),
        s"crash point $n (crashed=$crashed): counts doubled or lost: $sums")
      val fs = fsFor(dir)
      assert(MaintenanceOps.foldedThrough(fs, new Path(dir)) == 1L,
        s"crash point $n: fold marker wrong after recovery")
    }
    info(s"count-ledger foldEpochs: $boundaries boundaries, all EXACT")
  }

  // The ingest side, one sweep per ledger space: the fixture commits
  // epoch0; the op prepares epoch1 and runs the drain body
  // (`StreamingOps.writeThenPublish`): its output through the epoch-keyed
  // idempotent sink while a second thread stages the ledger rows, then the
  // publish; the PQ store, whose drain has no sink, reads its lifetime
  // codes, then stages and publishes. The sink's directory and the
  // ledger's are two lanes, each written by one thread at a time, so every
  // boundary of each is crashed once whatever the interleaving. Recovery
  // replays epoch1 with the same token. Every boundary must land the
  // no-crash ledger (rows as a set, or per-key sums for a count space) and
  // the no-crash output.
  for (space <- Ledger.spaces) {
    test(s"${space.name} epoch ingest converges from every crash boundary") {
      assert(LedgerSpaces.ingests.keySet == Ledger.spaces.toSet)
      val ops = LedgerSpaces.ingests(space)
      val drainsToSink = space != Ledger.PqCodes
      // The output each dir's last epoch1 read, for the drain with no sink.
      val read = scala.collection.mutable.Map.empty[String, Set[List[Any]]]
      def epoch1(dir: String): Unit = {
        val p = ops.prepare(spark, dir, 1, Some("epoch1"))
        val sink = graft.pipeline.Connectors.IdempotentParquetSink(s"$dir-sink")
        if (!drainsToSink) read(dir) = LedgerSpaces.rowSet(p.output)
        graft.streaming.StreamingOps.writeThenPublish(p.output,
          if (drainsToSink) Some((sink, "out")) else None, "epoch1", p.stage)
      }
      def outRows(dir: String) =
        if (!drainsToSink) read(dir)
        else LedgerSpaces.rowSet(spark.read.parquet(s"$dir-sink/out").drop("_graft_batch"))
      // Epoch0 committed once on plain file://, copied per crash point.
      val tpl = Files.createTempDirectory("crash_sweep_ingest_tpl")
        .resolve("ledger").toString
      ops.setup(spark, tpl)
      ops.prepare(spark, tpl, 0, Some("epoch0")).commit()
      val want = Files.createTempDirectory("crash_sweep_ingest_want")
        .resolve("ledger").toString
      ops.setup(spark, want)
      ops.prepare(spark, want, 0, Some("epoch0")).commit()
      epoch1(want)
      val wantLedger = LedgerSpaces.ledgerView(spark, space, ops.ledgerDir(want))
      val wantOut = outRows(want)
      assert(wantOut.nonEmpty)
      val conf = spark.sparkContext.hadoopConfiguration
      val tplPath = new Path(tpl)
      val boundaries = sweep("ingest", cap = 80, Seq(under(""), under("-sink"))) { dir =>
        assert(org.apache.hadoop.fs.FileUtil.copy(tplPath.getFileSystem(conf), tplPath,
          fsFor(dir), new Path(dir), false, conf))
      }(epoch1)(epoch1) { (dir, n, crashed) =>
        assert(LedgerSpaces.ledgerView(spark, space, ops.ledgerDir(dir)) == wantLedger,
          s"crash point $n (crashed=$crashed): ledger differs from the no-crash run")
        assert(outRows(dir) == wantOut,
          s"crash point $n (crashed=$crashed): output differs from the no-crash run")
      }
      info(s"${space.name} ingest: $boundaries crash boundaries, all convergent")
    }
  }

  test("foldEpochs (membership ledger) converges from every crash boundary") {
    val boundaries = sweep("fold", cap = 120) { dir =>
      Seq(("a", "base"), ("b", "epoch0"), ("c", "epoch1"))
        .toDF("k", "_graft_epoch")
        .write.partitionBy("_graft_epoch").mode(SaveMode.Overwrite).parquet(dir)
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.MinhashBands, upToBatchId = 9L)
    } { dir =>
      MaintenanceOps.foldEpochs(spark, dir, Ledger.MinhashBands, upToBatchId = 9L)
    } { (dir, n, crashed) =>
      assert(keySet(dir) == Set("a", "b", "c"),
        s"crash point $n (crashed=$crashed): membership set broken")
      val fs = fsFor(dir)
      assert(MaintenanceOps.foldedThrough(fs, new Path(dir)) == 1L,
        s"crash point $n: fold marker wrong after recovery")
      val leftover = fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(nm => nm.startsWith("_graft_epoch=") &&
          nm != "_graft_epoch=base")
      assert(leftover.isEmpty,
        s"crash point $n: unfolded epoch dirs left: ${leftover.mkString(", ")}")
    }
    info(s"foldEpochs: $boundaries crash boundaries, all convergent")
  }
}
