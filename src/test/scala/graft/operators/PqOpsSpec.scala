package graft.operators

import graft.TestSpark
import graft.plans.PqExprOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E139/E140/E142/E143 product quantization: subvector slicing
  * round-trips, the per-subspace codebooks follow the family's
  * deterministic Lloyd contract, every encoding is the true arg-min of
  * its subspace codebook, ADC scores equal the locally-recomputed sum of
  * squared 6-dp subspace distances, IVFADC restricts BOTH compute and
  * the SCAN to the probed cells (partition-prune plan gate), the seed
  * step never builds an n-sized window (plan gate), and the stored
  * artifacts keep their construction pin through the incremental-encode
  * replay protocol — the whole chain a pure function of the data (the
  * q156/q157/q159–q161 oracle claim). */
class PqOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 6 deterministic dim-8 vectors with two obvious subspace clusters. */
  private def vecs = Seq(
    (0L, Array(0.0, 0.0, 0.0, 0.0, 9.0, 9.0, 9.0, 9.0)),
    (1L, Array(0.1, 0.0, 0.1, 0.0, 9.1, 9.0, 9.1, 9.0)),
    (2L, Array(5.0, 5.0, 5.0, 5.0, 1.0, 1.0, 1.0, 1.0)),
    (3L, Array(5.1, 5.0, 5.1, 5.0, 1.1, 1.0, 1.1, 1.0)),
    (4L, Array(0.2, 0.1, 0.2, 0.1, 1.2, 1.1, 1.2, 1.1)),
    (5L, Array(5.2, 5.1, 5.2, 5.1, 9.2, 9.1, 9.2, 9.1)))
    .toDF("id", "v")

  private def l2r6(a: Seq[Double], b: Seq[Double]): Double =
    BigDecimal(math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Local ADC recompute: Σ_sub 6-dp-L2²(query subvec, candidate's
    * codeword), rounded 6 dp — the oracle arithmetic. */
  private def localAdc(
      model: PqOps.PqModel,
      codes: org.apache.spark.sql.DataFrame,
      m: Int): (Long, Long) => Double = {
    val books = model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val subv = PqOps.subvectors(vecs, "v", "id", m)
      .as[(Long, Int, Seq[Double])].collect().map(r => (r._1, r._2) -> r._3).toMap
    val codeOf = codes.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    (qid: Long, cand: Long) => {
      val s = (0 until m).map { sub =>
        val d = l2r6(subv((qid, sub)), books((sub, codeOf((cand, sub)))))
        d * d
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  test("subvectors slice contiguously and reassemble the vector") {
    val got = PqOps.subvectors(vecs, "v", "id", m = 2)
      .as[(Long, Int, Seq[Double])].collect()
    assert(got.length == 12)
    val byId = got.groupBy(_._1)
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    byId.foreach { case (id, rows) =>
      val back = rows.sortBy(_._2).flatMap(_._3).toSeq
      assert(back == orig(id), s"id $id did not round-trip")
      assert(rows.forall(_._3.size == 4))
    }
  }

  test("subvectors with no expectDim refuses ragged dims loudly, never truncates") {
    val ragged = Seq((0L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
    val e = intercept[Exception](
      PqOps.subvectors(ragged, "v", "id", m = 2).collect())
    assert(e.getMessage != null && e.getMessage.contains("split evenly"),
      s"expected the divisibility guard, got: ${e.getMessage}")
  }

  test("seed step is a driver-sized TakeOrdered, never an n-sized window (plan gate)") {
    val subs = PqOps.subvectors(vecs, "v", "id", m = 2)
    val seeds = PqOps.seedBooks(subs, vecs, "id", kCodes = 2)
    val plan = seeds.queryExecution.executedPlan.toString
    // The round-12 weak mark: row_number().over(partitionBy(sub)) funnels
    // the whole corpus through m tasks' sorts. The fixed plan takes the
    // kCodes smallest ids once (TakeOrdered, ≤ kCodes rows) and joins
    // them back — no Window node may appear anywhere in the seed plan.
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // Semantics pin: per sub, codes 0..k-1 are the subvectors of the
    // kCodes smallest ids in id order.
    val got = seeds.as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val subvMap = subs.as[(Long, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    (0 until 2).foreach { sub =>
      val rows = got(sub)
      assert(rows.map(_._2).toSeq == Seq(0, 1), s"sub $sub codes: $rows")
      assert(rows.head._3 == subvMap((0L, sub)) && rows(1)._3 == subvMap((1L, sub)),
        s"sub $sub seeds are not the smallest ids' subvectors")
    }
  }

  test("encode is the true per-subspace arg-min with the 6-dp tie rule") {
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 2)
    assert(model.subDim == 4)
    val books = model.codebooks
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(books.keySet == Set(0, 1) && books.values.forall(_.size == 2))
    val got = PqOps.encode(vecs, "v", "id", model)
      .as[(Long, Int, Int, Double)].collect()
    assert(got.length == 12)
    val subv = PqOps.subvectors(vecs, "v", "id", m = 2)
      .as[(Long, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (id, sub, code, dist) =>
      val dists = books(sub).map(c => l2r6(subv((id, sub)), c))
      // Arg-min with ties to the smaller code, dist the 6-dp minimum.
      val best = dists.zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(code == best._2 && dist == best._1,
        s"id=$id sub=$sub: got ($code, $dist), want $best of ${dists.toSeq}")
    }
  }

  test("fused cell-carrying builders equal the attachCells joins (round 17)") {
    // encodeAttached / encodeWithCell / reconstructionErrorsWithCell
    // collapse the build-time attachCells join into the encode/decode
    // projection itself — columns, order, and every value must equal the
    // join formulation, and the literal-path build must plan NO join.
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 2, iters = 1)
    val cells = coarse.assignments.select(col("id"), col("cluster"))
    val model = PqOps.fitPq(vecs, "v", "id", m = 4, kCodes = 2, iters = 1)
    val joined = PqOps.attachCells(
      PqOps.encode(vecs, "v", "id", model), cells, "id")
    val fused = PqOps.encodeAttached(vecs, "v", "id", model, coarse.centroids)
    assert(fused.columns.toSeq == joined.columns.toSeq)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.as[(Long, Int, Int, Double, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(key(fused) == key(joined))
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // encodeWithCell over a frame that already carries its cell.
    val withCell = PqOps.residuals(vecs, "v", "id", coarse.centroids)
    val viaJoin = PqOps.attachCells(
      PqOps.encode(withCell, "residual", "id", model),
      withCell.select(col("id"), col("cell").as("cluster")), "id")
    val viaCarry = PqOps.encodeWithCell(withCell, "residual", "id", model, "cell")
    assert(key(viaCarry) == key(viaJoin))
    // reconstructionErrorsWithCell = reconstructionErrors + the codes' cell.
    val errsJoin = PqOps.reconstructionErrors(vecs, "v", "id", model, joined)
      .join(cells.withColumnRenamed("cluster", "cell"), Seq("id"))
      .select(col("id"), col("_graft_err"), col("cell"))
      .as[(Long, Seq[Double], Int)].collect().sortBy(_._1).toSeq
    val errsFused = PqOps.reconstructionErrorsWithCell(vecs, "v", "id", model, fused)
      .as[(Long, Seq[Double], Int)].collect().sortBy(_._1).toSeq
    assert(errsFused == errsJoin)
  }

  test("adc scores are the locally-recomputed sum of squared subspace lookups") {
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.encode(vecs, "v", "id", model)
    val queries = vecs.filter(col("id") < 2)
      .select(col("id").as("qid"), col("v"))
    val got = PqOps.adcSearch(codes, "id", queries, "qid", "v", model, topN = 3)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length == 6, s"2 queries x top-3: ${got.toSeq}")
    val adc = localAdc(model, codes, m = 2)
    // Every returned row matches the local ADC; ranks follow
    // (adc asc, id asc) within each query over ALL candidates.
    val all = vecs.as[(Long, Seq[Double])].collect().map(_._1)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = all.map(c => (adc(qid, c), c)).sortBy(identity).take(3)
      val gotRows = rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(gotRows == expect.toSeq, s"query $qid: $gotRows vs ${expect.toSeq}")
    }
  }

  test("ivfAdc restricts candidates to the probed coarse cell, scores match local ADC") {
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 2, iters = 2)
    val cellMap = coarse.assignments
      .select(col("id"), col("cluster")).as[(Long, Int)].collect().toMap
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.attachCells(
      PqOps.encode(vecs, "v", "id", model),
      coarse.assignments.select(col("id"), col("cluster")), "id")
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val got = PqOps.ivfAdcSearch(codes, "cell",
        "id", queries, "qid", "v", model, coarse.centroids, topN = 6)
      .as[(Long, Int, Long, Double)].collect()
    val adc = localAdc(model, codes.drop("cell"), m = 2)
    val all = vecs.as[(Long, Seq[Double])].collect().map(_._1)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      // A corpus-drawn query probes exactly its own cell (identical
      // arg-min rule), so expected = same-cell candidates, ADC-ranked.
      val expect = all.filter(c => cellMap(c) == cellMap(qid))
        .map(c => (adc(qid, c), c)).sortBy(identity).take(6)
      assert(rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq == expect.toSeq,
        s"query $qid")
      assert(rows.forall(r => cellMap(r._3) == cellMap(qid)),
        s"query $qid met a candidate outside its probed cell")
    }
  }

  test("nprobe unions the n nearest cells; at nprobe = k it equals flat ADC") {
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 3, iters = 2)
    val cellMap = coarse.assignments
      .select(col("id"), col("cluster")).as[(Long, Int)].collect().toMap
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val flat = PqOps.encode(vecs, "v", "id", model)
    val codes = PqOps.attachCells(
      flat, coarse.assignments.select(col("id"), col("cluster")), "id")
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val adc = localAdc(model, flat, m = 2)
    val all = vecs.as[(Long, Seq[Double])].collect().map(_._1)
    // The 2-best probe, locally recomputed with the (6-dp dist, cell)
    // tie rule against the settled coarse centroids.
    def probes(qv: Seq[Double], n: Int): Set[Int] =
      coarse.centroids.zipWithIndex
        .map { case (c, i) => (l2r6(qv, c.toSeq), i) }.sorted.take(n).map(_._2).toSet
    val qv = vecs.as[(Long, Seq[Double])].collect().toMap
    val got2 = PqOps.ivfAdcSearch(codes, "cell", "id", queries, "qid", "v",
        model, coarse.centroids, topN = 6, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    got2.groupBy(_._1).foreach { case (qid, rows) =>
      val cells = probes(qv(qid), 2)
      val expect = all.filter(c => cells.contains(cellMap(c)))
        .map(c => (adc(qid, c), c)).sortBy(identity).take(6)
      assert(rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq == expect.toSeq,
        s"query $qid at nprobe=2")
      // No double-scoring: every candidate appears at most once.
      assert(rows.map(_._3).distinct.length == rows.length, s"query $qid dup rows")
    }
    // Probing every cell = the flat search, bit for bit.
    val gotAll = PqOps.ivfAdcSearch(codes, "cell", "id", queries, "qid", "v",
        model, coarse.centroids, topN = 6, nprobe = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val gotFlat = PqOps.adcSearch(flat, "id", queries, "qid", "v", model, topN = 6)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(gotAll.toSeq == gotFlat.toSeq,
      s"nprobe=k must equal flat ADC:\n${gotAll.toSeq}\nvs\n${gotFlat.toSeq}")
  }

  test("probeCells: literal and join paths rank identical (dist asc, cell asc)") {
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 3, iters = 1).centroids
    val queries = vecs.select(col("id").as("qid"), col("v"))
    def run(path: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      path.as[(Long, Int)].collect().toSeq.sorted
    // The join path triggers above LiteralPathMaxK in production; here
    // both paths run on the same small model by calling the internals.
    val lit = run(PqOps.probeCells(queries, "v", "qid", coarse, nprobe = 2))
    // Force the join path by padding the model past the literal bound
    // with far-away centroids that never win.
    val far = Array.fill(KmeansOps.LiteralPathMaxK + 1 - coarse.length)(
      Array.fill(8)(1e9))
    val padded = coarse ++ far
    val joined = run(
      PqOps.probeCells(queries, "v", "qid", padded, nprobe = 2))
    assert(lit == joined, s"literal $lit vs join $joined")
  }

  test("artifact store: pin round-trips, search partition-prunes to probed cells") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_store")
    val dir = root.resolve("pq").toString
    val arts = PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 2)
    val back = PqOps.readPqArtifacts(spark, dir)
    assert(back.model.m == 2 && back.model.kCodes == 2 && back.model.subDim == 4)
    assert(back.coarse.map(_.toSeq).toSeq == arts.coarse.map(_.toSeq).toSeq)
    // Codes round-trip (cell rides as the partition column).
    val stored = back.codes.select(col("id"), col("sub"), col("code"), col("cell"))
      .as[(Long, Int, Int, Int)].collect().toSet
    val direct = PqOps.attachCells(
        PqOps.encode(vecs, "v", "id",
          PqOps.PqModel(back.model.codebooks, 2, 2, 4)),
        KmeansOps.assign(vecs, "v", "id", back.coarse)
          .select(col("id"), col("cluster")), "id")
      .select(col("id"), col("sub"), col("code"), col("cell"))
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(stored == direct)
    // THE scale gate: the search's codes scan must carry a non-empty
    // PartitionFilters on cell — I/O restricted to probed cells' files,
    // never a corpus-wide read + id-join (the round-12 weak mark).
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val res = PqOps.ivfAdcSearch(back.codes, "cell", "id", queries, "qid", "v",
      back.model, back.coarse, topN = 3)
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(plan).isDefined,
      s"codes scan did not partition-prune on cell:\n$plan")
    assert(res.count() > 0)
  }

  test("artifact store refuses a missing or drifted construction pin loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_pin")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 0, coarseK = 2, coarseIters = 1)
    // Drift: overwrite the pin with different params.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(dir, "_graft_pq_construction")
    def rewritePin(s: String): Unit = {
      val outS = fs.create(metaPath, true)
      try outS.write(s.getBytes("UTF-8")) finally outS.close()
    }
    rewritePin("m=4 kCodes=2 subDim=2 coarseK=2 residual=false perm=0,1,2,3,4,5,6,7")
    val drift = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(drift.getMessage.contains("drifted"), drift.getMessage)
    // A legacy pin MISSING keys (pre-formulation/pre-perm store) or a
    // hand-edited one refuses with rebuild guidance at the key-set
    // check, never a bare NoSuchElementException mid-parse.
    rewritePin("m=2 kCodes=2 subDim=4 coarseK=2")
    val legacy = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(legacy.getMessage.contains("malformed") &&
      legacy.getMessage.contains("rebuild"), legacy.getMessage)
    rewritePin("m=2 kCodes=2 subDim=4 coarseK=2 residual=maybe perm=0,1,2,3,4,5,6,7")
    val badBool = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(badBool.getMessage.contains("not a bool"), badBool.getMessage)
    rewritePin("m=two kCodes=2 subDim=4 coarseK=2 residual=false perm=0,1,2,3,4,5,6,7")
    val badInt = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(badInt.getMessage.contains("not an int"), badInt.getMessage)
    // A perm that is not a permutation of the pinned dim refuses.
    rewritePin("m=2 kCodes=2 subDim=4 coarseK=2 residual=false perm=0,1")
    val badPerm = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(badPerm.getMessage.contains("permutation"), badPerm.getMessage)
    // Missing pin: data without a pin must refuse, not silently pair
    // codes with whatever codebooks sit there.
    fs.delete(metaPath, false)
    val missing = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(missing.getMessage.contains("construction pin"), missing.getMessage)
  }

  test("a crashed build (pin + empty codebooks) and a non-empty target refuse loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_crash")
    val dir = root.resolve("pq").toString
    // Simulate a crash between the pin write and the codebook write: pin
    // present, codebooks/ an empty frame — the read must refuse with the
    // designed rebuild message, not NPE in the drift aggregate.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val outS = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_pq_construction"), true)
    try outS.write(
      "m=2 kCodes=2 subDim=4 coarseK=2 residual=false perm=0,1,2,3,4,5,6,7"
        .getBytes("UTF-8"))
    finally outS.close()
    Seq.empty[(Int, Int, Seq[Double])].toDF("sub", "code", "centroid")
      .write.parquet(s"$dir/codebooks")
    val crashed = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(crashed.getMessage.contains("empty"), crashed.getMessage)
    // And a rebuild INTO the half-written store refuses before touching
    // anything: in-place rebuilds can pair new codebooks with stale
    // codes under a structurally-matching pin (round-13 advice).
    val rebuild = intercept[IllegalStateException](
      PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
        m = 2, kCodes = 2, iters = 0, coarseK = 2, coarseIters = 1))
    assert(rebuild.getMessage.contains("not empty"), rebuild.getMessage)
  }

  test("incremental encode: pinned codebooks, epoch replay idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_incr")
    val dir = root.resolve("pq").toString
    val batch1 = vecs.filter(col("id") % 2 === 0)
    val batch2 = vecs.filter(col("id") % 2 === 1)
    PqOps.writePqArtifacts(spark, batch1, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    val pinned = PqOps.readPqArtifacts(spark, dir)
    // The lifetime view = base ∪ batch2-encoded-against-PINNED-books
    // (never a re-fit: the whole corpus encoded against batch1's model).
    val pending = PqOps.incrementalPqEncode(spark, batch2, "v", "id", dir, "b2")
    val expect = PqOps.encode(vecs, "v", "id", pinned.model)
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    val got = pending.codes.select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    assert(got == expect)
    pending.commitLedger()
    // At-least-once replay: the same epoch re-drained commits identical
    // codes via dynamic partition overwrite — never duplicates.
    val replay = PqOps.incrementalPqEncode(spark, batch2, "v", "id", dir, "b2")
    assert(replay.codes.select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet == expect)
    replay.commitLedger()
    val stored = PqOps.readPqArtifacts(spark, dir).codes
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect()
    assert(stored.length == expect.size, s"replay duplicated rows: ${stored.length}")
    assert(stored.toSet == expect)
    // The base epoch token is reserved; a reused token is the caller's
    // replay, but 'base' would silently swallow the full build.
    intercept[IllegalArgumentException](
      PqOps.incrementalPqEncode(spark, batch2, "v", "id", dir, "base"))
  }

  test("residuals subtract each vector's own cell centroid, exactly") {
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 2, iters = 2)
    val cellMap = coarse.assignments
      .select(col("id"), col("cluster")).as[(Long, Int)].collect().toMap
    val got = PqOps.residuals(vecs, "v", "id", coarse.centroids)
      .as[(Long, Int, Seq[Double])].collect()
    assert(got.length == 6)
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    got.foreach { case (id, cell, res) =>
      assert(cell == cellMap(id), s"id $id cell $cell != assign ${cellMap(id)}")
      val want = orig(id).zip(coarse.centroids(cell)).map { case (a, b) => a - b }
      assert(res == want.toSeq, s"id $id residual mismatch")
    }
    // The composition keeps the oracle grain: PQ over residuals is the
    // same deterministic chain (smoke: arg-min still true per subspace).
    val res = PqOps.residuals(vecs, "v", "id", coarse.centroids)
    val model = PqOps.fitPq(res, "residual", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.encode(res, "residual", "id", model)
    assert(codes.count() == 12)
  }

  test("refine re-ranks the shortlist by exact L2, shortlist-broadcast, no corpus shuffle") {
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.encode(vecs, "v", "id", model)
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val short = PqOps.adcSearch(codes, "id", queries, "qid", "v", model, topN = 4)
    val got = PqOps.refine(short, vecs, "v", "id", queries, "qid", topN = 2)
      .as[(Long, Int, Long, Double)].collect()
    // Local recompute: exact 6-dp L2 over exactly the shortlisted pairs,
    // (dist asc, id asc), top-2.
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    val shortSets = short.select(col("qid"), col("id"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = shortSets(qid).toSeq
        .map(c => (l2r6(orig(qid), orig(c)), c)).sorted.take(2)
      assert(rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq == expect,
        s"query $qid: ${rows.toSeq} vs $expect")
    }
    // Scale shape: the corpus side must meet the workload-sized
    // shortlist through a broadcast join — never a corpus shuffle on id.
    val plan = PqOps.refine(short, vecs, "v", "id", queries, "qid", topN = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    intercept[IllegalArgumentException](
      PqOps.refine(short, vecs, "v", "id", queries, "qid", topN = 0))
  }

  test("ivfAdcSearch with an empty query frame returns empty, never errors") {
    // The driver-side probe collect yields zero cells → the isin filter
    // is vacuously false — an empty workload must be a no-op, not an
    // analysis error from an empty IN-list.
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 2, iters = 1)
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 0)
    val codes = PqOps.attachCells(
      PqOps.encode(vecs, "v", "id", model),
      coarse.assignments.select(col("id"), col("cluster")), "id")
    val noQueries = vecs.filter(col("id") < 0).select(col("id").as("qid"), col("v"))
    assert(PqOps.ivfAdcSearch(codes, "cell", "id", noQueries, "qid", "v",
      model, coarse.centroids, topN = 3).count() == 0L)
  }

  test("residual search scores each candidate against its own cell's residualized LUT") {
    // The E144 completion (round 14): codes quantize v − centroid(cell),
    // so the ADC lookup table must be built from the RESIDUALIZED query
    // per probed cell — q − centroid(ℓ) for cell ℓ — and a candidate in
    // ℓ may only meet ℓ's entries. Local recompute over ALL candidates
    // in the probed cells, plus the negative control: the raw-query LUT
    // over the same residual codes ranks DIFFERENTLY (the silent
    // mis-scoring the formulation pin exists to refuse).
    val coarse = KmeansOps.fit(vecs, "v", "id", k = 2, iters = 2)
    val res = PqOps.residuals(vecs, "v", "id", coarse.centroids)
    val model = PqOps.fitPq(res, "residual", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.attachCells(
      PqOps.encode(res, "residual", "id", model),
      res.select(col("id"), col("cell").as("cluster")), "id")
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val got = PqOps.ivfAdcSearchResidual(codes, "cell", "id", queries, "qid", "v",
        model, coarse.centroids, topN = 6, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    // Local recompute (the oracle arithmetic).
    val books = model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val codeOf = codes.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val cellOf = codes.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    def adcOf(qid: Long, cand: Long): Double = {
      val cell = cellOf(cand)
      val qres = orig(qid).zip(coarse.centroids(cell)).map { case (a, b) => a - b }
      val s = (0 until 2).map { sub =>
        val qsub = qres.slice(sub * 4, sub * 4 + 4)
        val d = l2r6(qsub, books((sub, codeOf((cand, sub)))))
        d * d
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // nprobe = 2 of 2 cells → every candidate is reachable; the result
    // must be the full (adc asc, id asc) ranking of the local scores.
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = orig.keys.toSeq.map(c => (adcOf(qid, c), c)).sorted
      val gotRanked = rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(gotRanked == expect, s"query $qid: $gotRanked vs $expect")
    }
    // Negative control: the raw-LUT searcher over the SAME residual
    // codes produces different scores — the composition is wrong, and
    // measurably so on this fixture.
    val rawOverResidual = PqOps.ivfAdcSearch(codes, "cell", "id", queries, "qid", "v",
        model, coarse.centroids, topN = 6, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val anyDiff = got.exists { case (qid, _, id, adc) =>
      rawOverResidual.get((qid, id)).exists(raw => math.abs(raw - adc) > 1e-9)
    }
    assert(anyDiff,
      "raw-LUT and residual-LUT scores coincided everywhere — the negative control lost its teeth")
  }

  test("formulation pin: residual store routes, declared mismatches refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_resid")
    val rawDir = root.resolve("raw").toString
    val resDir = root.resolve("res").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", rawDir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 2)
    PqOps.writePqArtifacts(spark, vecs, "v", "id", resDir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 2, residual = true)
    val raw = PqOps.readPqArtifacts(spark, rawDir)
    val res = PqOps.readPqArtifacts(spark, resDir)
    assert(!raw.residual && res.residual)
    // The residual store's codes ARE the residual encode (spot check:
    // they differ from the raw store's codes on this fixture — all the
    // code budget moved to the within-cell offset).
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    // Routed search ≡ the explicit formulation-correct searcher, bit-equal.
    val routed = PqOps.searchArtifacts(res, "id", queries, "qid", "v",
        topN = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    val direct = PqOps.ivfAdcSearchResidual(res.codes, "cell", "id", queries,
        "qid", "v", res.model, res.coarse, topN = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(routed == direct)
    // Declared-expectation mismatches refuse loudly, both directions.
    val e1 = intercept[IllegalStateException](PqOps.searchArtifacts(
      res, "id", queries, "qid", "v", topN = 3, nprobe = 1,
      expectResidual = Some(false)))
    assert(e1.getMessage.contains("residual=true"), e1.getMessage)
    val e2 = intercept[IllegalStateException](PqOps.searchArtifacts(
      raw, "id", queries, "qid", "v", topN = 3, nprobe = 1,
      expectResidual = Some(true)))
    assert(e2.getMessage.contains("residual=false"), e2.getMessage)
    // Incremental encode follows the PINNED formulation: a batch
    // appended to the residual store lands as residual codes (equal to
    // encoding the batch's residuals against the pinned books).
    val batch = vecs.filter(col("id") >= 4)
    val pending = PqOps.incrementalPqEncode(spark, batch, "v", "id", resDir, "b2")
    val batchRes = PqOps.residuals(batch, "v", "id", res.coarse)
    val expect = PqOps.encode(batchRes, "residual", "id", res.model)
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    val gotBatch = pending.codes.filter(col("id") >= 4)
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    assert(gotBatch == expect)
  }

  test("permuted store: the pin carries the perm; search and append permute themselves") {
    // E147 integrated into the artifact store (round 14): the store is
    // built entirely in the permuted space, the pin records the array,
    // and the consumer paths (searchArtifacts, incrementalPqEncode)
    // apply it to queries/batches — searching a permuted store with raw
    // queries would be the E146 silent mis-scoring again.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_perm_store")
    val dir = root.resolve("pq").toString
    val perm = PqOps.balancedPerm(vecs, "v", m = 2)
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      perm = Some(perm))
    val arts = PqOps.readPqArtifacts(spark, dir)
    assert(arts.perm.toSeq == perm.toSeq, "pin must round-trip the perm")
    assert(arts.isPermuted, "this fixture's variance ranking is not the identity")
    // Routed search ≡ the explicit composition: permute queries by the
    // SAME array, then the raw-formulation searcher over the stored
    // (permuted-space) codes and coarse model.
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val routed = PqOps.searchArtifacts(arts, "id", queries, "qid", "v",
        topN = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    val pq = PqOps.applyPerm(queries, "v", perm, "pv")
      .select(col("qid"), col("pv"))
    val direct = PqOps.ivfAdcSearch(arts.codes, "cell", "id", pq, "qid", "pv",
        arts.model, arts.coarse, topN = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(routed == direct)
    // Append permutes the batch before encoding against the pinned books.
    val batch = vecs.filter(col("id") >= 4)
    val pending = PqOps.incrementalPqEncode(spark, batch, "v", "id", dir, "b2")
    val pb = PqOps.applyPerm(batch, "v", perm, "pv").select(col("id"), col("pv"))
    val expect = PqOps.encode(pb, "pv", "id", arts.model)
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    val gotBatch = pending.codes.filter(col("id") >= 4)
      .select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect().toSet
    assert(gotBatch == expect)
  }

  test("reconstruct concatenates codewords in sub order; torn codes refuse loudly") {
    // E148 decode: x̂ = [c(0,code₀) ‖ c(1,code₁)] — checked against a
    // local recompute from the codebook map; an id with a missing sub
    // row refuses at the assembled-dim guard instead of silently
    // producing a short vector.
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.encode(vecs, "v", "id", model)
    val books = model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val codeOf = codes.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val got = PqOps.reconstruct(codes, "id", model, "rec")
      .as[(Long, Seq[Double])].collect().toMap
    assert(got.keySet == (0L to 5L).toSet)
    got.foreach { case (id, rec) =>
      val expect = books((0, codeOf((id, 0)))) ++ books((1, codeOf((id, 1))))
      assert(rec == expect, s"id $id decoded wrong")
    }
    val torn = codes.filter(!(col("id") === 3L && col("sub") === 1))
    val e = intercept[Exception](
      PqOps.reconstruct(torn, "id", model, "rec").collect())
    assert(e.getMessage != null && e.getMessage.contains("torn"), e.getMessage)
  }

  test("reconstructionErrors is the exact v − x̂; ids without codes refuse") {
    val model = PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 2, iters = 1)
    val codes = PqOps.encode(vecs, "v", "id", model)
    val rec = PqOps.reconstruct(codes, "id", model, "rec")
      .as[(Long, Seq[Double])].collect().toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    val got = PqOps.reconstructionErrors(vecs, "v", "id", model, codes)
      .as[(Long, Seq[Double])].collect().toMap
    got.foreach { case (id, err) =>
      val expect = orig(id).zip(rec(id)).map { case (a, b) => a - b }
      assert(err == expect, s"id $id error wrong")
    }
    val e = intercept[Exception](
      PqOps.reconstructionErrors(
        vecs, "v", "id", model, codes.filter(col("id") =!= 2L)).collect())
    assert(e.getMessage != null && e.getMessage.contains("no stage-1 codes"),
      e.getMessage)
  }

  test("reading the store back infers no schema: its jobs are the pin checks' reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_read_jobs")
      .resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => names.add(s.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val (arts, jobs) =
      try graft.pipeline.JobCount(spark)(PqOps.readPqArtifacts(spark, dir))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(arts.rcodes.isDefined)
    val inference = names.toArray.map(_.toString).filter(_.startsWith("parquet at"))
    assert(inference.isEmpty, s"schema-inference jobs: ${inference.mkString(", ")}")
    // At most, per level, the codebook drift check's aggregate (three
    // adaptive stages) and the codebooks' driver copy; the coarse
    // centroids' sorted read once (three).
    assert(jobs.getOrElse(graft.pipeline.JobCount.Caller, 0) <= 11, jobs)
  }

  test("refinement store: pin round-trip, two-level decode re-rank, refusals") {
    // E148: the store carries a second code level (codebooks fitted on
    // the stage-1 errors). refineFromCodes re-scores a shortlist against
    // x̂₂ = x̂₁ + ê₂ by exact 6-dp L2 — checked against a local
    // recompute — and the two-stage searchArtifactsRefined equals the
    // explicit composition.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_refine_store")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    val arts = PqOps.readPqArtifacts(spark, dir)
    assert(arts.refinement.isDefined && arts.rcodes.isDefined)
    assert(arts.refinement.get.m == 4 && arts.refinement.get.kCodes == 2 &&
      arts.refinement.get.subDim == 2)
    // Local two-level decode per id.
    val b1 = arts.model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val b2 = arts.refinement.get.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val c1 = arts.codes.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val c2 = arts.rcodes.get.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def xhat(id: Long): Seq[Double] = {
      val r1 = (0 until 2).flatMap(s => b1((s, c1((id, s)))))
      val r2 = (0 until 4).flatMap(s => b2((s, c2((id, s)))))
      r1.zip(r2).map { case (a, b) => a + b }
    }
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val short = PqOps.searchArtifacts(arts, "id", queries, "qid", "v",
      topN = 4, nprobe = 2)
    val got = PqOps.refineFromCodes(arts, short, "id", queries, "qid", "v",
        topN = 2, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (qid, _, id, dist) =>
      assert(dist == l2r6(orig(qid), xhat(id)),
        s"($qid, $id): $dist != local two-level decode distance")
    }
    // End-to-end wrapper ≡ the explicit composition.
    val viaWrapper = PqOps.searchArtifactsRefined(arts, "id", queries, "qid", "v",
        topR = 4, topN = 2, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaWrapper == got.toSet)
    // A store WITHOUT refinement refuses refineFromCodes loudly.
    val dir2 = root.resolve("pq2").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir2,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    val bare = PqOps.readPqArtifacts(spark, dir2)
    assert(bare.refinement.isEmpty && bare.rcodes.isEmpty)
    val noRef = intercept[IllegalStateException](
      PqOps.refineFromCodes(bare, short, "id", queries, "qid", "v", 2, 2))
    assert(noRef.getMessage.contains("refinement"), noRef.getMessage)
    // Refinement data without its pin refuses (pin-before-data).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_pq_refinement"), false)
    val orphan = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(orphan.getMessage.contains("no _graft_pq_refinement pin"),
      orphan.getMessage)
    // A crash window that wrote the pin but not the data dirs refuses
    // with rebuild guidance, never a bare path-not-found.
    val pinBytes = "m2=4 kCodes2=2 subDim2=2".getBytes("UTF-8")
    val rb = new org.apache.hadoop.fs.Path(dir, "rcodebooks")
    val rbTmp = new org.apache.hadoop.fs.Path(dir, "rcodebooks_moved")
    val outPin = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_pq_refinement"), true)
    try outPin.write(pinBytes) finally outPin.close()
    fs.rename(rb, rbTmp)
    val noDir = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(noDir.getMessage.contains("rcodebooks/ is missing") &&
      noDir.getMessage.contains("rebuild"), noDir.getMessage)
    fs.rename(rbTmp, rb)
    // A malformed refinement pin refuses with rebuild guidance.
    val outS = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_pq_refinement"), true)
    try outS.write("m2=4 kCodes2=2".getBytes("UTF-8")) finally outS.close()
    val badKeys = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(badKeys.getMessage.contains("malformed") &&
      badKeys.getMessage.contains("rebuild"), badKeys.getMessage)
    // A dim-inconsistent refinement pin refuses.
    val outS2 = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_pq_refinement"), true)
    try outS2.write("m2=4 kCodes2=2 subDim2=3".getBytes("UTF-8")) finally outS2.close()
    val badDim = intercept[IllegalStateException](PqOps.readPqArtifacts(spark, dir))
    assert(badDim.getMessage.contains("!= the main level's dim"), badDim.getMessage)
  }

  test("refinement append: both levels land under one epoch, replay idempotent") {
    // E148 × E143: incrementalPqEncode on a refinement store encodes the
    // batch at BOTH levels (stage-1 codes + error codes against the two
    // pinned codebook sets); a replay of the same epoch overwrites its
    // own partitions and the re-rank keeps decoding every id.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_refine_append")
    val dir = root.resolve("pq").toString
    val base = vecs.filter(col("id") < 4)
    PqOps.writePqArtifacts(spark, base, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    val batch = vecs.filter(col("id") >= 4)
    val pending = PqOps.incrementalPqEncode(spark, batch, "v", "id", dir, "b2")
    pending.commitLedger()
    // Replay the same epoch: identical store afterwards.
    PqOps.incrementalPqEncode(spark, batch, "v", "id", dir, "b2").commitLedger()
    val arts = PqOps.readPqArtifacts(spark, dir)
    assert(arts.codes.select(col("id")).distinct().count() == 6)
    assert(arts.rcodes.get.select(col("id")).distinct().count() == 6)
    assert(arts.rcodes.get.count() == 6 * 4, "one rcode row per (id, sub2)")
    // The appended ids re-rank: decode-join guard passes for a shortlist
    // drawn from the whole lifetime corpus.
    val queries = vecs.filter(col("id") >= 4).select(col("id").as("qid"), col("v"))
    val got = PqOps.searchArtifactsRefined(arts, "id", queries, "qid", "v",
        topR = 4, topN = 2, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.map(_._1).toSet == Set(4L, 5L))
    // A shortlist id outside the probed cells refuses loudly.
    val foreign = Seq((4L, 999L)).toDF("qid", "id")
    val e = intercept[Exception](
      PqOps.refineFromCodes(arts, foreign, "id", queries, "qid", "v", 1, 2)
        .collect())
    assert(e.getMessage != null && e.getMessage.contains("no decodable codes"),
      e.getMessage)
  }

  test("residual refinement store: re-rank decodes with the coarse term, foreign ids refuse") {
    // ADVICE round 14 (medium): refineFromCodes' residual branch used an
    // INNER centroid join — Catalyst inferred isnotnull(_graft_cell) and
    // pushed it below the guard projection, so a foreign shortlist id was
    // silently DROPPED on a residual store instead of hitting the
    // designed 'no decodable codes' refusal. This pins both halves: the
    // refusal fires, and the valid path's two-level residual decode
    // x̂₂ = coarseCentroid + x̂₁ + ê₂ matches a local recompute.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_res_refine")
    val dir = root.resolve("pq").toString
    val arts = PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      residual = true, refineM = 4, refineK = 2)
    assert(arts.residual && arts.refinement.isDefined)
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val short = PqOps.searchArtifacts(arts, "id", queries, "qid", "v",
      topN = 4, nprobe = 2)
    val got = PqOps.refineFromCodes(arts, short, "id", queries, "qid", "v",
        topN = 2, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    // Local recompute: cell centroid + stage-1 codewords + error codewords.
    val b1 = arts.model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val b2 = arts.refinement.get.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val c1 = arts.codes.select(col("id"), col("sub"), col("code"), col("cell"))
      .as[(Long, Int, Int, Int)].collect()
    val cellOf = c1.map(r => r._1 -> r._4).toMap
    val code1 = c1.map(r => (r._1, r._2) -> r._3).toMap
    val code2 = arts.rcodes.get.select(col("id"), col("sub"), col("code"))
      .as[(Long, Int, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    def xhat(id: Long): Seq[Double] = {
      val cc = arts.coarse(cellOf(id)).toSeq
      val r1 = (0 until 2).flatMap(s => b1((s, code1((id, s)))))
      val r2 = (0 until 4).flatMap(s => b2((s, code2((id, s)))))
      cc.indices.map(i => cc(i) + r1(i) + r2(i))
    }
    got.foreach { case (qid, _, id, dist) =>
      assert(dist == l2r6(orig(qid), xhat(id)),
        s"($qid, $id): $dist != local residual two-level decode distance")
    }
    // The foreign-shortlist refusal MUST fire on the residual store too
    // (the silent-drop regression this test exists for).
    val foreign = Seq((0L, 999L)).toDF("qid", "id")
    val e = intercept[Exception](
      PqOps.refineFromCodes(arts, foreign, "id", queries, "qid", "v", 1, 2)
        .collect())
    assert(e.getMessage != null && e.getMessage.contains("no decodable codes"),
      s"expected the loud refusal, got: ${e.getMessage}")
  }

  test("pqAudit reports per-cell population and decode distortion from codes alone") {
    // E149: Σ_sub dist² IS ‖v − x̂‖² — checked against a local decode
    // recompute; the refined column is the error left after the
    // two-level decode and must not exceed the stage-1 error on average.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_audit")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    val arts = PqOps.readPqArtifacts(spark, dir)
    val audit = PqOps.pqAudit(arts, "id")
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // Local recompute from the stored dists.
    val d1 = arts.codes.select(col("id"), col("cell"), col("dist"))
      .as[(Long, Int, Double)].collect()
    val perId = d1.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(r => r._3 * r._3).sum).toMap
    val byCell = perId.groupBy(_._1._2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(audit.keySet == byCell.keySet)
    byCell.foreach { case (cell, m) =>
      val (_, pop, mean, mx, _) = audit(cell)
      assert(pop == m.size, s"cell $cell population")
      assert(mean == r6(m.values.sum / m.size), s"cell $cell mean_sq_err")
      assert(mx == r6(m.values.max), s"cell $cell max_sq_err")
    }
    // The stage-1 squared error from dists equals the direct decode
    // error recomputed at the SAME grain — each subspace L2 rounded
    // 6 dp before squaring (dist is stored 6-dp, the family grain).
    val rec = PqOps.reconstruct(arts.codes, "id", arts.model, "rec")
      .as[(Long, Seq[Double])].collect().toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    perId.foreach { case ((id, _), sq) =>
      val direct = (0 until 2).map { sub =>
        val a = orig(id).slice(sub * 4, sub * 4 + 4)
        val b = rec(id).slice(sub * 4, sub * 4 + 4)
        val d = l2r6(a, b)
        d * d
      }.sum
      assert(math.abs(sq - direct) < 1e-9,
        s"id $id: dist²-sum $sq != 6-dp decode error $direct")
    }
    // Refined mean must not exceed stage-1 mean in any cell on this
    // fixture (the refinement explains error; AccuracySpec gates the
    // corpus-level claim).
    audit.values.foreach { case (cell, _, mean, _, rMean) =>
      assert(rMean <= mean, s"cell $cell: refined $rMean > stage-1 $mean")
    }
    // A store without refinement audits without the refined column.
    val dir2 = root.resolve("pq2").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir2,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    val bare = PqOps.pqAudit(PqOps.readPqArtifacts(spark, dir2), "id")
    assert(bare.columns.toSeq ==
      Seq("cell", "population", "mean_sq_err", "max_sq_err"))
  }

  test("rebalanceStore: raw cell surgery, codes unchanged") {
    // E150: hot cells split into a FRESH store — the pinned codebooks
    // and every (sub, code, dist) row are IDENTICAL (raw codes don't
    // depend on the cell; that's the op's whole cost theorem), only
    // cell assignments of hot members move, the coarse table grows,
    // and flat ADC results are bit-equal before/after. The refinement
    // level rides along re-celled.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_rebalance")
    val dir = root.resolve("pq").toString
    // coarseK = 1: every vector in one cell => guaranteed hot.
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1,
      refineM = 4, refineK = 2)
    val before = PqOps.readPqArtifacts(spark, dir)
    val outd = root.resolve("pq_rebalanced").toString
    val (after, nHot) = PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", outd, maxPop = 3, iters = 1)
    assert(nHot == 1)
    assert(after.coarse.length == 2, "6 members / maxPop 3 = 2 children")
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("sub"), col("code"), col("dist"))
        .as[(Long, Int, Int, Double)].collect().toSet
    assert(codeRows(after.codes) == codeRows(before.codes), "codes must not change")
    assert(codeRows(after.rcodes.get) == codeRows(before.rcodes.get))
    // Members actually split across the two children.
    val cellsAfter = after.codes.select(col("cell")).distinct()
      .as[Int].collect().toSet
    assert(cellsAfter == Set(0, 1), cellsAfter.toString)
    // Flat ADC (cell-independent) is bit-equal across the rebalance.
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    def flat(a: PqOps.PqArtifacts) =
      PqOps.adcSearch(a.codes.drop("cell"), "id", queries, "qid", "v",
          a.model, topN = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
    assert(flat(after) == flat(before))
    // The rebalanced store searches through the normal routed path.
    assert(PqOps.searchArtifacts(after, "id", queries, "qid", "v",
      topN = 2, nprobe = 2).count() > 0)
    // A corpus missing a stored id refuses loudly.
    val short = vecs.filter(col("id") < 5)
    val miss = intercept[Exception](PqOps.rebalanceStore(
      spark, dir, short, "v", "id", root.resolve("y").toString, 3, 1))
    assert(miss.getMessage != null && miss.getMessage.contains("no vector"),
      miss.getMessage)
    // Duplicate corpus rows for one stored id refuse loudly — silently
    // joined through, they would double that id's codes in the rebuilt
    // store (doubled ADC sums at search).
    val dupCorpus = vecs.unionByName(vecs.filter(col("id") === 1L))
    val dup = intercept[IllegalStateException](PqOps.rebalanceStore(
      spark, dir, dupCorpus, "v", "id", root.resolve("z").toString, 3, 1))
    assert(dup.getMessage.contains("duplicate ids"), dup.getMessage)
    // A non-empty target refuses (the writePqArtifacts rule).
    val full = intercept[IllegalStateException](PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", outd, 3, 1))
    assert(full.getMessage.contains("not empty"), full.getMessage)
  }

  test("foldPqEpochs collapses committed epochs into base; leftovers and replays refuse") {
    // E152 (round 15): the PQ store's epoch namespaces get the same
    // fold lifecycle as the six count/membership ledgers — committed
    // `epoch<N>` partitions merge into base under a name-encoded
    // high-water marker, the lifetime code view is IDENTICAL before and
    // after at every step, crash leftovers are excluded from reads and
    // deleted without re-merge, and replaying a folded epoch refuses.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_fold")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch1").commitLedger()
    // Multisets (row -> count): a duplicated code row doubles an ADC
    // sum, so a set comparison would not show it.
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("sub"), col("code"), col("dist"), col("cell"))
        .as[(Long, Int, Int, Double, Int)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
    val before = PqOps.readPqArtifacts(spark, dir)
    val s1 = codeRows(before.codes)
    val r1 = codeRows(before.rcodes.get)
    assert(s1.keySet.map(_._1) == (0L to 5L).toSet && s1.values.forall(_ == 1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) =
      fs.exists(new org.apache.hadoop.fs.Path(dir, rel))
    // Fold epoch0 only (the replay horizon at batch 0).
    val rep = PqOps.foldPqEpochs(spark, dir, upToBatchId = 0L)
    assert(rep.keySet == Set("codes", "rcodes"))
    assert(rep("codes").rows > 0 && rep("rcodes").rows > 0)
    assert(!exists("codes/_graft_epoch=epoch0") &&
      exists("codes/_graft_epoch=epoch1") &&
      // Round 17: the marker rides INSIDE the swapped base partition
      // (data + horizon in one rename); foldedThrough is the one
      // location-agnostic read.
      MaintenanceOps.foldedThrough(fs,
        new org.apache.hadoop.fs.Path(dir, "codes")) == 0L &&
      !exists("rcodes/_graft_epoch=epoch0"), "epoch0 folded, epoch1 live")
    val mid = PqOps.readPqArtifacts(spark, dir)
    assert(codeRows(mid.codes) == s1 && codeRows(mid.rcodes.get) == r1,
      "the lifetime view must be identical across a fold")
    // Crash-leftover simulation: a folded epoch dir that survived past
    // its marker (crash between marker write and dir delete). Fold
    // epoch1 but resurrect its directory from a pre-fold copy.
    val src = new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch1")
    val stash = new org.apache.hadoop.fs.Path(root.toString, "stash")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, stash, false,
      spark.sparkContext.hadoopConfiguration)
    PqOps.foldPqEpochs(spark, dir, upToBatchId = 1L)
    org.apache.hadoop.fs.FileUtil.copy(fs, stash, fs, src, false,
      spark.sparkContext.hadoopConfiguration)
    assert(exists("codes/_graft_epoch=epoch1"), "leftover resurrected")
    // Reads EXCLUDE the leftover (its rows are already in base).
    val after = PqOps.readPqArtifacts(spark, dir)
    assert(codeRows(after.codes) == s1 && codeRows(after.rcodes.get) == r1,
      "a marked leftover must not double-count")
    // The next fold deletes it without re-merging (report rows 0).
    val rep2 = PqOps.foldPqEpochs(spark, dir, upToBatchId = 1L)
    assert(rep2("codes").rows == 0L)
    assert(!exists("codes/_graft_epoch=epoch1"))
    assert(codeRows(PqOps.readPqArtifacts(spark, dir).codes) == s1)
    // Replaying a FOLDED epoch token refuses loudly (its rows are in
    // base — a dynamic overwrite would add, not replace).
    val e = intercept[IllegalStateException](PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch1"))
    assert(e.getMessage.contains("folded"), e.getMessage)
    // A fresh token past the marker still appends normally, and the
    // search path keeps working over the folded store.
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    assert(PqOps.searchArtifactsRefined(PqOps.readPqArtifacts(spark, dir),
      "id", queries, "qid", "v", topR = 4, topN = 2, nprobe = 2).count() > 0)
  }

  test("foldPqEpochs restores a crashed pqStoreDelete swap before folding") {
    // Round-17 lead fix, the PQ shape: a pqStoreDelete crash between its
    // two renames leaves a cell leaf ONLY at its dot-hidden
    // `.cell=N_erase_bak` UNDER the epoch directory. A fold running next
    // would read the epoch WITHOUT the hidden cell's rows, merge that
    // partial view into base, and delete the epoch directory — bak
    // included. With recoverEraseBaks at the fold's entry the leaf is
    // restored first and the lifetime code view survives bit-identical.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_fold_crash")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") >= 4L), "v", "id", dir, "epoch0").commitLedger()
    def codeRows() =
      PqOps.readPqArtifacts(spark, dir).codes
        .select(col("id"), col("sub"), col("code"), col("dist"), col("cell"))
        .as[(Long, Int, Int, Double, Int)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
    val before = codeRows()
    assert(before.keySet.map(_._1) == (0L to 5L).toSet && before.values.forall(_ == 1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochDir = new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch0")
    val cellLeaf = fs.listStatus(epochDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .head.getPath
    val bak = new org.apache.hadoop.fs.Path(
      epochDir, s".${cellLeaf.getName}_erase_bak")
    assert(fs.rename(cellLeaf, bak), "test setup: simulate the crashed swap")
    val rep = PqOps.foldPqEpochs(spark, dir, upToBatchId = 0L)
    assert(rep("codes").rows > 0L)
    assert(codeRows() == before,
      "the bak-hidden cell's committed codes must survive the fold")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch0")))
  }

  test("rebalanceStore restores a crashed pqStoreDelete swap before collapsing epochs") {
    // Round-17 follow-through on the commute rule: the rebalance is a
    // maintenance op that READS epoch state (collapsing every epoch
    // into the new base) and CARRIES the replay horizon forward — so a
    // cell leaf hidden at its `_erase_bak` by a crashed pqStoreDelete
    // swap must be restored at entry. Without the sweep the rebuilt
    // store omits the hidden cell's committed codes while its carried
    // `_graft_folded_through_` marker mechanically refuses the epoch's
    // replay: the batch unrecoverable once the old directory retires.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_rebal_crash")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") >= 4L), "v", "id", dir, "epoch0").commitLedger()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochDir = new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch0")
    val cellLeaf = fs.listStatus(epochDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .head.getPath
    val bak = new org.apache.hadoop.fs.Path(
      epochDir, s".${cellLeaf.getName}_erase_bak")
    assert(fs.rename(cellLeaf, bak), "test setup: simulate the crashed swap")
    val out = root.resolve("pq2").toString
    val (arts2, _) = PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", out, maxPop = 100L, iters = 1)
    assert(arts2.codes.select(col("id")).as[Long].collect().toSet ==
      (0L to 5L).toSet,
      "the bak-hidden cell's committed codes must reach the rebuilt store")
    // The carried horizon covers the restored epoch: a pre-rebalance
    // token replay against the NEW store refuses mechanically.
    val e = intercept[IllegalStateException](PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", out, "epoch0"))
    assert(e.getMessage.contains("folded"), e.getMessage)
  }

  test("pqStoreDelete erases ids from both code namespaces; layout, pins and search intact") {
    // E153 (round 15): right-to-erasure must reach the DERIVED spaces —
    // a corpus delete that leaves an id's PQ codes behind retains
    // derived content for it. Both namespaces erase in lockstep, the
    // (epoch, cell) layout and the construction pins survive, surviving
    // ids' rows are byte-identical, tombstones audit (found/not-found),
    // and a replay of the same delete is a found=false no-op.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_delete")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch1").commitLedger()
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("sub"), col("code"), col("dist"), col("cell"))
        .as[(Long, Int, Int, Double, Int)].collect().toSet
    val before = PqOps.readPqArtifacts(spark, dir)
    val s1 = codeRows(before.codes)
    val r1 = codeRows(before.rcodes.get)
    // Delete a base id, an appended epoch's ONLY id, and an absent one
    // (duplicate request entries must not inflate anything).
    val audit = root.resolve("audit").toString
    val rs = PqOps.pqStoreDelete(spark, dir, "id", Seq(1L, 4L, 99L, 1L), audit)
    assert(rs.keySet == Set("codes", "rcodes"))
    assert(rs("codes").deleted == 4L, rs.toString)   // 2 ids × m=2 rows
    assert(rs("rcodes").deleted == 8L, rs.toString)  // 2 ids × m2=4 rows
    assert(rs("codes").notFound == 1L)
    val after = PqOps.readPqArtifacts(spark, dir)
    assert(codeRows(after.codes) == s1.filterNot(r => r._1 == 1L || r._1 == 4L),
      "survivors byte-identical, deleted ids gone")
    assert(codeRows(after.rcodes.get) == r1.filterNot(r => r._1 == 1L || r._1 == 4L))
    // epoch1's partition layout survives (its id was untouched).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch1")))
    // Search still routes and never returns a deleted id.
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val got = PqOps.searchArtifactsRefined(after, "id", queries, "qid", "v",
        topR = 4, topN = 4, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty && !got.exists(r => r._3 == 1L || r._3 == 4L))
    // Tombstones: found for the present ids, not-found for the absent.
    val tomb = spark.read.parquet(s"$audit/codes")
      .as[(Long, Boolean)].collect().toMap
    assert(tomb == Map(1L -> true, 4L -> true, 99L -> false), tomb.toString)
    // Idempotent replay: everything already gone.
    val rs2 = PqOps.pqStoreDelete(spark, dir, "id", Seq(1L, 4L, 99L), audit)
    assert(rs2("codes").deleted == 0L && rs2("codes").notFound == 3L)
    // A store without a pin refuses the takedown like every other read.
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_pq_construction"), false)
    intercept[IllegalStateException](
      PqOps.pqStoreDelete(spark, dir, "id", Seq(2L), audit))
  }

  test("rebalanceStore on a residual store: split members re-encode against child centroids") {
    // E151 (round 15, closing the round-14 declared edge): a residual
    // store's codes quantize v − coarseCentroid(cell), so a cell split
    // must re-encode the split cells' members against their new child
    // centroid (child 0's settles too) with the PINNED codebooks — this
    // pins every re-encoded (id, sub, code, dist) row and both rcode
    // levels against a local recompute, and the rebuilt store searches
    // through the normal residual-routed path.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_res_rebal")
    val dir = root.resolve("pq").toString
    // coarseK = 1: every member in one (hot) cell.
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1,
      residual = true, refineM = 4, refineK = 2)
    val outd = root.resolve("pq_rebal").toString
    val (after, nHot) = PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", outd, maxPop = 3, iters = 1)
    assert(nHot == 1 && after.coarse.length == 2 && after.residual)
    // Local recompute of the whole re-encode: per id, residual against
    // the centroid of its RECORDED new cell, then per-sub arg-min over
    // the pinned books (6-dp L2, ties to the smaller code).
    val b1 = after.model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val b2 = after.refinement.get.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    val gotCodes = after.codes
      .select(col("id"), col("cell"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Int, Double)].collect()
    val cellOf = gotCodes.map(r => r._1 -> r._2).toMap
    def argmin(books: Map[(Int, Int), Seq[Double]], sub: Int, kCodes: Int,
        sv: Seq[Double]): (Int, Double) =
      (0 until kCodes).map(c => (l2r6(sv, books((sub, c))), c)).min.swap
    def resOf(id: Long): Seq[Double] = {
      val cc = after.coarse(cellOf(id))
      orig(id).zip(cc).map { case (a, b) => a - b }
    }
    gotCodes.foreach { case (id, _, sub, code, dist) =>
      val (ec, ed) = argmin(b1, sub, 2, resOf(id).slice(sub * 4, sub * 4 + 4))
      assert(code == ec && dist == ed, s"id $id sub $sub: ($code,$dist) != ($ec,$ed)")
    }
    // rcodes: errors = residual − stage-1 decode, re-encoded too.
    val code1 = gotCodes.map(r => (r._1, r._3) -> r._4).toMap
    after.rcodes.get.select(col("id"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Double)].collect()
      .foreach { case (id, sub, code, dist) =>
        val dec = (0 until 2).flatMap(s => b1((s, code1((id, s)))))
        val err = resOf(id).zip(dec).map { case (a, b) => a - b }
        val (ec, ed) = argmin(b2, sub, 2, err.slice(sub * 2, sub * 2 + 2))
        assert(code == ec && dist == ed, s"rcode id $id sub $sub")
      }
    // Members actually split, and the store searches + re-ranks through
    // the normal residual-routed path (decode guard passes everywhere).
    assert(cellOf.values.toSet == Set(0, 1))
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    assert(PqOps.searchArtifacts(after, "id", queries, "qid", "v",
      topN = 2, nprobe = 2, expectResidual = Some(true)).count() > 0)
    assert(PqOps.searchArtifactsRefined(after, "id", queries, "qid", "v",
      topR = 4, topN = 2, nprobe = 2).count() > 0)
  }

  test("maintenance lifecycle: build -> append -> fold -> audit -> rebalance -> delete -> search") {
    // The whole ops loop on ONE store, end to end — every maintenance op
    // composes with the others' outputs, and the searchable contract
    // holds at each step: the lifetime code view after append+fold
    // equals the pre-fold view, the rebalanced store re-cells without
    // changing raw codes, the takedown erases exactly the denied ids,
    // and the final search never surfaces them.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_lifecycle")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1,
      refineM = 4, refineK = 2)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch1").commitLedger()
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("sub"), col("code"), col("dist"))
        .as[(Long, Int, Int, Double)].collect().toSet
    val s0 = codeRows(PqOps.readPqArtifacts(spark, dir).codes)
    // Fold both epochs; the lifetime view is unchanged.
    PqOps.foldPqEpochs(spark, dir, upToBatchId = 1L)
    assert(codeRows(PqOps.readPqArtifacts(spark, dir).codes) == s0)
    // Audit the folded store (one cell at coarseK = 1 — guaranteed hot).
    val audit = PqOps.pqAudit(PqOps.readPqArtifacts(spark, dir), "id").collect()
    assert(audit.length == 1 && audit.head.getLong(1) == 6L)
    // Rebalance the hot cell (raw store: codes byte-identical, re-celled).
    val outd = root.resolve("pq2").toString
    val (reb, nHot) = PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", outd, maxPop = 3, iters = 1)
    assert(nHot == 1 && reb.coarse.length == 2)
    assert(codeRows(reb.codes) == s0, "raw rebalance must not change codes")
    // Takedown on the REBALANCED store.
    PqOps.pqStoreDelete(spark, outd, "id", Seq(2L, 4L),
      root.resolve("audit").toString)
    val fin = PqOps.readPqArtifacts(spark, outd)
    assert(codeRows(fin.codes) == s0.filterNot(r => r._1 == 2L || r._1 == 4L))
    assert(fin.rcodes.get.filter(col("id").isin(2L, 4L)).count() == 0L)
    // The surviving store searches + re-ranks; denied ids never surface.
    val queries = vecs.select(col("id").as("qid"), col("v"))
    val got = PqOps.searchArtifactsRefined(fin, "id", queries, "qid", "v",
        topR = 4, topN = 2, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty && !got.exists(r => r._3 == 2L || r._3 == 4L))
  }

  test("permuted RESIDUAL store: both projections compose through search, rebalance, append") {
    // E144 × E147 × E151: a store built with BOTH the balanced
    // permutation and the residual formulation — queries must take the
    // pinned projection BEFORE probing, codes quantize the PERMUTED-
    // space residual, and the residual rebalance re-encodes in the
    // permuted space (its `asg` vectors are the permuted ones). Pins
    // round-trip both fields; search scores match a local recompute.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_perm_res")
    val dir = root.resolve("pq").toString
    // A hand-pinned, definitely-non-identity permutation (subspace 0
    // receives the old high half) — balancedPerm's own choice is pinned
    // in its dedicated test; here the COMPOSITION is under test.
    val perm = Array(4, 5, 6, 7, 0, 1, 2, 3)
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1,
      residual = true, perm = Some(perm))
    val arts = PqOps.readPqArtifacts(spark, dir)
    assert(arts.residual && arts.isPermuted)
    assert(arts.perm.toSeq == perm.toSeq)
    val queries = vecs.filter(col("id") < 2).select(col("id").as("qid"), col("v"))
    val hits = PqOps.searchArtifacts(arts, "id", queries, "qid", "v",
      topN = 3, nprobe = 1, expectResidual = Some(true))
    assert(hits.count() > 0)
    // Residual rebalance in the permuted space: the re-encoded codes
    // must equal a local recompute against the PERMUTED vectors.
    val outd = root.resolve("pq2").toString
    val (reb, nHot) = PqOps.rebalanceStore(
      spark, dir, vecs, "v", "id", outd, maxPop = 3, iters = 1)
    assert(nHot == 1 && reb.coarse.length == 2 && reb.residual)
    assert(reb.perm.toSeq == perm.toSeq)
    val b1 = reb.model.codebooks.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    def permuted(id: Long): Seq[Double] = perm.toSeq.map(p => orig(id)(p))
    val gotCodes = reb.codes
      .select(col("id"), col("cell"), col("sub"), col("code"), col("dist"))
      .as[(Long, Int, Int, Int, Double)].collect()
    gotCodes.foreach { case (id, cell, sub, code, dist) =>
      val res = permuted(id).zip(reb.coarse(cell)).map { case (a, b) => a - b }
      val (ed, ec) = (0 until 2)
        .map(c => (l2r6(res.slice(sub * 4, sub * 4 + 4), b1((sub, c))), c)).min
      assert(code == ec && dist == ed,
        s"id $id sub $sub: ($code,$dist) != permuted-space recompute ($ec,$ed)")
    }
    // An append takes BOTH pinned projections itself: the fresh id's
    // codes must equal the same permuted-space residual recompute.
    val fresh = Seq((6L, Array(0.3, 0.2, 0.3, 0.2, 9.3, 9.2, 9.3, 9.2))).toDF("id", "v")
    PqOps.incrementalPqEncode(spark, fresh, "v", "id", outd, "epochX")
      .commitLedger()
    val after = PqOps.readPqArtifacts(spark, outd)
    val freshPermuted = perm.toSeq.map(p => fresh.as[(Long, Seq[Double])]
      .collect().head._2(p))
    val freshRows = after.codes.filter(col("id") === 6L)
      .select(col("cell"), col("sub"), col("code"), col("dist"))
      .as[(Int, Int, Int, Double)].collect()
    assert(freshRows.length == 2)
    freshRows.foreach { case (cell, sub, code, dist) =>
      val res = freshPermuted.zip(after.coarse(cell)).map { case (a, b) => a - b }
      val (ed, ec) = (0 until 2)
        .map(c => (l2r6(res.slice(sub * 4, sub * 4 + 4), b1((sub, c))), c)).min
      assert(code == ec && dist == ed, s"appended id 6 sub $sub")
    }
  }

  test("balancedPerm deals variance tiers round-robin; applyPerm is the exact projection") {
    // 4-dim fixture, m = 2: variances 0 (dim0) < dim2 < dim3 < dim1 by
    // construction, so the rank order is 1, 3, 2, 0 and round-robin
    // dealing puts ranks {0, 2} in subspace 0 and {1, 3} in subspace 1 —
    // every subspace gets one high and one low tier, never all-signal.
    val df = Seq(
      (0L, Array(0.0, 10.0, 1.0, 5.0)),
      (1L, Array(0.0, -10.0, -1.0, -5.0)),
      (2L, Array(0.0, 20.0, 2.0, 15.0)),
      (3L, Array(0.0, -20.0, -2.0, -15.0))).toDF("id", "v")
    val perm = PqOps.balancedPerm(df, "v", m = 2)
    // perm(pos) = source dim: rank0(dim1)→pos0, rank2(dim2)→pos1,
    // rank1(dim3)→pos2, rank3(dim0)→pos3.
    assert(perm.toSeq == Seq(1, 2, 3, 0), perm.toSeq.toString)
    val got = PqOps.applyPerm(df, "v", perm, "pv")
      .select(col("id"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    assert(got(0L) == Seq(10.0, 1.0, 5.0, 0.0))
    assert(got(2L) == Seq(20.0, 2.0, 15.0, 0.0))
    // Variance ties keep dim order (the family's smaller-index rule).
    val tied = Seq((0L, Array(1.0, 1.0)), (1L, Array(3.0, 3.0))).toDF("id", "v")
    assert(PqOps.balancedPerm(tied, "v", m = 2).toSeq == Seq(0, 1))
    // A non-permutation refuses; a mis-sized row refuses per-row.
    intercept[IllegalArgumentException](
      PqOps.applyPerm(df, "v", Array(0, 0, 1, 2), "pv"))
    val ragged = Seq((0L, Array(1.0, 2.0))).toDF("id", "v")
    val e = intercept[Exception](
      PqOps.applyPerm(ragged, "v", perm, "pv").collect())
    assert(e.getMessage != null && e.getMessage.contains("applyPerm"), e.getMessage)
  }

  test("dim must split evenly across subspaces; bad params refuse loudly") {
    val ragged = Seq((0L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
    intercept[IllegalArgumentException](
      PqOps.fitPq(ragged, "v", "id", m = 2, kCodes = 1, iters = 0))
    intercept[IllegalArgumentException](
      PqOps.fitPq(vecs, "v", "id", m = 2, kCodes = 0, iters = 1))
    intercept[IllegalArgumentException](
      PqOps.adcSearch(vecs, "id", vecs, "id", "v",
        PqOps.PqModel(vecs, 2, 2, 4), topN = 0))
    intercept[IllegalArgumentException](
      PqOps.probeCells(vecs.select(col("id").as("qid"), col("v")), "v", "qid",
        Array(Array(0.0)), nprobe = 2))
  }

  test("rebalance carries the replay horizon: pre-rebalance epoch tokens refuse mechanically") {
    // Round 16 (verdict item 3): rebalanceStore collapses epochs into
    // the new store's base, and the "never replay a pre-rebalance epoch
    // token" rule is now a MARKER, not prose — the new namespaces carry
    // `_graft_folded_through_<oldHorizon>`, so incrementalPqEncode (and
    // the streaming drain's guard, which shares foldedThrough) refuses
    // an old `epoch<N>` token with the fold-replay error instead of
    // silently adding duplicate membership. Fresh tokens past the
    // horizon append normally.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_reb_horizon")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1,
      refineM = 4, refineK = 2)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch1").commitLedger()
    // UNFOLDED epochs on the old store — the rebalance itself must
    // derive the horizon from the partition names (no fold ever ran).
    val outd = root.resolve("pq2").toString
    PqOps.rebalanceStore(spark, dir, vecs, "v", "id", outd, maxPop = 3, iters = 1)
    val fs = new org.apache.hadoop.fs.Path(outd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("codes", "rcodes").foreach { ns =>
      assert(MaintenanceOps.foldedThrough(
        fs, new org.apache.hadoop.fs.Path(outd, ns)) == 1L,
        s"$ns must carry the old store's horizon")
    }
    // Replaying a pre-rebalance token into the NEW store refuses loudly.
    val e = intercept[IllegalStateException](PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", outd, "epoch1"))
    assert(e.getMessage.contains("folded"), e.getMessage)
    // A fresh token past the horizon appends normally and reads back.
    val fresh = Seq((7L, Array(0.4, 0.3, 0.4, 0.3, 9.4, 9.3, 9.4, 9.3))).toDF("id", "v")
    PqOps.incrementalPqEncode(spark, fresh, "v", "id", outd, "epoch2").commitLedger()
    assert(PqOps.readPqArtifacts(spark, outd).codes
      .filter(col("id") === 7L).count() == 2L)
    // A store that never committed an epoch writes NO marker (nothing
    // to refuse): rebalance the epoch-less base-only original... built
    // fresh here because `dir` has epochs.
    val dir2 = root.resolve("pq_noepoch").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir2,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1)
    val outd2 = root.resolve("pq_noepoch2").toString
    PqOps.rebalanceStore(spark, dir2, vecs, "v", "id", outd2, maxPop = 3, iters = 1)
    assert(MaintenanceOps.foldedThrough(
      fs, new org.apache.hadoop.fs.Path(outd2, "codes")) == -1L)
    PqOps.incrementalPqEncode(spark, fresh, "v", "id", outd2, "epoch0").commitLedger()
  }

  test("a purely numeric MANUAL token is not falsely refused by the fold guard") {
    // Round-16 ADVICE: the guard parsed `stripPrefix("epoch").toLong`,
    // so a manual token "5" (partition `_graft_epoch=5` — never foldable
    // by foldPqEpochs, which only folds `epoch<N>` names) was treated as
    // batch id 5 and refused once the store folded through epoch5. The
    // guard now fires only for the `epoch<N>` shape the fold folds.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_manual_tok")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    PqOps.foldPqEpochs(spark, dir, upToBatchId = 0L)
    // Folded through 0: the numeric manual token "0" must still append
    // (its partition is `_graft_epoch=0`, untouched by any fold) …
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "0").commitLedger()
    assert(PqOps.readPqArtifacts(spark, dir).codes
      .filter(col("id") === 5L).count() == 2L)
    // … while the foldable shape at-or-under the marker still refuses.
    intercept[IllegalStateException](PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 5L), "v", "id", dir, "epoch0"))
  }

  test("pqStoreDelete removes crashed-fold leftovers before counting (no double hits)") {
    // Round-16 ADVICE: ledgerDelete scans the namespace raw, so an
    // epoch dir left behind by a crashed fold (marker written, delete
    // pending — its rows already merged into base) would double-count
    // the ids' hits AND pay a rewrite of a partition slated for
    // deletion. pqStoreDelete now deletes marked leftovers first, the
    // same entry step foldPqEpochs takes.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_del_leftover")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs.filter(col("id") < 4), "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 1, coarseIters = 1)
    PqOps.incrementalPqEncode(
      spark, vecs.filter(col("id") === 4L), "v", "id", dir, "epoch0").commitLedger()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash-leftover: fold epoch0, then resurrect its directory.
    val src = new org.apache.hadoop.fs.Path(dir, "codes/_graft_epoch=epoch0")
    val stash = new org.apache.hadoop.fs.Path(root.toString, "stash")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, stash, false,
      spark.sparkContext.hadoopConfiguration)
    PqOps.foldPqEpochs(spark, dir, upToBatchId = 0L)
    org.apache.hadoop.fs.FileUtil.copy(fs, stash, fs, src, false,
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(src), "leftover resurrected")
    // Takedown of the folded epoch's id: exactly m=2 rows counted and
    // deleted (base only — the leftover is removed, not rewritten), and
    // the store's total is 5 ids × 2 rows before, 4 × 2 after.
    val rs = PqOps.pqStoreDelete(spark, dir, "id", Seq(4L),
      root.resolve("audit").toString)
    assert(rs("codes").deleted == 2L, rs.toString)
    assert(rs("codes").rowsBefore == 10L && rs("codes").rowsAfter == 8L,
      rs.toString)
    assert(!fs.exists(src), "the leftover must be physically gone")
    assert(PqOps.readPqArtifacts(spark, dir).codes
      .filter(col("id") === 4L).count() == 0L)
  }

  test("annRecall measures the pinned searcher against exact L2 truth (E154)") {
    // The CLI's --ann-recall number must be the AccuracySpec measurement
    // itself: recompute exact top-k driver-side and the searcher's top-k
    // through the same public API, and the operator's number must equal
    // the local recompute bit-for-bit. With every cell probed and the
    // corpus this separable, the searcher finds each query's own cluster
    // partner — recall is exactly recomputable, not just bounded.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_recall")
    val dir = root.resolve("pq").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dir,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1)
    val arts = PqOps.readPqArtifacts(spark, dir)
    val k = 2; val nq = 3; val nprobe = 2
    val got = PqOps.annRecall(arts, vecs, "v", "id",
      k = k, nQueries = nq, nprobe = nprobe)
    assert(got >= 0.0 && got <= 1.0, got.toString)
    // Local recompute: exact top-k (6-dp L2, ties to smaller id) per
    // sampled query vs the same searchArtifacts call annRecall makes.
    val all = vecs.as[(Long, Seq[Double])].collect()
    val qs = all.sortBy(_._1).take(nq)
    val exact = qs.map { case (qid, qv) =>
      qid -> all.map { case (vid, vv) => (l2r6(qv, vv), vid) }
        .sortBy(identity).take(k).map(_._2).toSet
    }.toMap
    val queries = vecs.filter(col("id") < nq.toLong)
      .select(col("id").as("_graft_qid"), col("v"))
    val ann = PqOps.searchArtifacts(arts, "id", queries, "_graft_qid", "v",
        topN = k, nprobe = nprobe)
      .select(col("_graft_qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = qs.map { case (qid, _) =>
      (ann.getOrElse(qid, Set.empty[Long]) & exact(qid)).size.toDouble / k
    }.sum / nq
    assert(got == want, s"annRecall $got != local recompute $want")
    // The refined path routes through searchArtifactsRefined.
    val dirR = root.resolve("pqr").toString
    PqOps.writePqArtifacts(spark, vecs, "v", "id", dirR,
      m = 2, kCodes = 2, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 2)
    val gotR = PqOps.annRecall(PqOps.readPqArtifacts(spark, dirR), vecs, "v",
      "id", k = k, nQueries = nq, nprobe = nprobe, topR = 4)
    assert(gotR >= 0.0 && gotR <= 1.0)
  }

  // ---- Literal (driver-held codebook) path parity (round 17) ----
  // The assignPath discipline applied to PQ: the literal fit/encode must
  // be bit-identical to the join path on every (sub, code, dist) row —
  // the optimization is a plan change, never a value change.

  test("literal and join fits produce identical codebooks") {
    val lit = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 2,
      literal = true)
    val join = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 2,
      literal = false)
    assert(lit.local.isDefined && join.local.isEmpty)
    val a = lit.codebooks.as[(Int, Int, Seq[Double])].collect().sortBy(r => (r._1, r._2))
    val b = join.codebooks.as[(Int, Int, Seq[Double])].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq, s"literal books $a != join books $b")
  }

  test("literal and join encodes are row-identical (same model values)") {
    val lit = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 2,
      literal = true)
    // Same codebook VALUES forced through the join path: strip `local`.
    val asJoin = lit.copy(local = None)
    val a = PqOps.encode(vecs, "v", "id", lit)
      .as[(Long, Int, Int, Double)].collect().sortBy(r => (r._1, r._2))
    val b = PqOps.encode(vecs, "v", "id", asJoin)
      .as[(Long, Int, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq, s"literal encode $a != join encode $b")
  }

  test("literal and join reconstructs are row-identical (same model values)") {
    val lit = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 2,
      literal = true)
    val codes = PqOps.encode(vecs, "v", "id", lit)
    val a = PqOps.reconstruct(codes, "id", lit, "r")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val b = PqOps.reconstruct(codes, "id", lit.copy(local = None), "r")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq, s"literal reconstruct $a != join reconstruct $b")
  }

  test("literal reconstruct refuses torn codes loudly") {
    val lit = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 1,
      literal = true)
    val codes = PqOps.encode(vecs, "v", "id", lit)
    val torn = codes.filter(!(col("id") === 1 && col("sub") === 1))
    val e = intercept[Exception](
      PqOps.reconstruct(torn, "id", lit, "r").collect())
    assert(e.getMessage != null && e.getMessage.contains("torn"),
      s"expected the torn-codes guard, got: ${e.getMessage}")
  }

  test("literal-path rounding is Spark's round, bit-for-bit") {
    // The native generators restate Spark's round(x, s) as
    // BigDecimal.valueOf + HALF_UP (PqExprOps.roundAt); this pins the
    // restatement against Spark's own Round over adversarial
    // representation-boundary values AND seeded random doubles — if Spark
    // ever changes Round semantics, this fails before any oracle does.
    val adversarial = Seq(
      0.5, 1.5, 2.5, -0.5, -1.5, 0.49999999999999994, 2.4999999999999996,
      0.0000005, 0.00000049999999, 1.0000004999999999, 123.45678949999999,
      9.9999995, 0.1 + 0.2, 1e-7, 4.9999999e-7)
    val rnd = new scala.util.Random(42)
    val xs = adversarial ++ Seq.fill(5000)(rnd.nextDouble() * 100.0) ++
      Seq.fill(1000)(rnd.nextDouble() * 1e7)
    val df = xs.toDF("x")
    val sparkRounded = df.select(round(col("x"), 6), round(col("x") * 1e6))
      .as[(Double, Double)].collect()
    xs.zip(sparkRounded).foreach { case (x, (r6, r0)) =>
      assert(PqExprOps.roundAt(x, 6) == r6, s"roundAt($x, 6) != Spark round")
      assert(PqExprOps.roundAt(x * 1e6, 0) == r0, s"roundAt($x*1e6, 0) != Spark round")
    }
  }

  test("literal encode refuses a wrong-dim vector with the family message") {
    val lit = PqOps.fitPqPath(vecs, "v", "id", m = 2, kCodes = 2, iters = 1,
      literal = true)
    val ragged = Seq((7L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
    val e = intercept[Exception](PqOps.encode(ragged, "v", "id", lit).collect())
    assert(e.getMessage != null && e.getMessage.contains("vector dim must be 8"),
      s"expected the dim guard, got: ${e.getMessage}")
  }
}
