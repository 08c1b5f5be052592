package graft.operators

import graft.Tables
import graft.pipeline.Connectors
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public; SURVEY §2.3 extension surface
  * E139/E140/E142 — reference scope per `Etl_data_pipeline/README.md:1-40`:
  * the reference moves tables and leaves analysis downstream, so the
  * vector-search tier is declared extension) — the standard 100 TB-scale
  * vector-compression play the IVF family (E52/E67) composes with: split
  * every vector into `m` contiguous subvectors, fit an independent
  * k-means codebook per subspace, and store each vector as `m` small
  * codes (dim 64 × float → 4 bytes at m=4/k=256: a 64× compression), with
  * search by ASYMMETRIC DISTANCE COMPUTATION (ADC) — the query stays
  * exact, each candidate's distance is the sum of m table lookups.
  *
  * Scale shape, stage by stage:
  *   - '''fit''' is the E133 fine-fit discipline with the subspace index
  *     as the cell: ONE explode of the corpus into (id, sub, subvec) rows
  *     (m× rows but the same total bytes), then every Lloyd round is one
  *     sub-equi-join against the (m × kCodes)-row codebook frame + the
  *     packed-code map-side arg-min + one (sub, code, dim) aggregation —
  *     all m codebooks fit SIMULTANEOUSLY, never m driver loops re-scanning
  *     the corpus. Seeding is a driver-sized TakeOrdered (the kCodes
  *     smallest ids — ≤ kCodes rows) broadcast back onto the subvectors:
  *     never a row_number window partitioned m ways, which would funnel
  *     the WHOLE corpus through m tasks' sorts (the E76/E137 hazard;
  *     plan-gated in PqOpsSpec).
  *   - '''encode''' is the same arg-min join, once: (id, sub, code, dist)
  *     rows, the columnar layout downstream ADC reads directly (assembling
  *     an array per id would be one more shuffle for no consumer).
  *   - '''ADC search''' never touches a raw corpus vector: the per-query
  *     lookup table is (queries × m × kCodes) rows — workload-sized,
  *     broadcast — joined to the codes on (sub, code), summed per
  *     (query, id), cut by the bounded-buffer grouped top-k (E76). A
  *     whole query TABLE costs one pass over the codes, the q152 batch
  *     discipline.
  *   - '''IVFADC''' reads only the PROBED cells: the codes artifact is
  *     written `partitionBy(cell)` (the E57 layout), the probed-cell set
  *     is workload-sized and collected driver-side, and the search's
  *     `isin` filter resolves to parquet PartitionFilters — per-query I/O
  *     is the probed cells' population, never the corpus (plan-gated).
  *
  * Stored artifacts carry a CONSTRUCTION PIN (the E89/E109 ledger rule):
  * `_graft_pq_construction` records (m, kCodes, subDim, coarseK), is
  * written BEFORE any data, and every read REQUIRE-matches it — ADC
  * against codebooks re-fit with different parameters would silently
  * mis-score. Incremental encode (the ledger rule's seventh space) lands
  * each batch in its own `_graft_epoch=<token>` partition with dynamic
  * overwrite, so at-least-once replay reproduces identical codes instead
  * of duplicating them (the E109 protocol).
  *
  * Determinism (the q115/q148 oracle contract, lockstep rule — change
  * both or neither): codebook seeds are the subvectors of the `kCodes`
  * smallest ids (per sub, the same ids), distances round at 6 dp with
  * ties to the smaller code, centroid means round at 6 dp, empty codes
  * keep their previous centroid, and ADC scores round at 6 dp with
  * (score asc, id asc) ranking — every number is a pure function of the
  * data, so DuckDB hash-matches the whole chain (q156/q157/q159–q161).
  */
object PqOps {

  /** Fitted model: one row per (sub, code) — `m × kCodes` rows, kept as a
    * DataFrame (join state, not driver state — at m=8, k=2^20 the
    * codebook outgrows the driver exactly like E133's fine model).
    *
    * `local` (round 17, guide §2.4/§3.1): the SAME codebooks as driver
    * arrays (`local(sub)(code)` = centroid), present only when
    * `kCodes ≤ KmeansOps.LiteralPathMaxK` — the [[KmeansOps.assignPath]]
    * dual-path rule applied to PQ. With it, [[encode]] and the ADC lookup
    * table become zero-shuffle codegen projections (no codebook join, no
    * per-(id, sub) arg-min exchange); without it every consumer keeps the
    * join-state path that scales to k=2^20 codebooks. Both paths are
    * bit-identical by construction (same packed-long arithmetic;
    * spec-pinned in PqOpsSpec). */
  final case class PqModel(
      codebooks: DataFrame, m: Int, kCodes: Int, subDim: Int,
      local: Option[Array[Array[Array[Double]]]] = None)

  /** (id, _graft_sub, _graft_v): the corpus exploded into contiguous
    * subvectors — the ONLY row-count amplification in the family (m×,
    * same total bytes). `dim` must split evenly: a ragged last subspace
    * would silently skew its codebook's distance scale — with
    * `expectDim` unset the divisibility check itself is woven into the
    * column (a bare `size % m` slice would silently DROP the trailing
    * `dim % m` elements); with `expectDim` (set by [[encode]]/
    * [[adcSearch]] from the fitted model) any mismatched vector is a
    * LOUD per-row error instead of silently wrong codes. Either guard
    * rides the data column: costs no extra pass and cannot be pruned. */
  def subvectors(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      expectDim: Option[Int] = None): DataFrame = {
    require(m >= 1, s"m must be positive: $m")
    val w = transform(col(vecCol), _.cast("double"))
    val guarded = expectDim match {
      case Some(d) =>
        when(size(col(vecCol)) === d, w).otherwise(raise_error(concat(
          lit(s"pq: vector dim must be $d (m × subDim of the fit/model), got "),
          size(col(vecCol)).cast("string"))))
      case None =>
        when(size(col(vecCol)) % m === 0, w).otherwise(raise_error(concat(
          lit(s"pq: vector dim must split evenly into m=$m subspaces, got dim "),
          size(col(vecCol)).cast("string"))))
    }
    df.select(col(idCol), guarded.as("_graft_w"))
      .select(col(idCol),
        // Integer subspace width (dim divisible by m — guarded above;
        // a `/` here would be double division and slice() garbage).
        (size(col("_graft_w")).cast("int") / lit(m)).cast("int").as("_graft_sd"),
        col("_graft_w"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(m - 1)), s =>
          slice(col("_graft_w"), s * col("_graft_sd") + 1, col("_graft_sd"))))
          .as(Seq("_graft_sub", "_graft_v")))
  }

  /** Seed codebooks: per sub, the subvectors of the `kCodes` smallest
    * ids — the SAME id set for every subspace, so it comes from ONE
    * driver-sized TakeOrdered (`orderBy(id).limit(kCodes)`, ≤ kCodes
    * rows) ranked by a single bounded collect and broadcast-joined back
    * onto the subvector frame. Deliberately NOT
    * `row_number().over(partitionBy(sub).orderBy(id))`: that window has
    * exactly m partitions, each funneling the ENTIRE corpus's subvectors
    * through one task's sort — 4 tasks sorting 10^12 rows at scale (the
    * round-12 weak mark; plan-gated in PqOpsSpec: no Window node). */
  private[operators] def seedBooks(
      subs: DataFrame,
      df: DataFrame,
      idCol: String,
      kCodes: Int): DataFrame = {
    val seedIds = df.select(col(idCol)).orderBy(col(idCol)).limit(kCodes)
      .agg(array_sort(collect_list(col(idCol))).as("_graft_ids"))
      .select(posexplode(col("_graft_ids")).as(Seq("_graft_code", idCol)))
    subs.join(broadcast(seedIds), Seq(idCol))
      .select(col("_graft_sub"), col("_graft_code"),
        col("_graft_v").as("_graft_c"))
  }

  /** Fit all `m` codebooks simultaneously: `iters` Lloyd rounds over the
    * subvector frame with the codebook as distributed join state — or,
    * for `kCodes ≤ KmeansOps.LiteralPathMaxK`, over driver-held codebook
    * arrays with each Lloyd round ONE aggregation job (the
    * [[KmeansOps.updateStep]] shape): no subvector materialization, no
    * per-round codebook join, no (id, sub) arg-min exchange. The two
    * paths share the packed-long arg-min arithmetic and the
    * `round(avg(x), 6)` update, so the fitted centroids are identical
    * (spec-pinned). */
  def fitPq(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      kCodes: Int,
      iters: Int): PqModel =
    fitPqPath(df, vecCol, idCol, m, kCodes, iters,
      literal = kCodes <= KmeansOps.LiteralPathMaxK)

  /** Path-pinned [[fitPq]] — package-visible so the spec can prove both
    * paths produce identical models (the [[KmeansOps.assignPath]]
    * discipline). */
  private[operators] def fitPqPath(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      kCodes: Int,
      iters: Int,
      literal: Boolean): PqModel = {
    require(kCodes > 0, s"kCodes must be positive: $kCodes")
    require(kCodes < (1 << KmeansOps.ClusterBits),
      s"arg-min packs the code into ${KmeansOps.ClusterBits} bits; kCodes=$kCodes exceeds it")
    require(iters >= 0, s"iters must be non-negative: $iters")
    if (literal) return fitPqLiteral(df, vecCol, idCol, m, kCodes, iters)
    // Dim discipline WITHOUT a dedicated corpus pass (round-14 hygiene):
    // read one row's dim, check divisibility on the driver, and let the
    // per-row expectDim guard inside the explode refuse any OTHER dim
    // loudly at execution — a full `distinct` over sizes spent a whole
    // scan to learn what the first explode's guard enforces for free.
    val headDim = df.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(headDim.nonEmpty, "fitPq needs a non-empty corpus")
    val dim = headDim.head.getInt(0)
    require(dim % m == 0,
      s"vector dim must be uniform and divisible by m=$m, got $dim")
    val subDim = dim / m
    val subs = Tables.materialize(
      subvectors(df, vecCol, idCol, m, expectDim = Some(dim)))
    var books = Tables.materialize(seedBooks(subs, df, idCol, kCodes))
    for (_ <- 1 to iters) {
      val am = argmin(subs, books, idCol)
      val upd = am.join(subs, Seq(idCol, "_graft_sub"))
        .select(col("_graft_sub"), col("_graft_code"),
          posexplode(col("_graft_v")).as(Seq("i", "x")))
        .groupBy(col("_graft_sub"), col("_graft_code"), col("i"))
        .agg(round(avg(col("x")), 6).as("mn"))
        .groupBy(col("_graft_sub"), col("_graft_code"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mn")))),
          st => st.getField("mn")).as("_graft_cu"))
      books = Tables.materialize(
        books.join(upd, Seq("_graft_sub", "_graft_code"), "left")
          .select(col("_graft_sub"), col("_graft_code"),
            coalesce(col("_graft_cu"), col("_graft_c")).as("_graft_c")))
    }
    PqModel(books, m, kCodes, subDim)
  }

  /** (index, centroid) frame from driver arrays — explicit schema + local
    * rows, shared by every centroid-broadcast site (round 17: `toDF` runs
    * TypeTag encoder derivation through Scala runtime reflection on every
    * call — pure driver overhead for a static two-column schema). */
  private[operators] def centsDf(
      spark: SparkSession,
      cents: Array[Array[Double]],
      idName: String,
      vecName: String): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField(idName, IntegerType, nullable = false),
      StructField(vecName, ArrayType(DoubleType), nullable = true)))
    val rows = new java.util.ArrayList[Row]()
    cents.zipWithIndex.foreach { case (c, i) => rows.add(Row(i, c.toSeq)) }
    spark.createDataFrame(rows, schema)
  }

  /** Codebook frame from driver arrays — explicit schema + local rows
    * (NOT `toDF`: the TypeTag encoder derivation behind it runs Scala
    * runtime reflection on every call — measurable driver time paid once
    * per fit for no value; the schema here is static). */
  private def booksDf(
      spark: SparkSession, books: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("_graft_sub", IntegerType, nullable = false),
      StructField("_graft_code", IntegerType, nullable = false),
      StructField("_graft_c", ArrayType(DoubleType), nullable = true)))
    val rows = new java.util.ArrayList[Row]()
    books.zipWithIndex.foreach { case (codes, s) =>
      codes.zipWithIndex.foreach { case (c, i) => rows.add(Row(s, i, c.toSeq)) }
    }
    spark.createDataFrame(rows, schema)
  }

  /** The literal-path generators as Columns. The first literal cut
    * unrolled the arg-min through built-ins (`least` over m × kCodes
    * `round(l2(slice, typedLit))` legs) — measured WORSE on the m=8
    * refinement level: whole-stage codegen blew janino's 64 KB method
    * limit and every affected stage paid a failed compile + interpreted
    * fallback (scaladoc on [[graft.plans.PqExpressions]]). The native
    * generator runs the same arithmetic as a compiled loop. */
  private def encodeGen(vecCol: String, books: Array[Array[Array[Double]]],
      withSubvec: Boolean): Column =
    graft.functions.VectorFunctions.pqEncodeGen(col(vecCol), books, withSubvec)

  private def lutGen(vecCol: String, books: Array[Array[Array[Double]]]): Column =
    graft.functions.VectorFunctions.pqLutGen(col(vecCol), books)

  /** Literal-path fit: seeds from ONE driver-sized TakeOrdered collect
    * (the subvectors of the `kCodes` smallest ids — [[seedBooks]]'
    * semantics without its join), then each Lloyd round is ONE job: a
    * literal arg-min projection feeding the (sub, code, i)
    * `round(avg, 6)` aggregation, collected at m × kCodes × subDim rows
    * (driver-bounded by the literal-path gate). Codes that captured no
    * rows keep their previous centroid — the join path's left-join rule.
    * The returned model carries BOTH forms: the codebook frame (a local
    * relation — artifact writes and join-path consumers read it
    * unchanged) and the `local` arrays the projection paths use. */
  private def fitPqLiteral(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      kCodes: Int,
      iters: Int): PqModel = {
    val seedRows = df
      .select(col(idCol), transform(col(vecCol), _.cast("double")).as("_graft_w"))
      .orderBy(col(idCol))
      .limit(kCodes)
      .collect()
    require(seedRows.nonEmpty, "fitPq needs a non-empty corpus")
    val dim = seedRows.head.getSeq[Double](1).length
    require(dim % m == 0,
      s"vector dim must be uniform and divisible by m=$m, got $dim")
    val subDim = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      seedRows.map(_.getSeq[Double](1).slice(s * subDim, (s + 1) * subDim).toArray))
    for (_ <- 1 to iters) {
      val agg = df
        .select(encodeGen(vecCol, books, withSubvec = true)
          .as(Seq("sub", "code", "dist", "sv")))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("sub"), col("code"), col("i"))
        .agg(round(avg(col("x")), 6).as("mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      agg.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      books = next
    }
    PqModel(booksDf(df.sparkSession, books), m, kCodes, subDim, local = Some(books))
  }

  /** Arg-min of 6-dp L2 over each subvector's OWN subspace codebook —
    * the E133 packed-long discipline (a struct-valued min would degrade
    * to SortAggregate). Returns (idCol, _graft_sub, _graft_code,
    * _graft_dist). */
  private def argmin(subs: DataFrame, books: DataFrame, idCol: String): DataFrame = {
    val bits = KmeansOps.ClusterBits
    val code = round(
      graft.functions.VectorFunctions.l2Distance(col("_graft_v"), col("_graft_c")) * 1e6)
      .cast("long") * lit(1L << bits) + col("_graft_code")
    subs.join(books, Seq("_graft_sub"))
      .select(col(idCol), col("_graft_sub"), code.as("_graft_pk"))
      .groupBy(col(idCol), col("_graft_sub"))
      .agg(min(col("_graft_pk")).as("_graft_pk"))
      .select(col(idCol), col("_graft_sub"),
        col("_graft_pk").bitwiseAND(lit((1L << bits) - 1))
          .cast("int").as("_graft_code"),
        (shiftright(col("_graft_pk"), bits).cast("double") / 1e6)
          .as("_graft_dist"))
  }

  /** Encode the corpus against a fitted model: one row per (id, sub) —
    * (idCol, sub, code, dist), dist the 6-dp subspace quantization
    * error. Columnar on purpose: ADC joins on (sub, code) directly.
    *
    * With a driver-held codebook ([[PqModel.local]], the literal-path
    * gate) this is a ZERO-shuffle codegen projection — per row, each
    * subspace's packed arg-min over its literal codebook, exploded to
    * the same (id, sub, code, dist) rows; no codebook join, no
    * (id, sub) exchange. Identical output by the shared packed-long
    * arithmetic (spec-pinned). */
  def encode(df: DataFrame, vecCol: String, idCol: String, model: PqModel): DataFrame =
    model.local match {
      case Some(books) =>
        df.select(col(idCol),
          encodeGen(vecCol, books, withSubvec = false).as(Seq("sub", "code", "dist")))
      case None =>
        argmin(subvectors(df, vecCol, idCol, model.m,
            expectDim = Some(model.m * model.subDim)), model.codebooks, idCol)
          .select(col(idCol), col("_graft_sub").as("sub"),
            col("_graft_code").as("code"), col("_graft_dist").as("dist"))
    }

  /** Attach the coarse-cell column to an [[encode]] output — the BUILD-
    * time join (one shuffle, once, at write) that lets every later
    * [[ivfAdcSearch]] skip the per-search corpus-wide id-join entirely:
    * search filters `cell`, it never joins on id. `cells` is the coarse
    * assignment (idCol, cluster). LEFT join + loud per-row refusal (the
    * family's rule): an inner join would silently DROP any encoded id
    * missing from the cells frame — a misaligned build input losing
    * corpus rows quietly, while every other param mismatch in this file
    * raise_errors. */
  def attachCells(codes: DataFrame, cells: DataFrame, idCol: String): DataFrame =
    codes.join(cells.select(col(idCol), col("cluster").as("cell")), Seq(idCol), "left")
      .withColumn("cell",
        when(col("cell").isNotNull, col("cell")).otherwise(raise_error(concat(
          lit("attachCells: encoded id "), col(idCol).cast("string"),
          lit(" has no coarse-cell assignment — the codes and cells frames " +
            "cover different id sets; rebuild from one corpus scan")))))

  /** [[encode]] with the cell column carried THROUGH the projection
    * (round 17, guide §2.4): the build-time [[attachCells]] join is a
    * self-join of two narrow frames whenever the cell assignment already
    * rides the encode's own input (residual frames carry `cell`; raw
    * corpora get it from [[KmeansOps.assign]]'s narrow projection) — so
    * with a driver-held codebook the whole build is ONE generator
    * projection, zero exchanges. Output columns, order, and the loud
    * null-cell refusal match `attachCells(encode(df), cells)` exactly;
    * without a local codebook it falls back to that join. */
  def encodeWithCell(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      model: PqModel,
      cellCol: String): DataFrame = model.local match {
    case Some(books) =>
      val guardedCell = when(col(cellCol).isNotNull, col(cellCol))
        .otherwise(raise_error(concat(
          lit("attachCells: encoded id "), col(idCol).cast("string"),
          lit(" has no coarse-cell assignment — the codes and cells frames " +
            "cover different id sets; rebuild from one corpus scan"))))
      df.select(col(idCol),
        encodeGen(vecCol, books, withSubvec = false).as(Seq("sub", "code", "dist")),
        guardedCell.as("cell"))
    case None =>
      attachCells(encode(df, vecCol, idCol, model),
        df.select(col(idCol), col(cellCol).as("cluster")), idCol)
  }

  /** encode + coarse assignment, fused (round 17): callers that built
    * `cells` as the coarse model's own assignment paid a shuffle join of
    * two narrow projections OVER THE SAME SCAN. The assignment is
    * [[KmeansOps.assign]]'s projection (literal zero-shuffle for small
    * k), the encode rides [[encodeWithCell]] — for literal-path models
    * the entire codes-with-cells build is one projection. */
  def encodeAttached(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      model: PqModel,
      coarse: Array[Array[Double]]): DataFrame = {
    val asg = KmeansOps.assign(
        df.select(col(idCol), col(vecCol)), vecCol, idCol, coarse)
      .withColumnRenamed("cluster", "_graft_acell")
      .drop("dist")
    encodeWithCell(asg, vecCol, idCol, model, "_graft_acell")
  }

  /** [[reconstructionErrors]] with the codes' cell column riding the
    * SAME per-id assembly aggregation (round 17) — (idCol, _graft_err,
    * cell), so the refinement encode can [[encodeWithCell]] instead of
    * re-joining the coarse assignment. `codes` must carry `cell`. */
  def reconstructionErrorsWithCell(
      src: DataFrame,
      vecCol: String,
      idCol: String,
      model: PqModel,
      codes: DataFrame): DataFrame = {
    val dim = model.m * model.subDim
    val rec = reconstructCarrying(codes, idCol, model, "_graft_rec",
      carry = Some("cell" -> "cell"))
    val guarded = when(size(col(vecCol)) === dim,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"reconstructionErrors: vector dim must be $dim (the model's), got "),
        size(col(vecCol)).cast("string"))))
    src.select(col(idCol), guarded.as("_graft_gv"))
      .join(rec, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_graft_rec").isNotNull,
          zip_with(col("_graft_gv"), col("_graft_rec"), (a, b) => a - b))
        .otherwise(raise_error(concat(
          lit("reconstructionErrors: id "), col(idCol).cast("string"),
          lit(" has no stage-1 codes — the codes and source frames cover " +
            "different id sets; rebuild from one corpus scan")))).as("_graft_err"),
        col("cell"))
  }

  /** E144: coarse RESIDUALS — (idCol, cell, residual) with
    * `residual = v − coarseCentroid(cell(v))`, the vector Jégou 2011's
    * actual IVFADC quantizes (§IV.B: PQ on the raw vector wastes its
    * code budget re-describing WHICH cell the vector sits in — the cell
    * id already says that; quantizing the residual spends all m codes on
    * the within-cell offset, where the information is). Compose:
    * `residuals` → [[fitPq]]/[[encode]] on the `residual` column → the
    * codes already carry `cell`. SEARCH side (round 14): residual codes
    * are searched by [[ivfAdcSearchResidual]] ONLY — [[ivfAdcSearch]]/
    * [[adcSearch]] build their LUT from RAW query subvectors and would
    * silently mis-score residual codes; the artifact store records the
    * formulation in its pin and [[searchArtifacts]] routes on it.
    *
    * One narrow pass: the cell arg-min is [[KmeansOps.assign]]'s
    * zero-shuffle projection (literal path) or broadcast join, and the
    * subtraction is a codegen'd `zip_with` against the broadcast
    * centroid row — no corpus shuffle anywhere. Determinism: the
    * centroid elements are the fit's 6-dp values and the input casts
    * float→double exactly, so the residual doubles are bit-identical on
    * any engine (subtraction of exact doubles) — the downstream PQ
    * chain keeps its oracle (q162). */
  def residuals(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      coarse: Array[Array[Double]]): DataFrame = {
    require(coarse.nonEmpty, "residuals needs at least one coarse centroid")
    val dim = coarse.head.length
    require(coarse.forall(_.length == dim),
      s"coarse centroids must share one dim, got ${coarse.map(_.length).distinct.mkString(",")}")
    val spark = df.sparkSession
    import spark.implicits._
    // Per-row dim guard woven into the data column (the family's LOUD
    // rule): a mismatched vector would otherwise zip_with into
    // null-padded residuals and silently corrupt every downstream code.
    val guarded = when(size(col(vecCol)) === dim,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"residuals: vector dim must be $dim (the coarse model's), got "),
        size(col(vecCol)).cast("string"))))
    val asg = KmeansOps.assign(df, vecCol, idCol, coarse)
      .select(col(idCol), col("cluster"), col(vecCol))
    if (coarse.length <= KmeansOps.LiteralPathMaxK) {
      // Literal path (round 17): the centroid lookup is element_at on a
      // literal table indexed by the just-computed cluster — the
      // subtraction stays in the same zero-shuffle projection as the
      // assignment instead of paying a broadcast build + join.
      val centLit = typedLit(coarse.map(_.toSeq).toSeq)
      asg.select(col(idCol), col("cluster").as("cell"),
        zip_with(guarded, element_at(centLit, col("cluster") + 1),
          (a, b) => a - b).as("residual"))
    } else {
      val centDf = broadcast(centsDf(spark, coarse, "cluster", "_graft_cc"))
      asg.join(centDf, Seq("cluster"))
        .select(col(idCol), col("cluster").as("cell"),
          zip_with(guarded, col("_graft_cc"), (a, b) => a - b).as("residual"))
    }
  }

  /** E151 (round 15): residuals AGAINST DECLARED CELLS — (idCol, cell,
    * residual) with `residual = v − cents(cell)`, where `cell` is the
    * CALLER's assignment column, not a fresh arg-min. This is the
    * rebalance re-encode contract: [[KmeansOps.splitHotCells]] reassigns
    * a hot cell's members only among that cell's own children (local
    * surgery — the point is NOT re-clustering the corpus), so a split
    * member's recorded child stands even if another cell's centroid is
    * globally nearer; the store invariant that matters downstream is
    * only that each code quantizes `v − centroid(recorded cell)`, which
    * is exactly what [[ivfAdcSearchResidual]]'s per-(query, cell) LUT
    * assumes. [[residuals]] (fresh arg-min) would silently file edge
    * members under a DIFFERENT cell than the one their codes are stored
    * in — the mis-pairing this declared-cell variant exists to avoid.
    *
    * Same guards as [[residuals]]: per-row dim check woven into the data
    * column, and a LEFT centroid join with a loud per-row refusal for a
    * cell outside the table (an inner join would silently drop the row —
    * the attachCells rule). Same determinism: exact double subtraction
    * of 6-dp centroid elements (q169). */
  def residualsAt(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cellCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    require(cents.nonEmpty, "residualsAt needs at least one centroid")
    val dim = cents.head.length
    require(cents.forall(_.length == dim),
      s"centroids must share one dim, got ${cents.map(_.length).distinct.mkString(",")}")
    val spark = df.sparkSession
    import spark.implicits._
    val guarded = when(size(col(vecCol)) === dim,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"residualsAt: vector dim must be $dim (the centroid table's), got "),
        size(col(vecCol)).cast("string"))))
    val outOfRange = raise_error(concat(
      lit("residualsAt: id "), col(idCol).cast("string"),
      lit(" declares cell "), col("cell").cast("string"),
      lit(s" outside the centroid table [0, ${cents.length}) — these " +
        "assignments were not produced against this table")))
    val base = df.select(
      col(idCol), col(cellCol).cast("int").as("cell"), col(vecCol))
    if (cents.length <= KmeansOps.LiteralPathMaxK) {
      // Literal path (round 17): element_at on the literal centroid
      // table, in the same projection as the cast — no broadcast build,
      // no join. The explicit range guard keeps the loud refusal (and
      // blocks element_at's from-the-end semantics on a negative cell).
      val centLit = typedLit(cents.map(_.toSeq).toSeq)
      base.select(col(idCol), col("cell"),
        when(col("cell") >= 0 && col("cell") < cents.length,
          zip_with(guarded, element_at(centLit, col("cell") + 1),
            (a, b) => a - b))
        .otherwise(outOfRange).as("residual"))
    } else {
      val centDf = broadcast(centsDf(spark, cents, "_graft_rcell", "_graft_cc"))
      base.join(centDf, col("cell") === col("_graft_rcell"), "left")
        .select(col(idCol), col("cell"),
          when(col("_graft_cc").isNotNull,
            zip_with(guarded, col("_graft_cc"), (a, b) => a - b))
          .otherwise(outOfRange).as("residual"))
    }
  }

  /** E145: exact RE-RANK of an ANN shortlist (IVFADC+R, Jégou 2011 §V):
    * the ADC/IVFADC top-R candidates per query are re-scored with the
    * EXACT vector distance and cut to top-`topN` — the standard
    * two-stage shape at 10^12 vectors: the code domain does the corpus
    * work (cheap, approximate), the exact pass touches only Q × R raw
    * vectors (workload-sized, so its cost is independent of n).
    *
    * `shortlist` is (qidCol, idCol) — any searcher's output; `corpus`
    * holds the raw vectors. The shortlist BROADCASTS onto the corpus
    * (one scan, no shuffle — only Q × R rows survive), query vectors
    * broadcast on, and the cut is the bounded-buffer grouped top-k.
    * Scores are the 6-dp exact L2 (`dist`), ties to the smaller id. */
  def refine(
      shortlist: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN out of range: $topN")
    val cands = shortlist.select(col(qidCol), col(idCol))
    val withVec = corpus.select(col(idCol), col(vecCol).as("_graft_cv"))
      .join(broadcast(cands), Seq(idCol))
    val qv = queries.select(col(qidCol), col(vecCol).as("_graft_qv"))
    // Per-row dim guard (the family's LOUD rule): the native L2 would
    // silently truncate to the shorter vector on a query/corpus dim
    // mismatch — plausible-looking but wrong "exact" distances.
    val l2 = when(size(col("_graft_qv")) === size(col("_graft_cv")),
        graft.functions.VectorFunctions.l2Distance(
          col("_graft_qv"), col("_graft_cv")))
      .otherwise(raise_error(concat(
        lit("refine: query dim "), size(col("_graft_qv")).cast("string"),
        lit(" != corpus dim "), size(col("_graft_cv")).cast("string"))))
    val scored = withVec.join(broadcast(qv), Seq(qidCol))
      .select(col(qidCol), col(idCol), (-l2).as("_graft_neg"))
    TopKOps.groupedTopK(scored, qidCol, "_graft_neg", idCol, topN)
      .withColumn("dist", round(-col("_graft_neg"), 6))
      .drop("_graft_neg")
  }

  /** E148: DECODE a coded vector set back to explicit vectors — each id's
    * m codewords, concatenated in subspace order: `x̂ = [c(0,code₀) ‖ … ‖
    * c(m−1,code_{m−1})]`, the reconstruction the PQ literature scores
    * against (Jégou 2011 §III; the 2011 ICASSP re-ranking paper's source
    * decode). One (sub, code) equi-join against the codebook frame + one
    * groupBy(id) assembly — the only per-id shuffle, and the caller
    * restricts `codes` first (shortlist/probed cells), so the assembly is
    * workload-sized at search time and corpus-sized only at build time.
    *
    * Output (idCol, outCol); a per-row guard refuses ids whose assembled
    * dim ≠ m × subDim (missing/duplicated sub rows — torn codes), the
    * family's LOUD rule. Determinism: codeword elements are the fit's
    * 6-dp values; concatenation order is `sub` asc — SQL-restatable
    * (q166: `flatten(list(c ORDER BY sub))`). */
  def reconstruct(
      codes: DataFrame,
      idCol: String,
      model: PqModel,
      outCol: String): DataFrame =
    reconstructCarrying(codes, idCol, model, outCol, carry = None)

  /** [[reconstruct]] with an optional carried column: `carry = Some(src
    * -> dst)` rides `first(src)` through the per-id assembly aggregation
    * — the consumer that needs the id's cell beside its decode gets it
    * from the SAME scan instead of a second groupBy over the same
    * restricted codes (round 17, guide §2.4). */
  private[operators] def reconstructCarrying(
      codes: DataFrame,
      idCol: String,
      model: PqModel,
      outCol: String,
      carry: Option[(String, String)]): DataFrame = {
    val dim = model.m * model.subDim
    val carryAgg = carry.toSeq.map { case (src, dst) =>
      first(col(src)).as(dst) }
    val carryCols = carry.toSeq.map { case (_, dst) => col(dst) }
    val assembled = model.local match {
      case Some(books) =>
        // Literal path (round 17, guide §2.3/§2.4): the per-id assembly
        // exchange carries (sub, code) int pairs and the codewords come
        // from a literal map AFTER the aggregation — no codebook join,
        // no broadcast build, and the shuffle moves 8 bytes/row instead
        // of subDim 6-dp doubles. A code outside the books yields a null
        // element, nulling the flatten, which the dim guard below turns
        // into the same LOUD torn-codes refusal as a missing join row.
        val k = model.kCodes
        val lut = typedLit(books.zipWithIndex.flatMap { case (cs, s) =>
          cs.zipWithIndex.map { case (c, i) => (s * k + i) -> c.toSeq }
        }.toMap)
        codes.select(col(idCol) +: col("sub") +: col("code") +:
            carry.toSeq.map { case (src, _) => col(src) }: _*)
          .groupBy(col(idCol))
          .agg(array_sort(collect_list(
            col("sub") * lit(k) + col("code"))).as("_graft_sc"), carryAgg: _*)
          .select(col(idCol) +: flatten(transform(col("_graft_sc"),
            sc => element_at(lut, sc))).as(outCol) +: carryCols: _*)
      case None =>
        val books = model.codebooks
          .withColumnRenamed("_graft_sub", "sub")
          .withColumnRenamed("_graft_code", "code")
        codes.select(col(idCol) +: col("sub") +: col("code") +:
            carry.toSeq.map { case (src, _) => col(src) }: _*)
          .join(books, Seq("sub", "code"))
          .groupBy(col(idCol))
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("sub"), col("_graft_c")))),
            st => st.getField("_graft_c"))).as(outCol), carryAgg: _*)
    }
    assembled.select(col(idCol) +:
      when(size(col(outCol)) === dim, col(outCol))
        .otherwise(raise_error(concat(
          lit(s"reconstruct: id "), col(idCol).cast("string"),
          lit(s" assembled dim "), size(col(outCol)).cast("string"),
          lit(s" != $dim — its code rows are torn (missing or duplicated " +
            "sub); rebuild the codes")))).as(outCol) +: carryCols: _*)
  }

  /** E148: per-vector stage-1 QUANTIZATION ERROR `e = v − x̂(v)` — the
    * vector the refinement codebooks quantize (Jégou, Tavenard, Douze,
    * Amsaleg, "Searching in one billion vectors: re-rank with source
    * coding", ICASSP 2011 — public): stage 1's reconstruction already
    * spent its budget, so the SECOND code level describes what stage 1
    * could not, and re-ranking decodes `x̂₂ = x̂ + ê` without ever
    * touching a raw corpus vector. `src` is whatever stage 1 quantized
    * (raw vectors, residuals, permuted vectors — the error composes on
    * top of ANY formulation). LEFT join + loud per-row refusal on a
    * missing reconstruction (the attachCells rule): an inner join would
    * silently drop corpus rows from the refinement fit.
    *
    * Determinism: exact double subtraction of 6-dp codewords from
    * exactly-cast inputs — bit-identical on any engine (the residuals
    * contract), so the downstream fit/encode chain keeps its oracle. */
  def reconstructionErrors(
      src: DataFrame,
      vecCol: String,
      idCol: String,
      model: PqModel,
      codes: DataFrame): DataFrame = {
    val dim = model.m * model.subDim
    val rec = reconstruct(codes, idCol, model, "_graft_rec")
    val guarded = when(size(col(vecCol)) === dim,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"reconstructionErrors: vector dim must be $dim (the model's), got "),
        size(col(vecCol)).cast("string"))))
    src.select(col(idCol), guarded.as("_graft_gv"))
      .join(rec, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_graft_rec").isNotNull,
          zip_with(col("_graft_gv"), col("_graft_rec"), (a, b) => a - b))
        .otherwise(raise_error(concat(
          lit("reconstructionErrors: id "), col(idCol).cast("string"),
          lit(" has no stage-1 codes — the codes and source frames cover " +
            "different id sets; rebuild from one corpus scan")))).as("_graft_err"))
  }

  /** ADC batch search: top-`topN` candidates per query by the asymmetric
    * distance Σ_sub 6-dp-L2²(query subvector, candidate's codeword).
    * `queries` is (qidCol, vecCol) — workload-sized by contract; `codes`
    * is [[encode]]'s output over the corpus. The lookup table is
    * queries × m × kCodes rows, broadcast onto the codes; the cut is the
    * bounded-buffer grouped top-k, never a per-query window sort. Scores
    * are the SQUARED distance (sums of per-subspace squares — the
    * standard ADC objective), rounded 6 dp, ties to the smaller id. */
  def adcSearch(
      codes: DataFrame,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      model: PqModel,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN out of range: $topN")
    val lut = adcLut(queries, qidCol, vecCol, model)
    adcTopK(codes.join(broadcast(lut), Seq("sub", "code")), qidCol, idCol, topN)
  }

  /** The family's shared scoring tail (round 15 — extracted so the next
    * formulation change cannot drift one searcher's arithmetic from the
    * others'): sum each (query, candidate)'s partial squares at the 6-dp
    * grain, then cut to the bounded-buffer grouped top-k. Grouped top-k
    * ranks DESCENDING; ADC wants the smallest distance first, so rank on
    * the negated score and restore it after — (adc asc, id asc). */
  private def adcTopK(
      partials: DataFrame,
      qidCol: String,
      idCol: String,
      topN: Int): DataFrame = {
    val scored = partials
      .groupBy(col(qidCol), col(idCol))
      .agg(round(sum(col("_graft_part")), 6).as("adc"))
      .withColumn("_graft_neg", -col("adc"))
    TopKOps.groupedTopK(scored, qidCol, "_graft_neg", idCol, topN)
      .withColumn("adc", round(-col("_graft_neg"), 6))
      .drop("_graft_neg")
  }

  /** Per (query, sub, code): the partial SQUARED distance, each leg's
    * L2 rounded at 6 dp first (the family's determinism grain) —
    * queries × m × kCodes rows, workload-sized, built for broadcast.
    * Literal-path models skip the codebook join: the m × kCodes entries
    * explode from one codegen projection per query row (same rounding,
    * same columns). */
  private def adcLut(
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      model: PqModel): DataFrame = model.local match {
    case Some(books) =>
      queries.select(col(qidCol),
        lutGen(vecCol, books).as(Seq("sub", "code", "_graft_part")))
    case None =>
      val qsubs = subvectors(queries, vecCol, qidCol, model.m,
          expectDim = Some(model.m * model.subDim))
        .withColumnRenamed("_graft_sub", "sub")
      val l2 = graft.functions.VectorFunctions.l2Distance(col("_graft_v"), col("_graft_c"))
      qsubs.join(
          model.codebooks.withColumnRenamed("_graft_sub", "sub"), Seq("sub"))
        .select(col(qidCol), col("sub"), col("_graft_code").as("code"),
          (round(l2, 6) * round(l2, 6)).as("_graft_part"))
  }

  /** Each query's `nprobe` nearest coarse cells by the family's 6-dp
    * arg-min rule — (dist asc, cell asc) ties, so at nprobe = 1 this IS
    * [[KmeansOps.assign]]'s rule: a corpus-drawn query meets exactly its
    * own cell. Literal zero-shuffle path for driver-small coarse models;
    * broadcast-join + bounded-buffer grouped top-k above
    * [[KmeansOps.LiteralPathMaxK]] (both paths spec-pinned identical).
    * Returns (qidCol, _graft_qcell). */
  /** [[probeCells]] pulled to the driver in ONE job (round 17): the
    * probe frame is ≤ queries × nprobe rows — workload-sized by the
    * family contract — yet each searcher used to localCheckpoint it
    * (one job) and then run a distinct-collect over the checkpoint (a
    * second job) just to build the static partition filter. One collect
    * yields BOTH: the probed-cell list (sorted, so PartitionFilters are
    * deterministic) and the same qcells frame as a broadcast-ready
    * local relation. */
  private def probeCellsLocal(
      queries: DataFrame,
      vecCol: String,
      qidCol: String,
      coarse: Array[Array[Double]],
      nprobe: Int): (DataFrame, Seq[Integer]) = {
    val pc = probeCells(queries, vecCol, qidCol, coarse, nprobe)
    val schema = pc.schema
    val rows = pc.collect()
    val probed = rows.map(_.getInt(1)).distinct.sorted
      .map(Integer.valueOf).toSeq
    val qcells = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    (qcells, probed)
  }

  private[operators] def probeCells(
      queries: DataFrame,
      vecCol: String,
      qidCol: String,
      coarse: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe must be in [1, ${coarse.length}]: $nprobe")
    import graft.functions.VectorFunctions.l2Distance
    if (coarse.length <= KmeansOps.LiteralPathMaxK) {
      // array_sort on (dist, cell) structs = (dist asc, cell asc) — the
      // literal assign path's first-match tie rule, extended to n-best.
      val entries = coarse.zipWithIndex.map { case (c, i) =>
        struct(
          l2Distance(col(vecCol), typedLit(c.toSeq)).as("d"),
          lit(i).as("cl"))
      }
      queries
        .select(col(qidCol),
          explode(slice(array_sort(array(entries.toIndexedSeq: _*)), 1, nprobe)).as("_p"))
        .select(col(qidCol), col("_p.cl").as("_graft_qcell"))
    } else {
      val spark = queries.sparkSession
      import spark.implicits._
      val centDf = broadcast(
        centsDf(queries.sparkSession, coarse, "_graft_cl", "_graft_c"))
      // Rank on the negated distance (grouped top-k ranks descending);
      // the long-id tie-break is ascending on the cell index — together
      // (dist asc, cell asc), the literal path's rule.
      val scored = queries.select(col(qidCol), col(vecCol))
        .join(centDf)
        .select(col(qidCol), col("_graft_cl"),
          (-l2Distance(col(vecCol), col("_graft_c"))).as("_graft_negd"))
      TopKOps.groupedTopK(scored, qidCol, "_graft_negd", "_graft_cl", nprobe)
        .select(col(qidCol), col("_graft_cl").cast("int").as("_graft_qcell"))
    }
  }

  /** IVFADC (Jégou 2011's full system): the coarse quantizer restricts
    * which codes a query even READS, ADC ranks within the probed cells —
    * at 100 TB a flat [[adcSearch]] still sums m lookups for EVERY
    * candidate (one full pass over the codes), while here the scan is
    * ∝ the probed cells' population (~nprobe × n/k1 per query).
    *
    * `codes` must CARRY its cell column (`cellCol`) — the stored layout
    * [[writePqArtifacts]] produces (`partitionBy(cell)`, the E57
    * machinery): the probed-cell set is workload-sized (≤ queries ×
    * nprobe values, collected driver-side), and the `isin` filter on the
    * partition column resolves to parquet PartitionFilters, so the scan
    * READS only probed cells' files — no per-search id-join, no
    * corpus-wide shuffle (plan-gated in PqOpsSpec). Queries probe their
    * `nprobe` nearest coarse cells by the family's 6-dp arg-min (ties to
    * the smaller index — at nprobe = 1 identical to the corpus
    * assignment rule, so a query drawn from the corpus meets exactly its
    * own cell); more probes union more cells before the same ADC — the
    * recall/cost knob (the q81 rule; monotonicity gated in AccuracySpec).
    *
    * Same determinism contract and output shape as [[adcSearch]]:
    * (qid, rank, id, adc), squared distance, 6 dp, (adc asc, id asc). */
  def ivfAdcSearch(
      codes: DataFrame,
      cellCol: String,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      model: PqModel,
      coarse: Array[Array[Double]],
      topN: Int,
      nprobe: Int = 1): DataFrame = {
    require(topN >= 1, s"topN out of range: $topN")
    // Workload-sized by contract: ≤ queries × nprobe cell ids. The
    // driver-side collect is what turns the restriction into a STATIC
    // partition filter — pruning at the scan, not after it.
    val (qcells, probed) = probeCellsLocal(queries, vecCol, qidCol, coarse, nprobe)
    val lut = adcLut(queries, qidCol, vecCol, model)
    adcTopK(
      codes
        .filter(col(cellCol).isin(probed: _*))
        .join(broadcast(qcells), col(cellCol) === col("_graft_qcell"))
        .join(broadcast(lut), Seq(qidCol, "sub", "code")),
      qidCol, idCol, topN)
  }

  /** RESIDUAL-aware IVFADC (Jégou 2011 §IV.B — the paper's ACTUAL
    * system, round 14): searches codes produced by the [[residuals]] →
    * [[fitPq]]/[[encode]] chain, where every stored code describes
    * `v − coarseCentroid(cell(v))`, not `v`. The raw-query LUT
    * [[ivfAdcSearch]] builds would compare raw-query subvectors against
    * residual codewords — plausible numbers, silently wrong ranking
    * (the round-13 weak mark) — so here the LUT is residualized PER
    * (query, probed cell): for each probed cell ℓ the query contributes
    * `q − coarseCentroid(ℓ)` subvectors, and a candidate in cell ℓ is
    * scored ONLY against that cell's residualized entries (the
    * cell-match rides the join). The LUT grows to
    * queries × nprobe × m × kCodes rows — still workload-sized, still
    * broadcast; everything else (partition-pruned scan, bounded top-k,
    * 6-dp grain, (adc asc, id asc) ties) is [[ivfAdcSearch]] verbatim.
    *
    * Determinism: the residualized query is an exact double subtraction
    * of 6-dp centroid elements from exactly-cast query elements — the
    * [[residuals]] contract — so the oracle hash-matches (q164). */
  def ivfAdcSearchResidual(
      codes: DataFrame,
      cellCol: String,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      model: PqModel,
      coarse: Array[Array[Double]],
      topN: Int,
      nprobe: Int = 1): DataFrame = {
    require(topN >= 1, s"topN out of range: $topN")
    require(coarse.nonEmpty, "residual search needs at least one coarse centroid")
    val dim = coarse.head.length
    require(coarse.forall(_.length == dim),
      s"coarse centroids must share one dim, got ${coarse.map(_.length).distinct.mkString(",")}")
    require(dim == model.m * model.subDim,
      s"coarse dim $dim != PQ model dim ${model.m * model.subDim} — these artifacts " +
        "were not built together")
    val spark = queries.sparkSession
    import spark.implicits._
    val (qcells, probed) = probeCellsLocal(queries, vecCol, qidCol, coarse, nprobe)
    // Per-row dim guard woven into the data column (the residuals rule).
    val guarded = when(size(col(vecCol)) === dim,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"residual search: query dim must be $dim (the coarse model's), got "),
        size(col(vecCol)).cast("string"))))
    // One residualized pseudo-query per (query, probed cell), keyed by a
    // struct so the subvector explode keeps both halves of the key. The
    // probed cell's centroid comes from element_at on a literal table
    // when the coarse model fits the codegen budget (round 17; a probed
    // cell is valid by construction — probeCells derived it from this
    // same table) — one broadcast build fewer per search.
    val qc = queries.select(col(qidCol), col(vecCol)).join(qcells, Seq(qidCol))
    val rq =
      (if (coarse.length <= KmeansOps.LiteralPathMaxK)
        qc.select(col(qidCol), col("_graft_qcell"),
          element_at(typedLit(coarse.map(_.toSeq).toSeq),
            col("_graft_qcell") + 1).as("_graft_cc"), col(vecCol))
      else
        qc.join(broadcast(centsDf(spark, coarse, "_graft_qcell", "_graft_cc")),
          Seq("_graft_qcell")))
      .select(
        struct(col(qidCol), col("_graft_qcell")).as("_graft_qk"),
        zip_with(guarded, col("_graft_cc"), (a, b) => a - b).as("_graft_rq"))
    val lut = model.local match {
      case Some(books) =>
        // Literal path: the per-(query, cell) residualized LUT explodes
        // from one generator row (same rounding grain; the native loop —
        // see PqExpressions — keeps codegen under janino's method limit).
        rq.select(col("_graft_qk"),
            lutGen("_graft_rq", books).as(Seq("sub", "code", "_graft_part")))
          .select(col(s"_graft_qk.$qidCol").as(qidCol),
            col("_graft_qk._graft_qcell").as("_graft_qcell"),
            col("sub"), col("code"), col("_graft_part"))
      case None =>
        val l2 = graft.functions.VectorFunctions.l2Distance(col("_graft_v"), col("_graft_c"))
        subvectors(rq, "_graft_rq", "_graft_qk", model.m,
            expectDim = Some(model.m * model.subDim))
          .withColumnRenamed("_graft_sub", "sub")
          .join(model.codebooks.withColumnRenamed("_graft_sub", "sub"), Seq("sub"))
          .select(col(s"_graft_qk.$qidCol").as(qidCol),
            col("_graft_qk._graft_qcell").as("_graft_qcell"),
            col("sub"), col("_graft_code").as("code"),
            (round(l2, 6) * round(l2, 6)).as("_graft_part"))
    }
    adcTopK(
      codes
        .filter(col(cellCol).isin(probed: _*))
        .join(broadcast(lut), Seq("sub", "code"))
        // The cell-match IS the residual formulation: a candidate in cell
        // ℓ meets only the (query, ℓ)-residualized LUT entries. Catalyst
        // folds this into the join condition.
        .filter(col(cellCol) === col("_graft_qcell")),
      qidCol, idCol, topN)
  }

  /** E147 (round 14): variance-BALANCED subspace permutation — the
    * deterministic core of OPQ (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — public): PQ's independence assumption is
    * only as good as the SPLIT, and a contiguous split can dump every
    * high-variance dimension into one subspace whose kCodes-entry
    * codebook then carries the whole corpus's information while the
    * other m−1 codebooks quantize noise. Full OPQ learns a rotation by
    * alternating SVD — not engine-portable (no oracle could restate it
    * bit-for-bit); this is its PERMUTATION restriction, the same move as
    * OPQ's eigenvalue-allocation step on a diagonal covariance: rank
    * dimensions by variance and deal them round-robin across subspaces,
    * so every subspace receives an even share of the spread.
    *
    * ONE corpus pass: a (dim, E[x²]−E[x]²) aggregation — dim-sized,
    * collected driver-side (64 doubles, the coarse-model trade-off).
    * Determinism grain: variance rounded 6 dp, rank ties to the smaller
    * dim (the family rule), permuted position = (r % m)·subDim + r∕m for
    * rank r — every number SQL-restatable, so the full permute→fit→
    * encode chain hash-matches (q165).
    *
    * The permutation is CONSTRUCTION STATE exactly like the codebooks:
    * queries must be permuted with the SAME array before any search
    * against permuted codes (compose [[applyPerm]] on both sides). The
    * pinned artifact store carries it — `writePqArtifacts(perm = …)`
    * records the array in `_graft_pq_construction`, and
    * [[searchArtifacts]]/[[incrementalPqEncode]] apply it to queries
    * and batches themselves (the E146 formulation-routing discipline;
    * CLI `--pq-encode --balanced-perm`). */
  def balancedPerm(df: DataFrame, vecCol: String, m: Int): Array[Int] = {
    require(m >= 1, s"m must be positive: $m")
    val vars = df
      .select(posexplode(transform(col(vecCol), _.cast("double"))).as(Seq("_graft_i", "_graft_x")))
      .groupBy(col("_graft_i"))
      .agg(round(avg(col("_graft_x") * col("_graft_x"))
        - avg(col("_graft_x")) * avg(col("_graft_x")), 6).as("_graft_vr"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
    require(vars.nonEmpty, "balancedPerm needs a non-empty corpus")
    val dim = vars.length
    require(dim % m == 0,
      s"vector dim must be divisible by m=$m, got $dim")
    val subDim = dim / m
    // rank r (0-based) over (variance desc, dim asc) → permuted position
    // (r % m)·subDim + r/m: subspace s receives ranks s, s+m, s+2m, … —
    // each subspace gets one dim from every variance "tier".
    val ranked = vars.sortBy { case (d, vr) => (-vr, d) }.map(_._1)
    val perm = new Array[Int](dim)
    for (r <- 0 until dim)
      perm((r % m) * subDim + r / m) = ranked(r)
    perm
  }

  /** Project `vecCol` into [[balancedPerm]]'s order as `outCol` — a
    * NARROW codegen'd projection (element picks off one array), with the
    * family's per-row dim guard woven into the data column. Apply the
    * SAME perm to corpus and queries; the downstream PQ chain is
    * unchanged (contiguous slices of the permuted vector ARE the
    * balanced subspaces). */
  def applyPerm(
      df: DataFrame,
      vecCol: String,
      perm: Array[Int],
      outCol: String): DataFrame = {
    require(perm.nonEmpty && perm.sorted.toSeq == (0 until perm.length),
      s"perm must be a permutation of 0..${perm.length - 1}")
    val guarded = when(size(col(vecCol)) === perm.length,
        transform(col(vecCol), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"applyPerm: vector dim must be ${perm.length} (the perm's), got "),
        size(col(vecCol)).cast("string"))))
    // Two projections on purpose: the guarded transform lands in its
    // own column and the permuted array picks elements off that plain
    // ATTRIBUTE. Inlining `guarded` into every pick (one withColumn)
    // would embed the whole guard+cast subtree dim times — an O(dim²)
    // expression tree that blows past codegen method limits at
    // real embedding dims (768+). CollapseProject keeps the split: a
    // non-cheap alias referenced dim times is not re-inlined.
    df.withColumn("_graft_perm_src", guarded)
      .withColumn(outCol,
        array(perm.toIndexedSeq.map(p => col("_graft_perm_src").getItem(p)): _*))
      .drop("_graft_perm_src")
  }

  // ---------------------------------------------------------------------
  // Stored artifacts: the --pq-encode build layout + construction pin.
  // ---------------------------------------------------------------------

  private[operators] val PqMetaFile = "_graft_pq_construction"
  /** The base build's epoch partition — incremental batches land beside
    * it under their own tokens (the E109 replay protocol). */
  val BaseEpoch = "base"

  /** The stored model + coarse quantizer + cell-partitioned codes.
    * `residual` is the FORMULATION the codes were built under (recorded
    * in the construction pin): false = codes quantize raw vectors,
    * true = codes quantize `v − coarseCentroid(cell(v))` (E144). `perm`
    * is the subspace permutation the whole store lives in (E147 —
    * identity when none was requested): corpus vectors were permuted
    * BEFORE the coarse fit and the PQ chain, so queries must take the
    * SAME projection before probing or LUT building. Neither field is
    * cross-searchable — [[searchArtifacts]] routes/applies both. */
  final case class PqArtifacts(
      model: PqModel,
      coarse: Array[Array[Double]],
      codes: DataFrame,
      residual: Boolean = false,
      perm: Array[Int] = Array.empty,
      /** E148: the optional SECOND code level — codebooks fitted on the
        * stage-1 reconstruction errors, codes stored beside `codes` with
        * the same (epoch, cell) layout. Present iff the store carries a
        * `_graft_pq_refinement` pin; [[refineFromCodes]] requires it. */
      refinement: Option[PqModel] = None,
      rcodes: Option[DataFrame] = None) {
    /** Identity permutations skip the projection entirely. */
    def isPermuted: Boolean = perm.nonEmpty && !perm.sameElements(perm.indices)
  }

  private def pqParams(
      m: Int, kCodes: Int, subDim: Int, coarseK: Int, residual: Boolean,
      perm: Array[Int]): String =
    s"m=$m kCodes=$kCodes subDim=$subDim coarseK=$coarseK residual=$residual " +
      s"perm=${perm.mkString(",")}"

  /** The pin's exact key set — a pin missing a key (pre-round-14 store,
    * hand edit) or carrying extras refuses loudly with rebuild guidance
    * instead of a bare NoSuchElementException deep in the parse. */
  private val PqPinKeys = Set("m", "kCodes", "subDim", "coarseK", "residual", "perm")

  /** E148: the refinement level's own pin file + exact key set — a
    * second file (not new keys on the main pin) so a store built
    * WITHOUT a refinement level keeps reading unchanged (the main
    * pin's exact key set stays stable), and rcodes/rcodebooks data
    * WITHOUT this pin refuses loudly (pin-before-data, the E138
    * discipline). Pre-perm legacy pins refuse at the MAIN pin's
    * key-set check by design — that refusal is spec-pinned, not an
    * oversight. */
  private val PqRefineMetaFile = "_graft_pq_refinement"
  private val PqRefinePinKeys = Set("m2", "kCodes2", "subDim2")

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeMeta(spark: SparkSession, dir: String, params: String,
      file: String = PqMetaFile): Unit = {
    val (fs, _) = fsOf(spark, dir)
    val metaPath = new org.apache.hadoop.fs.Path(dir, file)
    val outS = fs.create(metaPath, true)
    try outS.write(params.getBytes("UTF-8")) finally outS.close()
  }

  private def readMeta(spark: SparkSession, dir: String): String = {
    val (fs, p) = fsOf(spark, dir)
    Ledger.readPin(fs, p, PqMetaFile).getOrElse(throw new IllegalStateException(
      s"PQ artifact store at $dir has no construction pin ($PqMetaFile) — " +
        "codes cannot be trusted against these codebooks (an ADC run " +
        "against re-fit codebooks silently mis-scores). Rebuild with " +
        "writePqArtifacts / --pq-encode."))
  }

  /** Full build: fit the coarse quantizer and the PQ codebooks on
    * `corpus`, encode it, and write the whole artifact set under `dir` —
    * `codebooks/` (sub, code, centroid), `coarse/` (cl, centroid), and
    * `codes/` partitioned by (`_graft_epoch`, `cell`) so every later
    * [[ivfAdcSearch]]/[[ivfAdcSearchResidual]] partition-prunes to the
    * probed cells. With `residual = true` (E144, Jégou §IV.B) the PQ
    * codebooks are fitted on — and the codes quantize — the coarse
    * RESIDUALS `v − coarseCentroid(cell(v))` instead of the raw vectors;
    * the formulation is recorded in the pin and [[searchArtifacts]]
    * routes on it (a raw-LUT search over residual codes silently
    * mis-scores, which is exactly what the pin refuses).
    *
    * A NON-EMPTY target refuses loudly (the ledgerHasData rule):
    * rebuilding in place could crash after the codebooks/ overwrite but
    * before codes/, leaving NEW codebooks paired with STALE codes under
    * a structurally-matching pin — undetectable by the drift check.
    * Build into a fresh dir; cutover is the caller's explicit step (the
    * --zorder discipline). The pin is then written FIRST: a crash
    * mid-build leaves partial data under a pin in an otherwise-fresh
    * dir, and the read side refuses empty/incomplete frames loudly. */
  def writePqArtifacts(
      spark: SparkSession,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      dir: String,
      m: Int,
      kCodes: Int,
      iters: Int,
      coarseK: Int,
      coarseIters: Int,
      residual: Boolean = false,
      perm: Option[Array[Int]] = None,
      refineM: Int = 0,
      refineK: Int = 0): PqArtifacts = {
    require(coarseK >= 1, s"coarseK must be positive: $coarseK")
    require((refineM > 0) == (refineK > 0),
      s"refinement needs BOTH m2 and kCodes2 positive (or both absent): " +
        s"refineM=$refineM refineK=$refineK")
    val (fs, p) = fsOf(spark, dir)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"PQ artifact target $dir is not empty — rebuilding a live store in " +
          "place can pair new codebooks with stale codes under a matching " +
          "pin (silent ADC mis-scoring). Build into a fresh directory and " +
          "swap it in, or delete the old store first.")
    // E147: the WHOLE store lives in the permuted space — corpus vectors
    // permute before the coarse fit (L2 is permutation-invariant, so
    // cell assignments match raw-space ones) and the PQ chain sees the
    // balanced subspaces as plain contiguous slices. The permutation is
    // construction state: it goes in the pin, and [[searchArtifacts]]/
    // [[incrementalPqEncode]] apply it to queries/batches themselves.
    val (src, srcVecCol) = perm match {
      case Some(pm) =>
        (applyPerm(corpus, vecCol, pm, "_graft_pv")
          .select(col(idCol), col("_graft_pv")), "_graft_pv")
      case None => (corpus, vecCol)
    }
    val coarseFit = KmeansOps.fit(src, srcVecCol, idCol, coarseK, coarseIters)
    // Residual formulation: every later stage (fit, encode) reads the
    // residual table; raw keeps the corpus. One frame, chosen once.
    val (fitSrc, fitVecCol) =
      if (residual)
        (Tables.materialize(residuals(src, srcVecCol, idCol, coarseFit.centroids)),
          "residual")
      else (src, srcVecCol)
    val model = fitPq(fitSrc, fitVecCol, idCol, m, kCodes, iters)
    val pinnedPerm = perm.getOrElse((0 until m * model.subDim).toArray)
    require(pinnedPerm.length == m * model.subDim,
      s"perm length ${pinnedPerm.length} != vector dim ${m * model.subDim}")
    val dim = m * model.subDim
    if (refineM > 0) require(dim % refineM == 0,
      s"refinement split refineM=$refineM must divide the vector dim $dim")
    writeMeta(spark, dir,
      pqParams(m, kCodes, model.subDim, coarseK, residual, pinnedPerm))
    // E148 pin-before-data: both pins land before ANY data directory —
    // a crash mid-build leaves pins over partial frames, which the read
    // side refuses loudly (empty/missing-frame checks).
    if (refineM > 0)
      writeMeta(spark, dir,
        s"m2=$refineM kCodes2=$refineK subDim2=${dim / refineM}",
        PqRefineMetaFile)
    model.codebooks
      .withColumnRenamed("_graft_sub", "sub")
      .withColumnRenamed("_graft_code", "code")
      .withColumnRenamed("_graft_c", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/codebooks")
    import spark.implicits._
    coarseFit.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cl", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/coarse")
    // Round 17: the cell rides the encode projection (residual frames
    // carry it; raw/permuted sources attach it via assign's projection)
    // instead of an attachCells join of two narrow frames.
    val codes = Tables.materialize(
      if (residual) encodeWithCell(fitSrc, fitVecCol, idCol, model, "cell")
      else encodeAttached(fitSrc, fitVecCol, idCol, model, coarseFit.centroids))
    codes.withColumn("_graft_epoch", lit(BaseEpoch))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("_graft_epoch", "cell")
      .parquet(s"$dir/codes")
    // E148: the refinement level — codebooks fitted on the stage-1
    // reconstruction errors e = fitSrc − x̂(codes), codes for the SAME
    // ids in the SAME (epoch, cell) layout. The error composes on top of
    // whatever stage 1 quantized (raw / residual / permuted), so no
    // formulation routing is needed here — [[refineFromCodes]] adds the
    // same coarse term the stage-1 target omitted.
    val (rmodelOpt, rcodesOpt) =
      if (refineM > 0) {
        val errs = Tables.materialize(
          reconstructionErrorsWithCell(fitSrc, fitVecCol, idCol, model, codes))
        val rmodel = fitPq(errs, "_graft_err", idCol, refineM, refineK, iters)
        val rcodes = encodeWithCell(errs, "_graft_err", idCol, rmodel, "cell")
        rmodel.codebooks
          .withColumnRenamed("_graft_sub", "sub")
          .withColumnRenamed("_graft_code", "code")
          .withColumnRenamed("_graft_c", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/rcodebooks")
        rcodes.withColumn("_graft_epoch", lit(BaseEpoch))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("_graft_epoch", "cell")
          .parquet(s"$dir/rcodes")
        (Some(rmodel),
          Some(Connectors.readParquet(spark, s"$dir/rcodes").drop("_graft_epoch")))
      } else (None, None)
    PqArtifacts(model, coarseFit.centroids,
      Connectors.readParquet(spark, s"$dir/codes").drop("_graft_epoch"), residual,
      pinnedPerm, rmodelOpt, rcodesOpt)
  }

  /** Read the artifact set back, REQUIRE-matching the construction pin
    * against what the store actually contains (m × kCodes from the
    * codebooks, coarseK from the coarse frame) — parameter drift between
    * what was pinned and what sits on disk refuses loudly (the E89
    * rule). `codes` spans every committed epoch; the `cell` partition
    * column rides it for [[ivfAdcSearch]] pruning. The coarse model is
    * DRIVER state by design (coarseK × dim doubles — ~0.5 GB at the
    * 2^20-cell ceiling, the same deliberate trade-off as E133's coarse
    * level): the probe needs it per-query-row, and a broadcast join
    * would re-ship the identical frame per search batch for no win.
    *
    * MIGRATION NOTE (deliberate, ADVICE round 14): the exact key-set
    * check makes stores pinned BEFORE the residual/perm keys existed
    * unreadable ("malformed … rebuild") even though their data is valid
    * — the missing keys have unambiguous defaults (residual=false,
    * perm=identity), but defaulting them would also wave through a pin
    * TRUNCATED by a torn write, which is indistinguishable from a legacy
    * pin and exactly the corruption the pin exists to refuse. Pre-perm
    * stores must rebuild once (or have `residual=false perm=0,…,D-1`
    * appended to the pin by an operator who has verified the store). */
  def readPqArtifacts(spark: SparkSession, dir: String): PqArtifacts = {
    val params = readMeta(spark, dir)
    def malformed(detail: String) = new IllegalStateException(
      s"malformed PQ construction pin at $dir ($detail): [$params] — the pin " +
        "is the store's integrity contract; rebuild with writePqArtifacts / " +
        "--pq-encode.")
    val kv = params.split("\\s+").map(_.split("=") match {
      case Array(k, v) => k -> v
      case other => throw malformed(s"entry [${other.mkString("=")}]")
    }).toMap
    // Exact key-set check BEFORE any lookup: a pre-residual pin or a
    // hand-edited one refuses with guidance, never a bare
    // NoSuchElementException (ADVICE round 13).
    if (kv.keySet != PqPinKeys)
      throw malformed(s"keys ${kv.keySet.toSeq.sorted.mkString(",")}, " +
        s"expected ${PqPinKeys.toSeq.sorted.mkString(",")}")
    def intOf(k: String): Int =
      try kv(k).toInt catch { case _: NumberFormatException =>
        throw malformed(s"$k=${kv(k)} is not an int") }
    val (m, kCodes, subDim, coarseK) =
      (intOf("m"), intOf("kCodes"), intOf("subDim"), intOf("coarseK"))
    val residual = kv("residual") match {
      case "true" => true
      case "false" => false
      case other => throw malformed(s"residual=$other is not a bool")
    }
    val perm =
      try kv("perm").split(",").map(_.toInt)
      catch { case _: NumberFormatException =>
        throw malformed(s"perm=${kv("perm")} is not an int list") }
    if (perm.length != m * subDim || perm.sorted.toSeq != (0 until perm.length))
      throw malformed(
        s"perm is not a permutation of 0..${m * subDim - 1} (length ${perm.length})")
    val books = Connectors.readParquet(spark, s"$dir/codebooks")
      .withColumnRenamed("sub", "_graft_sub")
      .withColumnRenamed("code", "_graft_code")
      .withColumnRenamed("centroid", "_graft_c")
    // The pin is authoritative on EVERY dimension the downstream joins
    // and distances silently depend on: subspace count (exact), code ids
    // (must fit the pinned range — an over-range id means foreign
    // codebooks), and centroid width (exact subDim both ends — VecOps
    // distances would silently truncate a short centroid, the precise
    // mis-scoring the pin exists to refuse).
    val stored = books.agg(
        countDistinct(col("_graft_sub")).as("subs"),
        max(col("_graft_code")).as("maxCode"),
        min(size(col("_graft_c"))).as("minLen"),
        max(size(col("_graft_c"))).as("maxLen"))
      .collect().head
    // An empty codebooks frame (crash between pin and codebook write)
    // nulls every aggregate — refuse with the designed message instead
    // of NPE-ing in getInt (ADVICE round 13).
    if (stored.isNullAt(1))
      throw new IllegalStateException(
        s"PQ artifact store at $dir pinned [${pqParams(m, kCodes, subDim, coarseK, residual, perm)}] " +
          "but codebooks/ is empty — a crashed build; rebuild it.")
    if (stored.getLong(0) != m.toLong || stored.getInt(1) >= kCodes ||
        stored.getInt(2) != subDim || stored.getInt(3) != subDim)
      throw new IllegalStateException(
        s"PQ artifact store at $dir pinned [${pqParams(m, kCodes, subDim, coarseK, residual, perm)}] " +
          s"but codebooks/ holds m=${stored.getLong(0)}, max code=${stored.getInt(1)}, " +
          s"centroid widths ${stored.getInt(2)}..${stored.getInt(3)} — " +
          "the store drifted from its pin; rebuild it.")
    val coarse = Connectors.readParquet(spark, s"$dir/coarse")
      .orderBy(col("cl"))
      .collect()
      .map(r => r.getSeq[Double](1).toArray)
    if (coarse.length != coarseK || coarse.exists(_.length != m * subDim))
      throw new IllegalStateException(
        s"PQ artifact store at $dir pinned coarseK=$coarseK (dim ${m * subDim}) but " +
          s"coarse/ holds ${coarse.length} centroids of widths " +
          s"${coarse.map(_.length).distinct.mkString(",")} — the store drifted " +
          "from its pin; rebuild it.")
    val (rmodelOpt, rcodesOpt) = readRefinement(spark, dir, m * subDim)
    PqArtifacts(
      PqModel(books, m, kCodes, subDim, localBooks(books, m, kCodes)),
      coarse,
      readCodeNs(spark, dir, "codes").drop("_graft_epoch"),
      residual,
      perm,
      rmodelOpt,
      rcodesOpt)
  }

  /** E148: the refinement level's read side — same integrity discipline
    * as the main level: its own pin (`_graft_pq_refinement`, exact key
    * set), refusal of rcodes/rcodebooks data WITHOUT the pin
    * (pin-before-data), empty-frame and drift checks with rebuild
    * guidance, and the dim must match the main level's (the two decode
    * levels sum element-wise at re-rank). */
  private def readRefinement(
      spark: SparkSession, dir: String, dim: Int): (Option[PqModel], Option[DataFrame]) = {
    val (fs, p) = fsOf(spark, dir)
    val pin = Ledger.readPin(fs, p, PqRefineMetaFile)
    if (pin.isEmpty) {
      val orphan = Seq("rcodes", "rcodebooks")
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(dir, d)))
      if (orphan.nonEmpty)
        throw new IllegalStateException(
          s"PQ artifact store at $dir holds refinement data (${orphan.mkString(", ")}) " +
            s"but no $PqRefineMetaFile pin — refinement codes cannot be trusted " +
            "against these codebooks; rebuild with writePqArtifacts(refineM, refineK) " +
            "/ --pq-encode --refine-m N --refine-k N.")
      return (None, None)
    }
    val params = pin.get
    def malformed(detail: String) = new IllegalStateException(
      s"malformed PQ refinement pin at $dir ($detail): [$params] — the pin is " +
        "the refinement level's integrity contract; rebuild with " +
        "writePqArtifacts(refineM, refineK) / --pq-encode --refine-m N --refine-k N.")
    val kv = params.split("\\s+").map(_.split("=") match {
      case Array(k, v) => k -> v
      case other => throw malformed(s"entry [${other.mkString("=")}]")
    }).toMap
    if (kv.keySet != PqRefinePinKeys)
      throw malformed(s"keys ${kv.keySet.toSeq.sorted.mkString(",")}, " +
        s"expected ${PqRefinePinKeys.toSeq.sorted.mkString(",")}")
    def intOf(k: String): Int =
      try kv(k).toInt catch { case _: NumberFormatException =>
        throw malformed(s"$k=${kv(k)} is not an int") }
    val (m2, kCodes2, subDim2) = (intOf("m2"), intOf("kCodes2"), intOf("subDim2"))
    if (m2 * subDim2 != dim)
      throw malformed(s"m2=$m2 × subDim2=$subDim2 != the main level's dim $dim")
    // Crash windows between the pin write and the data writes refuse
    // with the designed rebuild guidance, never a bare path-not-found.
    Seq("rcodebooks", "rcodes").foreach { d =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, d)))
        throw new IllegalStateException(
          s"PQ artifact store at $dir pinned refinement [$params] but $d/ is " +
            "missing — a crashed build; rebuild it.")
    }
    val books = Connectors.readParquet(spark, s"$dir/rcodebooks")
      .withColumnRenamed("sub", "_graft_sub")
      .withColumnRenamed("code", "_graft_code")
      .withColumnRenamed("centroid", "_graft_c")
    val stored = books.agg(
        countDistinct(col("_graft_sub")).as("subs"),
        max(col("_graft_code")).as("maxCode"),
        min(size(col("_graft_c"))).as("minLen"),
        max(size(col("_graft_c"))).as("maxLen"))
      .collect().head
    if (stored.isNullAt(1))
      throw new IllegalStateException(
        s"PQ artifact store at $dir pinned refinement [$params] but rcodebooks/ " +
          "is empty — a crashed build; rebuild it.")
    if (stored.getLong(0) != m2.toLong || stored.getInt(1) >= kCodes2 ||
        stored.getInt(2) != subDim2 || stored.getInt(3) != subDim2)
      throw new IllegalStateException(
        s"PQ artifact store at $dir pinned refinement [$params] but rcodebooks/ " +
          s"holds m2=${stored.getLong(0)}, max code=${stored.getInt(1)}, " +
          s"centroid widths ${stored.getInt(2)}..${stored.getInt(3)} — " +
          "the store drifted from its pin; rebuild it.")
    (Some(PqModel(books, m2, kCodes2, subDim2, localBooks(books, m2, kCodes2))),
      Some(readCodeNs(spark, dir, "rcodes").drop("_graft_epoch")))
  }

  /** Driver copy of a STORED codebook frame for the literal path — only
    * when the pinned kCodes clears the literal gate (the same bound that
    * keeps fit-time codebooks driver-held). One tiny collect at store-open
    * buys every later [[encode]]/LUT a zero-shuffle projection. Returns
    * None (join path) if the frame is not dense per (sub, code) — the
    * read-side drift checks own integrity refusals; this routine only
    * routes. */
  private def localBooks(
      books: DataFrame, m: Int, kCodes: Int): Option[Array[Array[Array[Double]]]] = {
    if (kCodes > KmeansOps.LiteralPathMaxK) return None
    val rows = books
      .select(col("_graft_sub"), col("_graft_code"), col("_graft_c")).collect()
    val bySub = rows.groupBy(_.getInt(0))
    if (bySub.keySet != (0 until m).toSet) return None
    val arr = Array.tabulate(m) { s =>
      bySub(s).map(r => r.getInt(1) -> r.getSeq[Double](2).toArray)
        .sortBy(_._1)
    }
    val dense = arr.forall(codes => codes.map(_._1).toSeq == codes.indices)
    if (dense) Some(arr.map(_.map(_._2))) else None
  }

  /** Search a stored artifact set, ROUTED BY ITS PINNED FORMULATION:
    * raw-vector codes take [[ivfAdcSearch]], residual codes take
    * [[ivfAdcSearchResidual]] — the composition hazard the round-13
    * verdict named (a raw-query LUT over residual codes mis-scores
    * silently, and bare DataFrames can't refuse it; the pin can).
    * `expectResidual` is the caller's declared expectation (the CLI's
    * --residual flag): when set, a mismatch against the pin refuses
    * loudly instead of quietly searching a different formulation than
    * the caller believes they built. */
  def searchArtifacts(
      arts: PqArtifacts,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      topN: Int,
      nprobe: Int = 1,
      expectResidual: Option[Boolean] = None): DataFrame = {
    expectResidual.foreach { e =>
      if (e != arts.residual)
        throw new IllegalStateException(
          s"search expected residual=$e but the store's construction pin says " +
            s"residual=${arts.residual} — searching across formulations " +
            "silently mis-scores; point at the store you actually built.")
    }
    // E147: a permuted store lives entirely in the permuted space —
    // queries take the SAME pinned projection before probing or LUT
    // building (searching a permuted store with raw queries is the same
    // silent mis-scoring the residual routing refuses).
    val (q2, vec2) =
      if (arts.isPermuted)
        (applyPerm(queries, vecCol, arts.perm, "_graft_qpv")
          .select(col(qidCol), col("_graft_qpv")), "_graft_qpv")
      else (queries, vecCol)
    if (arts.residual)
      ivfAdcSearchResidual(arts.codes, "cell", idCol, q2, qidCol, vec2,
        arts.model, arts.coarse, topN, nprobe)
    else
      ivfAdcSearch(arts.codes, "cell", idCol, q2, qidCol, vec2,
        arts.model, arts.coarse, topN, nprobe)
  }

  /** E148: RE-RANK FROM CODES (Jégou, Tavenard, Douze, Amsaleg,
    * "Searching in one billion vectors: re-rank with source coding",
    * ICASSP 2011 — public): the shortlist is re-scored against the
    * TWO-LEVEL decode `x̂₂ = [coarse centroid if residual] + x̂₁ + ê₂`
    * — stage-1 codewords plus the refinement level's decode of the
    * stage-1 error — by the exact 6-dp L2, cut to `topN`. Unlike
    * [[refine]] (E145), NO raw corpus vector is ever read: at 10^12 ×
    * 64-float vectors the raw store is ~256 TB while both code levels
    * fit in ~12 TB beside the index — this is the two-stage search that
    * actually runs from the compressed domain end to end.
    *
    * `shortlist` is (qidCol, idCol) — [[searchArtifacts]]' output over
    * THIS store; pass the SAME `nprobe` the shortlist search used: the
    * codes/rcodes scans partition-prune to the re-derived probed cells
    * (the E142 machinery), and a shortlist candidate outside them (a
    * foreign shortlist or a smaller nprobe) refuses loudly via the
    * decode-join guard rather than silently dropping candidates. Query
    * vectors take the store's pinned permutation before distancing —
    * exact L2 is permutation-invariant, so scores equal raw-space ones.
    *
    * Determinism: codeword elements are 6-dp, sums are exact double
    * adds, the final L2 rounds 6 dp, ties to the smaller id (q166). */
  def refineFromCodes(
      arts: PqArtifacts,
      shortlist: DataFrame,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      topN: Int,
      nprobe: Int = 1): DataFrame = {
    require(topN >= 1, s"topN out of range: $topN")
    val rmodel = arts.refinement.getOrElse(throw new IllegalStateException(
      "refineFromCodes needs a store built WITH a refinement level " +
        "(writePqArtifacts(refineM, refineK) / --pq-encode --refine-m N " +
        "--refine-k N) — this store has none; re-rank from the raw corpus " +
        "with refine() instead, or rebuild the store."))
    val rcodes = arts.rcodes.get
    val dim = arts.model.m * arts.model.subDim
    val (q2, vec2) =
      if (arts.isPermuted)
        (applyPerm(queries, vecCol, arts.perm, "_graft_qpv")
          .select(col(qidCol), col("_graft_qpv")), "_graft_qpv")
      else (queries, vecCol)
    val (qcells, probed) = probeCellsLocal(q2, vec2, qidCol, arts.coarse, nprobe)
    // The shortlist is Q × R rows by contract — but as a lazy frame it is
    // a whole SEARCH subtree, and this re-rank consumes it twice (the
    // candidate-id restriction and the per-query re-score join), which
    // re-ran the entire stage-1 search once per consumer (measured: the
    // re-rank phase dominated q166 at 2.2 s warm). One collect pins it;
    // both consumers read the local relation.
    val shortRows = shortlist.select(col(qidCol), col(idCol)).collect()
    val shortSchema = shortlist.select(col(qidCol), col(idCol)).schema
    val shortLocal = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(shortRows: _*), shortSchema)
    // Candidate ids dedupe on the DRIVER (the rows are already local —
    // Q × R by contract): no distinct exchange, and the broadcast
    // relations below build from a local frame.
    val candSchema = org.apache.spark.sql.types.StructType(
      Seq(shortSchema(idCol)))
    val candIds = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(shortRows.map(_.get(1)).distinct
        .map(org.apache.spark.sql.Row(_)): _*), candSchema)
    // Both decode levels, restricted FIRST (probed-cell partition filter
    // + shortlist-id broadcast), so the per-id assembly is Q × R rows.
    // Stage 1's cell rides the SAME aggregation (round 17): a separate
    // first(cell) groupBy re-ran the restricted codes scan a second time
    // and fed one more join into the per-id chain.
    val c1 = arts.codes.filter(col("cell").isin(probed: _*))
      .join(broadcast(candIds), Seq(idCol))
    val rec1 = reconstructCarrying(c1, idCol, arts.model, "_graft_r1",
      carry = Some("cell" -> "_graft_cell"))
    val rec2 = reconstruct(
      rcodes.filter(col("cell").isin(probed: _*))
        .join(broadcast(candIds), Seq(idCol)),
      idCol, rmodel, "_graft_r2")
    // The decode-join guard: every shortlist candidate must decode at
    // BOTH levels within the probed cells — a null here means a foreign
    // shortlist, a smaller nprobe than the search's, or torn rcodes.
    val joined = candIds
      .join(rec1, Seq(idCol), "left")
      .join(rec2, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_graft_r1").isNotNull && col("_graft_r2").isNotNull,
          zip_with(col("_graft_r1"), col("_graft_r2"), (a, b) => a + b))
        .otherwise(raise_error(concat(
          lit("refineFromCodes: shortlist id "), col(idCol).cast("string"),
          lit(" has no decodable codes within the probed cells — pass the " +
            "SAME nprobe the shortlist search used, and a shortlist from " +
            "THIS store")))).as("_graft_x12"),
        col("_graft_cell"))
    val spark = queries.sparkSession
    import spark.implicits._
    val xhat =
      if (arts.residual) {
        val centDf = broadcast(
          centsDf(spark, arts.coarse, "_graft_cell", "_graft_cc"))
        // LEFT join on purpose (ADVICE round 14): an INNER join here lets
        // Catalyst infer `isnotnull(_graft_cell)` and push it BELOW the
        // guard projection — a shortlist id with no decodable codes
        // (foreign shortlist, smaller nprobe, torn rcodes) has a null
        // cell and would be silently DROPPED before the raise_error above
        // ever evaluates. With the left join the row survives to the
        // guard; the _graft_cc refusal below covers the remaining
        // (store-corruption) case of a cell outside the coarse table.
        joined.join(centDf, Seq("_graft_cell"), "left")
          .select(col(idCol),
            when(col("_graft_cc").isNotNull,
              zip_with(col("_graft_x12"), col("_graft_cc"), (a, b) => a + b))
            .otherwise(raise_error(concat(
              lit("refineFromCodes: shortlist id "), col(idCol).cast("string"),
              lit(" has no coarse centroid for its cell — the store's codes " +
                "carry a cell outside the coarse table; rebuild the store"))))
              .as("_graft_xhat"))
      } else joined.select(col(idCol), col("_graft_x12").as("_graft_xhat"))
    val qv = q2.select(col(qidCol), col(vec2).as("_graft_qv"))
    val guardedQ = when(size(col("_graft_qv")) === dim,
        transform(col("_graft_qv"), _.cast("double")))
      .otherwise(raise_error(concat(
        lit(s"refineFromCodes: query dim must be $dim (the store's), got "),
        size(col("_graft_qv")).cast("string"))))
    val l2 = graft.functions.VectorFunctions.l2Distance(
      guardedQ, col("_graft_xhat"))
    val scored = xhat
      .join(broadcast(shortLocal), Seq(idCol))
      .join(broadcast(qv), Seq(qidCol))
      .select(col(qidCol), col(idCol), (-l2).as("_graft_neg"))
    TopKOps.groupedTopK(scored, qidCol, "_graft_neg", idCol, topN)
      .withColumn("dist", round(-col("_graft_neg"), 6))
      .drop("_graft_neg")
  }

  /** E148 end-to-end: the compressed-domain two-stage search —
    * [[searchArtifacts]]' IVFADC shortlist of `topR`, re-ranked by
    * [[refineFromCodes]] and cut to `topN`. Routing (residual, perm) and
    * the declared-expectation refusal ride the stage-1 call; the re-rank
    * reuses the same `nprobe`, so its scans prune to the same cells. */
  def searchArtifactsRefined(
      arts: PqArtifacts,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      topR: Int,
      topN: Int,
      nprobe: Int = 1,
      expectResidual: Option[Boolean] = None): DataFrame = {
    require(topR >= topN,
      s"topR=$topR must be >= topN=$topN: the re-rank cuts a SHORTLIST")
    val short = searchArtifacts(
      arts, idCol, queries, qidCol, vecCol, topR, nprobe, expectResidual)
    refineFromCodes(arts, short, idCol, queries, qidCol, vecCol, topN, nprobe)
  }

  /** E149: STORE AUDIT — per-cell population and decode distortion,
    * computed ENTIRELY from the stored codes (the `dist` column each
    * encode row carries is the 6-dp per-subspace quantization L2, so
    * `Σ_sub dist²` IS the squared decode error ‖v − x̂‖² at the
    * family's 6-dp subspace grain — no raw corpus vector is read):
    * the ops guard for a 10^12-vector store,
    * running over the ~12 TB code artifact instead of the ~256 TB
    * corpus. One row per cell: `population` (ids), `mean_sq_err` /
    * `max_sq_err` (stage-1 decode), and on a refinement store
    * `r_mean_sq_err` — the error LEFT after the two-level decode
    * (null-free by construction there; null = torn refinement, which
    * the audit REPORTS rather than refuses — auditing is the one place
    * anomalies are data, not errors).
    *
    * What to act on: cells with `population` far above the mean are the
    * nprobe-search hotspots (each probe scans them whole — the skew that
    * motivates a re-fit with larger coarseK); cells whose `mean_sq_err`
    * towers over the rest hold vectors the shared codebooks describe
    * poorly. Two code-frame aggregations, both on (id, cell) then cell —
    * no window, no driver-side corpus state. Determinism: sums of
    * squares of 6-dp values, averages rounded 6 dp (q167). */
  def pqAudit(arts: PqArtifacts, idCol: String): DataFrame = {
    val perId = arts.codes.groupBy(col(idCol), col("cell"))
      .agg(sum(col("dist") * col("dist")).as("_graft_sq1"))
    val base = perId.groupBy(col("cell")).agg(
      count(lit(1)).as("population"),
      round(avg(col("_graft_sq1")), 6).as("mean_sq_err"),
      round(max(col("_graft_sq1")), 6).as("max_sq_err"))
    arts.rcodes match {
      case Some(rc) =>
        val refined = rc.groupBy(col(idCol), col("cell"))
          .agg(sum(col("dist") * col("dist")).as("_graft_sq2"))
          .groupBy(col("cell"))
          .agg(round(avg(col("_graft_sq2")), 6).as("r_mean_sq_err"))
        base.join(refined, Seq("cell"), "left")
      case None => base
    }
  }

  /** The store's construction pin line, verbatim — the provenance a
    * recall/ops report must carry (a recall number against an unpinned
    * or drifted store is meaningless). Refuses a pin-less store. */
  def pinLine(spark: SparkSession, dir: String): String = readMeta(spark, dir)

  /** E154 (round 16): RECALL AUDIT — recall@k of THIS store's pinned
    * searcher against exact L2 ground truth, on a sampled query set
    * drawn from the corpus (the lowest `nQueries` ids — deterministic,
    * so two audits of the same store agree bit-for-bit). AccuracySpec
    * measures recall for every searcher on the fixture; this is the
    * same number a store OWNER wants against the store they actually
    * run ([[pqAudit]] tells them where the cells hurt; this tells them
    * what the search delivers). `topR > 0` routes through the two-stage
    * [[searchArtifactsRefined]] (shortlist R, re-rank, cut to k) —
    * audit the path you serve.
    *
    * Cost at scale: ground truth is ONE corpus scan with the sampled
    * queries broadcast (Q × N distance rows stream through
    * [[TopKOps.groupedTopK]]'s bounded buffers — no window sort, no
    * driver corpus state); the searcher side is the production search
    * itself. Q bounds the audit's price — 20 queries against 10^12
    * vectors is one linear pass, the honest cost of exact truth.
    * Self-hits count for both sides (the query vector is corpus row),
    * so the measure is comparable across stores of the same corpus. */
  def annRecall(
      arts: PqArtifacts,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nQueries: Int,
      nprobe: Int = 1,
      topR: Int = 0): Double = {
    require(k >= 1, s"k out of range: $k")
    require(nQueries >= 1, s"nQueries out of range: $nQueries")
    // Materialize the ≤nQueries sample ONCE (round-16 review): the
    // TakeOrdered sub-plan is a corpus pass, and leaving it lazy would
    // re-execute it inside BOTH the ground-truth broadcast and the
    // searcher — the audit would pay ~3 corpus reads where the scaladoc
    // promises one exact pass plus the production search.
    val qSchema = corpus.select(col(idCol), col(vecCol)).schema
    val qRows = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nQueries).collect()
    require(qRows.nonEmpty,
      "annRecall: the corpus frame is empty — no queries to sample, " +
        "refusing a NaN recall")
    val spark0 = corpus.sparkSession
    val queries = spark0.createDataFrame(
        spark0.sparkContext.parallelize(qRows.toSeq, 1), qSchema)
      .select(col(idCol).as("_graft_qid"), col(vecCol))
    val qv = broadcast(
      queries.select(col("_graft_qid"), col(vecCol).as("_graft_qv")))
    val scored = corpus
      .select(col(idCol).as("_graft_vid"), col(vecCol).as("_graft_cv"))
      .crossJoin(qv)
      .select(col("_graft_qid"), col("_graft_vid"),
        (-graft.functions.VectorFunctions.l2Distance(
          col("_graft_qv"), col("_graft_cv"))).as("_graft_neg"))
    val exact = TopKOps.groupedTopK(
        scored, "_graft_qid", "_graft_neg", "_graft_vid", k)
      .select(col("_graft_qid").cast("string"), col("_graft_vid").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = (
        if (topR > 0)
          searchArtifactsRefined(arts, idCol, queries, "_graft_qid", vecCol,
            topR = topR, topN = k, nprobe = nprobe)
        else
          searchArtifacts(arts, idCol, queries, "_graft_qid", vecCol,
            topN = k, nprobe = nprobe))
      .select(col("_graft_qid").cast("string"), col(idCol).cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qids = exact.keys.toSeq
    qids.map { q =>
      (ann.getOrElse(q, Set.empty) & exact(q)).size.toDouble /
        math.min(k, exact(q).size)
    }.sum / qids.size
  }

  /** E150: REBALANCE a stored index's hot cells — the act-on-the-audit
    * maintenance op: every cell whose population exceeds `maxPop`
    * splits into `⌈pop/maxPop⌉` children by [[KmeansOps.splitHotCells]]
    * (local per-cell k-means — cold cells untouched, no global re-fit),
    * and the rebuilt store lands in `outDir` with the SAME pinned
    * codebooks (the fitted-once discipline: only the coarse level
    * refines) and the codes re-celled.
    *
    * Cost by formulation (the theorem, not a shortcut): RAW codes
    * quantize `v`, not `v − centroid`, so a cell split changes NOTHING
    * about any code row — the rebalance is pure cell-column surgery plus
    * the local fit (one corpus-vector read of the HOT cells' members).
    * A RESIDUAL store's codes quantize against the very centroids the
    * split replaces, so every SPLIT cell's member re-encodes against its
    * new child centroid (child 0's centroid settles too) with the SAME
    * pinned codebooks — a partial re-encode whose cost is ∝ the hot
    * cells' members, never the corpus (round 15, closing the round-14
    * declared edge); cold cells' codes are byte-identical either way.
    * The residual re-encode uses [[residualsAt]] (the DECLARED child
    * from the split, not a fresh arg-min): the store invariant is that
    * each code quantizes `v − centroid(recorded cell)`, which is what
    * [[ivfAdcSearchResidual]]'s per-(query, cell) LUT assumes. The
    * refinement level (E148) rides along: raw-store errors are
    * centroid-independent (re-cell only); residual-store errors move
    * with the stage-1 target, so hot members' rcodes re-encode too.
    *
    * `corpus` must cover every stored id (missing vectors refuse
    * loudly); extra corpus ids are ignored (the store is the source of
    * truth). Epochs COLLAPSE into the new base — a rebalance is a new
    * base build, so the append protocol's replay horizon travels with
    * it MECHANICALLY (round 16): the new store's code namespaces get a
    * `_graft_folded_through_<N>` marker carrying the old store's
    * horizon (its own fold marker ∨ the highest `epoch<N>` partition
    * collapsed into the new base), so [[incrementalPqEncode]] and the
    * streaming drain's checkpoint-reset guard REFUSE a pre-rebalance
    * `epoch<N>` token instead of trusting prose (its rows are already
    * in base, and the replay's coarse assignment against the NEW table
    * can differ at cell boundaries — the epoch's publish would then
    * add, not replace: duplicate membership). MANUAL (non-`epoch<N>`)
    * tokens have no numeric horizon to refuse against — for those the
    * quiesce contract stays: in-flight batches re-run as FRESH tokens
    * after cutover, the same contract
    * [[graft.operators.MaintenanceOps.foldEpochs]] declares for the
    * other six ledger spaces.
    * Returns the re-read artifacts plus how many cells split. */
  def rebalanceStore(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      outDir: String,
      maxPop: Long,
      iters: Int): (PqArtifacts, Int) = {
    // Erase-crash recovery BEFORE any namespace read (the round-17
    // commute rule: EVERY maintenance op that reads epoch state or
    // advances the marker sweeps on entry — [[foldPqEpochs]] got the
    // sweep, this op was missed): a rebalance collapses epochs into the
    // NEW base and carries the replay horizon forward, so an epoch
    // hidden at its `_erase_bak` by a crashed [[pqStoreDelete]] swap
    // would be built OUT of the new store while the carried
    // `_graft_folded_through_` marker mechanically refuses its replay —
    // the committed batch unrecoverable once the old directory retires.
    // With the sweep, the hidden epoch's rows rejoin the collapse and
    // [[replayHorizon]]'s directory listing sees its id.
    {
      val (sfs, _) = fsOf(spark, dir)
      Seq("codes", "rcodes").foreach { ns =>
        val nsPath = new org.apache.hadoop.fs.Path(dir, ns)
        if (sfs.exists(nsPath)) MaintenanceOps.recoverEraseBaks(sfs, nsPath)
      }
    }
    val arts = readPqArtifacts(spark, dir)
    val (fs, op) = fsOf(spark, outDir)
    if (fs.exists(op) && fs.listStatus(op).nonEmpty)
      throw new IllegalStateException(
        s"rebalance target $outDir is not empty — build into a fresh " +
          "directory and swap it in (the writePqArtifacts rule).")
    // The store's (id, cell) view: one code row per (id, sub), so the
    // sub = 0 slice is exactly one row per id — no aggregation needed.
    val memberCells = arts.codes.filter(col("sub") === 0)
      .select(col(idCol), col("cell").cast("int").as("cell"))
    val (src, srcVecCol) =
      if (arts.isPermuted)
        (applyPerm(corpus, vecCol, arts.perm, "_graft_pv")
          .select(col(idCol), col("_graft_pv")), "_graft_pv")
      else (corpus.select(col(idCol), col(vecCol)), vecCol)
    val asg = Tables.materialize(
      memberCells.join(src, Seq(idCol), "left")
        .select(col(idCol), col("cell"),
          when(col(srcVecCol).isNotNull, col(srcVecCol))
            .otherwise(raise_error(concat(
              lit("rebalanceStore: stored id "), col(idCol).cast("string"),
              lit(" has no vector in the corpus — the split cannot re-fit " +
                "its cell; pass the corpus the store was built from"))))
            .as("_graft_rv")))
    // Duplicate corpus rows for one stored id would ride the join into
    // DUPLICATE membership rows — inflated populations, and each code
    // row written twice into the new store (doubled ADC sums at
    // search). The family's rule is a loud refusal, and a maintenance
    // op can afford the one extra aggregation to enforce it.
    val dup = asg.groupBy(col(idCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalStateException(
        s"rebalanceStore: corpus holds ${dup.head.getLong(1)} rows for stored " +
          s"id ${dup.head.get(0)} — duplicate ids would double that id's codes " +
          "in the rebuilt store; deduplicate the corpus first.")
    val split = KmeansOps.splitHotCells(
      asg, "_graft_rv", idCol, "cell", arts.coarse, maxPop, iters)
    // New store: same pins (coarseK updated, formulation preserved),
    // same codebooks, new coarse table, codes/rcodes re-celled through
    // the attachCells loud-guard (raw) or re-encoded for the split
    // cells' members (residual), epochs collapsed into the new base.
    writeMeta(spark, outDir, pqParams(arts.model.m, arts.model.kCodes,
      arts.model.subDim, split.centroids.length, arts.residual, arts.perm))
    arts.refinement.foreach { rm =>
      writeMeta(spark, outDir,
        s"m2=${rm.m} kCodes2=${rm.kCodes} subDim2=${rm.subDim}",
        PqRefineMetaFile)
    }
    def books(m: PqModel) = m.codebooks
      .withColumnRenamed("_graft_sub", "sub")
      .withColumnRenamed("_graft_code", "code")
      .withColumnRenamed("_graft_c", "centroid")
    books(arts.model).write.mode(SaveMode.Overwrite).parquet(s"$outDir/codebooks")
    import spark.implicits._
    split.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cl", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/coarse")
    val newCells = split.assignments
      .select(col(idCol), col("cell").as("cluster"))
    def writeCoded(df: DataFrame, sub: String): Unit =
      df.withColumn("_graft_epoch", lit(BaseEpoch))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("_graft_epoch", "cell")
        .parquet(s"$outDir/$sub")
    if (!arts.residual || split.nHot == 0) {
      // Raw (or nothing split): pure cell surgery — every code row is
      // byte-identical, only the cell column moves.
      writeCoded(attachCells(arts.codes.drop("cell"), newCells, idCol), "codes")
      arts.refinement.foreach { rm =>
        books(rm).write.mode(SaveMode.Overwrite).parquet(s"$outDir/rcodebooks")
        writeCoded(attachCells(arts.rcodes.get.drop("cell"), newCells, idCol),
          "rcodes")
      }
    } else {
      // Residual: every SPLIT cell's member quantized against a centroid
      // the split replaced (child 0's settles too) — re-encode exactly
      // those members' residuals against their DECLARED child centroid
      // with the pinned codebooks; cold cells' rows pass through
      // untouched. Cost ∝ hot members, the declared-edge contract.
      val hotSeq = split.hotCells.toSeq.sorted.map(Integer.valueOf)
      val moved = Tables.materialize(
        split.assignments.withColumnRenamed("cell", "_graft_ncell")
          .join(asg.filter(col("cell").isin(hotSeq: _*))
            .select(col(idCol), col("_graft_rv")), Seq(idCol)))
      val res2 = Tables.materialize(
        residualsAt(moved, "_graft_rv", idCol, "_graft_ncell", split.centroids))
      val hotCodes = Tables.materialize(
        encodeWithCell(res2, "residual", idCol, arts.model, "cell"))
      val cold = arts.codes.filter(!col("cell").isin(hotSeq: _*))
      writeCoded(
        cold.unionByName(hotCodes.select(cold.columns.map(col).toIndexedSeq: _*)),
        "codes")
      arts.refinement.foreach { rm =>
        books(rm).write.mode(SaveMode.Overwrite).parquet(s"$outDir/rcodebooks")
        val errs = reconstructionErrorsWithCell(
          res2, "residual", idCol, arts.model, hotCodes)
        val hotR = encodeWithCell(errs, "_graft_err", idCol, rm, "cell")
        val coldR = arts.rcodes.get.filter(!col("cell").isin(hotSeq: _*))
        writeCoded(
          coldR.unionByName(hotR.select(coldR.columns.map(col).toIndexedSeq: _*)),
          "rcodes")
      }
    }
    // The replay horizon travels with the collapsed epochs (scaladoc):
    // mark each NEW namespace folded-through the old store's horizon so
    // the epoch-token guards refuse a pre-rebalance replay mechanically.
    val (ofs, _) = fsOf(spark, dir)
    Seq("codes", "rcodes").foreach { ns =>
      val newNs = new org.apache.hadoop.fs.Path(outDir, ns)
      if (fs.exists(newNs)) {
        val horizon = replayHorizon(
          ofs, new org.apache.hadoop.fs.Path(dir, ns))
        if (horizon >= 0L)
          MaintenanceOps.writeFoldedThrough(fs, newNs, horizon)
      }
    }
    (readPqArtifacts(spark, outDir), split.nHot)
  }

  /** Highest `epoch<N>` id the namespace has ever committed — its fold
    * marker ∨ the numeric epoch partitions still on disk (−1 when
    * neither exists). The horizon a rebalance must carry forward. */
  private def replayHorizon(
      fs: org.apache.hadoop.fs.FileSystem,
      nsPath: org.apache.hadoop.fs.Path): Long = {
    val mark = MaintenanceOps.foldedThrough(fs, nsPath)
    val dirMax =
      if (!fs.exists(nsPath)) -1L
      else fs.listStatus(nsPath).iterator.flatMap { s =>
        if (s.isDirectory) MaintenanceOps.epochDirId(s.getPath.getName)
        else None
      }.foldLeft(-1L)(math.max)
    math.max(mark, dirMax)
  }

  /** Read a code namespace (codes/rcodes) excluding crash-leftover
    * folded epochs (partitions at-or-under the fold marker still on disk
    * between a fold's marker write and its directory delete — their rows
    * are already in base, so including them would double every ADC sum).
    * The same read rule the count ledgers use (E109/E138). */
  private def readCodeNs(spark: SparkSession, dir: String, ns: String): DataFrame = {
    val (fs, _) = fsOf(spark, dir)
    MaintenanceOps.excludeFoldLeftovers(fs,
        new org.apache.hadoop.fs.Path(dir, ns),
        Connectors.readParquet(spark, s"$dir/$ns"))
  }

  /** E152 (round 15, closing the round-14 declared edge): fold committed
    * epoch partitions of the PQ store's code namespaces into `base` —
    * [[MaintenanceOps.foldEpochs]] over the [[Ledger.PqCodes]] space, per
    * namespace (codes, then rcodes in lockstep): a year of daily drains
    * is 365 `_graft_epoch=epochN` directories PER NAMESPACE (× cells),
    * and every read pays the listing. Folds `epoch<N>` partitions with
    * `N ≤ upToBatchId` — the replay horizon; derive it from the
    * streaming checkpoint's commit log
    * ([[MaintenanceOps.lastCommittedBatch]], CLI `--pq-fold`): a
    * committed batch never re-executes. Manually-tokened epochs (a
    * `--pq-append` with its own token) stay unfolded by design — only
    * the checkpoint gives a machine-checkable horizon. The store's pin
    * must match first. Read sides ([[readPqArtifacts]],
    * [[incrementalPqEncode]]) exclude crashed-fold leftovers;
    * [[incrementalPqEncode]] and the streaming drain's checkpoint-reset
    * guard refuse `epoch<N>` tokens at-or-under the marker even after
    * their directories are gone (a folded epoch's rows live in base —
    * replaying it would duplicate them). */
  def foldPqEpochs(
      spark: SparkSession,
      dir: String,
      upToBatchId: Long): Map[String, MaintenanceOps.CompactionReport] = {
    readMeta(spark, dir) // pin-or-refuse: fold only a pinned store
    val (fs, _) = fsOf(spark, dir)
    val namespaces = "codes" +: (
      if (fs.exists(new org.apache.hadoop.fs.Path(dir, "rcodes"))) Seq("rcodes")
      else Nil)
    namespaces.map { ns =>
      ns -> MaintenanceOps.foldEpochs(spark, s"$dir/$ns", Ledger.PqCodes, upToBatchId)
    }.toMap
  }

  /** E153 (round 15): takedown reach into the PQ STORE — remove the
    * given ids' code rows from BOTH namespaces (codes, and rcodes when
    * the store carries a refinement level), in lockstep: stage-1 codes
    * without their error codes would leave ids the re-rank's decode
    * guard refuses, and rcodes without codes would be orphaned derived
    * content. Wraps [[MaintenanceOps.ledgerDelete]] per namespace (leaf
    * swaps preserve the (epoch, cell) layout; an emptied leaf's
    * partition vanishes), audits to `auditDir/codes` / `auditDir/rcodes`
    * tombstones, and REQUIRE-matches the construction pin first — a
    * takedown against an unpinned store is as untrustworthy as a search.
    * The codebooks/coarse models stay: they are corpus-level aggregates,
    * not per-id content (the erasure target is the id's derived rows).
    * Same replay caveat as every ledger maintenance op: run behind the
    * committed replay horizon, or a replayed epoch re-adds the rows. */
  def pqStoreDelete(
      spark: SparkSession,
      dir: String,
      idCol: String,
      ids: Seq[Long],
      auditDir: String): Map[String, MaintenanceOps.LedgerDeleteReport] = {
    require(ids.nonEmpty, "empty deletion list — refusing a no-op audit")
    readMeta(spark, dir) // pin-or-refuse
    import spark.implicits._
    val keys = ids.distinct.toDF(idCol)
    val (fs, _) = fsOf(spark, dir)
    val namespaces = "codes" +: (
      if (fs.exists(new org.apache.hadoop.fs.Path(dir, "rcodes"))) Seq("rcodes")
      else Nil)
    namespaces.map { ns =>
      // Crashed-fold leftovers (partitions already merged into base with
      // their delete pending) are removed by ledgerDelete itself on
      // entry — round 16 moved the cleanup from this call site into
      // MaintenanceOps so EVERY ledger space gets it, not just the PQ
      // namespaces.
      ns -> MaintenanceOps.ledgerDelete(
        spark, s"$dir/$ns", idCol, keys, s"$auditDir/$ns")
    }.toMap
  }

  /** [[incrementalPqEncode]]'s two-step result — the ledger family's
    * write-then-commit protocol: read `codes` (the corpus-lifetime view
    * INCLUDING this batch) now, `commitLedger()` only after the batch's
    * downstream output is durably written. */
  final class PendingPqCodes private[operators] (
      /** Lifetime (id, sub, code, dist, cell) as of store + THIS batch. */
      val codes: DataFrame,
      protected val stage: () => () => Unit) extends Ledger.Commit

  /** E143: INCREMENTAL PQ encode — today's crawl encoded against the
    * PINNED codebooks (the E101 fitted-once discipline: re-fitting per
    * batch would silently shift every stored code's meaning), the ledger
    * rule's SEVENTH space (fingerprints, band buckets, SRP buckets,
    * cluster ids, span counts, sketch counters — now PQ codes). The
    * batch's codes land in their own `_graft_epoch=<token>` (× cell)
    * partitions by a staged publish: at-least-once replay of a crashed
    * batch overwrites its own partitions with identical deterministic
    * codes instead of duplicating them (the E109 protocol). The lifetime
    * read EXCLUDES the batch's own epoch before unioning the fresh
    * encode, so a replay after a half-written crash sees exactly the
    * committed prior. Batches are NEW ids by contract (the crawl
    * discipline every ledger here shares); the construction pin is
    * REQUIRE-matched before any encode. */
  def incrementalPqEncode(
      spark: SparkSession,
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      dir: String,
      epochToken: String): PendingPqCodes = {
    require(epochToken.nonEmpty && epochToken != BaseEpoch,
      s"epoch token must be a fresh non-'$BaseEpoch' batch id: '$epochToken'")
    // An epoch<N> token at-or-under the fold marker is a replay of an
    // ALREADY-FOLDED epoch: its rows live in base, so the dynamic
    // overwrite would ADD a second copy instead of replacing — refuse
    // (E152; the fold's quiesce contract made visible at the API). The
    // guard fires ONLY for tokens foldPqEpochs actually folds, decided
    // by the ONE shared parse (MaintenanceOps.foldableEpochId): a
    // purely-numeric MANUAL token like "5" is never foldable, so it is
    // not refused (round-16 ADVICE fix) — and a shape like "epoch-1"
    // is manual EVERYWHERE (the round-16 review found the guard's regex
    // and the fold machinery's toLong parse disagreeing on exactly such
    // tokens, committing batches the readers then hid and deleted).
    MaintenanceOps.foldableEpochId(epochToken).foreach { id =>
      val (fs, _) = fsOf(spark, dir)
      val mark = MaintenanceOps.foldedThrough(
        fs, new org.apache.hadoop.fs.Path(dir, "codes"))
      if (id <= mark)
        throw new IllegalStateException(
          s"epoch token '$epochToken' is at-or-under the store's fold marker " +
            s"(folded through epoch$mark into base) — replaying a folded epoch " +
            "would duplicate its rows in base. The checkpoint was reset or the " +
            "token reused; restore the original checkpoint or use a fresh token.")
    }
    val arts = readPqArtifacts(spark, dir)
    // The batch encodes under the store's PINNED formulation (round 14):
    // a permuted store permutes first (the E147 pin), a residual store
    // residualizes against the pinned coarse centroids before the same
    // encode — appending raw-encoded codes to either would silently mix
    // formulations under one pin.
    val (b2, vec2) =
      if (arts.isPermuted)
        (applyPerm(batch, vecCol, arts.perm, "_graft_bpv")
          .select(col(idCol), col("_graft_bpv")), "_graft_bpv")
      else (batch, vecCol)
    // The stage-1 TARGET (what the codes quantize) is also what the E148
    // refinement level's errors subtract from — keep it explicit.
    // Round 17: the cell rides the encode/decode projections
    // (encodeWithCell/encodeAttached/reconstructionErrorsWithCell)
    // instead of attachCells joins against the batch's own assignment.
    val (target, targetVecCol) =
      if (arts.residual)
        (Tables.materialize(residuals(b2, vec2, idCol, arts.coarse)), "residual")
      else (b2, vec2)
    val batchCodes = Tables.materialize(
      if (arts.residual)
        encodeWithCell(target, targetVecCol, idCol, arts.model, "cell")
      else encodeAttached(target, targetVecCol, idCol, arts.model, arts.coarse))
    // A refinement store appends BOTH levels under one epoch token —
    // appending stage-1 codes alone would leave ids the re-rank's
    // decode-join guard refuses (torn rcodes).
    val batchRcodes = arts.refinement.map { rmodel =>
      val errs = reconstructionErrorsWithCell(
        target, targetVecCol, idCol, arts.model, batchCodes)
      Tables.materialize(encodeWithCell(errs, "_graft_err", idCol, rmodel, "cell"))
    }
    val prior = readCodeNs(spark, dir, "codes")
      .filter(col("_graft_epoch") =!= epochToken)
      .drop("_graft_epoch")
    new PendingPqCodes(
      prior.unionByName(batchCodes.select(prior.columns.map(col).toIndexedSeq: _*)),
      () => {
        val codes = Ledger.stage(batchCodes, s"$dir/codes", Ledger.PqCodes, "", Some(epochToken))
        val rcodes = batchRcodes.map(Ledger.stage(
          _, s"$dir/rcodes", Ledger.PqCodes, "", Some(epochToken)))
        () => { codes(); rcodes.foreach(_()) }
      })
  }
}
