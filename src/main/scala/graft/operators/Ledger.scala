package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The ingest side of the ledger protocol, written once for every ledger
  * space. A ledger is a directory of state rows an incremental operator
  * keeps about the whole corpus (fingerprints, band buckets, cluster rows,
  * counters, codes), plus a parameter pin file beside them. Every space
  * follows the same rules:
  *
  *  - Write-then-commit. An ingest reads the ledger ([[prior]]) and
  *    returns its output plus a commit; the caller writes the output
  *    durably FIRST, then commits ([[commit]]). Committing before the
  *    write would let a failed write + re-run find its own rows already
  *    ledgered and drop the whole batch — silent, permanent corpus loss.
  *    With the split, a crash before the commit leaves the ledger as it
  *    was and the re-run reproduces the identical output.
  *  - Epoch replay. With an `epochToken` the batch's rows land in an
  *    `_graft_epoch=<token>` partition by dynamic overwrite and the prior
  *    read excludes that epoch, so a crash at ANY point (before the write,
  *    between write and commit, after commit but before the caller's
  *    checkpoint) replays to the identical output and ledger.
  *  - One layout. A ledger is flat (plain commits) or epoch-partitioned
  *    (epoch commits), never both: the commit refuses, before it writes,
  *    rows in the layout the directory does not have.
  *  - Pin before data. The commit writes the space's pin before the
  *    first rows. A crash between the two leaves a pinned-but-empty
  *    ledger, which reads as empty; never committed rows whose parameters
  *    can no longer be validated. An existing pin must equal the body the
  *    commit would write, or the commit refuses: a batch prepared against
  *    other parameters (a stale pending batch, a concurrent bootstrap)
  *    would otherwise file its rows under a foreign pin. The pin is
  *    created with `overwrite = false`, so two racing first commits fail
  *    loudly instead of silently replacing each other's pin.
  *  - Pin-or-refuse. A read refuses a pin that disagrees with the
  *    ingest's parameters, and a ledger holding data without its pin.
  *  - Data means data. A directory holding only pins, markers or Spark's
  *    commit debris (`_temporary`, `.spark-staging-*`, left by a crash in
  *    the first commit) is an empty ledger.
  *  - Summed counts. Count spaces sum their rows at read, so the read
  *    drops crashed-fold leftovers and the commit declares the `sum` fold
  *    rule for `MaintenanceOps.foldEpochs`.
  */
object Ledger {

  /** A space's parameter pin: a file inside the ledger directory
    * (underscore prefix: parquet listings skip it), what a parameter
    * mismatch would silently do, and how messages call the pin. */
  final case class Pin(file: String, consequence: String, noun: String = "construction pin")

  /** What differs between ledger spaces: the name error messages use, the
    * pin (None for a space whose rows need no parameters), the data
    * columns without `_graft_epoch`, and whether rows are summed at read
    * (a count space). */
  final case class Space(
      name: String,
      pin: Option[Pin],
      columns: Set[String],
      countsSummed: Boolean)

  /** Exact (charHash, xxhash64) document fingerprints. */
  val Fingerprints = Space("fingerprint ledger", None,
    Set("_graft_fp", "_graft_fp2"), countsSummed = false)

  /** Span-key distinct-document counts, pinned on the window width. */
  val Spans = Space("span ledger",
    Some(Pin("_graft_span_construction", "duplicate spans would silently never collide")),
    Set("_graft_h1", "_graft_h2", "_graft_n"), countsSummed = true)

  /** MinHash (band, bucket) keys, pinned on the banding. */
  val MinhashBands = Space("band ledger",
    Some(Pin("_graft_lsh_meta", "near-dups would silently never collide")),
    Set("_graft_b", "_graft_bh"), countsSummed = false)

  /** SRP (band, bucket, vector) rows, pinned on the banding and the
    * verify threshold. */
  val SrpBands = Space("SRP band ledger",
    Some(Pin("_graft_srp_meta", "near-dups would silently never collide")),
    Set("_graft_b", "_graft_bv", "_graft_vec"), countsSummed = false)

  /** (cluster, vector) rows under a pinned k-means model: the pin is the
    * parameter line followed by the k centroid rows. */
  val Clusters = Space("semantic ledger",
    Some(Pin("_graft_semantic_model",
      "assignment against a differently-shaped model would relabel the cluster space",
      noun = "model pin")),
    Set("_graft_cluster", "_graft_vec"), countsSummed = false)

  /** Misra–Gries counters plus the null-keyed error mass, pinned on the
    * capacity. */
  val HeavyHitters = Space("heavy-hitter ledger",
    Some(Pin("_graft_hh_construction", "the error bound would silently change meaning")),
    Set("value", "_graft_n"), countsSummed = true)

  /** PQ codes (and refinement codes), partitioned by epoch and cell. The
    * store's construction pin lives at the store root, written once by
    * `PqOps.writePqArtifacts` and required by `PqOps.readPqArtifacts`
    * before any encode, so the codes namespaces carry none; their read is
    * the store's own, so no columns are declared here. */
  val PqCodes = Space("PQ code store", None, Set.empty, countsSummed = false)

  /** Every ledger space. Protocol specs iterate this list, so a new space
    * cannot skip them. */
  val spaces: Seq[Space] =
    Seq(Fingerprints, Spans, MinhashBands, SrpBands, Clusters, HeavyHitters, PqCodes)

  /** A prepared batch of a ledger that drops rows: the survivors, the
    * ids the ledger dropped, and the commit. */
  final class Pending private[operators] (
      /** Batch rows duplicating neither the ledgered corpus nor a
        * smaller-id batch survivor. */
      val survivors: DataFrame,
      /** (idCol) of batch rows dropped by a ledger match — callers
        * wanting verification-before-purge join these back to the corpus. */
      val ledgerHits: DataFrame,
      commit: () => Unit) {
    /** Commit the survivors' rows. Call ONLY after the survivors are
      * durably written. */
    def commitLedger(): Unit = commit()
  }

  /** The committed rows an ingest reads, or None for an empty ledger
    * (missing directory, only pins or debris). Refuses a pin whose
    * parameter line differs from `pinBody`'s, data without a pin, and a
    * column set other than the space's (`_graft_epoch` included exactly
    * in epoch mode). With an `epochToken` the batch's own epoch is
    * excluded. The frame is lazy: callers pin what they derive from it
    * before committing. */
  def prior(
      spark: SparkSession,
      dir: String,
      space: Space,
      pinBody: String,
      epochToken: Option[String]): Option[DataFrame] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    // One listing serves both the pin-or-refuse check and the empty
    // short-circuit (a remote LIST is not free).
    val hasData = MaintenanceOps.ledgerHasData(fs, path)
    space.pin.foreach { pin =>
      readPin(fs, path, pin.file) match {
        case Some(stored) if paramLine(stored) != paramLine(pinBody) =>
          throw new IllegalStateException(
            s"${space.name} at $dir was built with [${paramLine(stored)}] but this " +
              s"ingest asks [${paramLine(pinBody)}] — ${pin.consequence}. Use the " +
              "ledger's parameters or rebuild it.")
        case None if hasData =>
          throw new IllegalStateException(
            s"${space.name} at $dir holds committed batches but no ${pin.file} " +
              s"${pin.noun} — its parameters cannot be validated. Restore " +
              "the pin or rebuild the ledger.")
        case _ =>
      }
    }
    if (!hasData) None
    else {
      // The schema comes from one footer read on the driver: no Spark job.
      val raw = graft.pipeline.Connectors.readParquet(spark, dir)
      // A count space's totals are read whole in either mode: a plain
      // read of an epoch ledger is how its lifetime totals are queried.
      val epochs = epochToken.isDefined ||
        (space.countsSummed && raw.columns.contains("_graft_epoch"))
      val expected = space.columns ++ (if (epochs) Set("_graft_epoch") else Set.empty)
      if (raw.columns.toSet != expected)
        throw new IllegalStateException(
          s"${space.name} at $dir has columns ${raw.columns.mkString("[", ",", "]")}, " +
            s"expected ${expected.toSeq.sorted.mkString("[", ",", "]")} — another " +
            "space's ledger, or a plain ledger opened in epoch mode (or vice versa); " +
            "rebuild before ingesting")
      val live =
        if (space.countsSummed) MaintenanceOps.excludeFoldLeftovers(fs, path, raw)
        else raw
      Some(epochToken.fold(live)(t => live.filter(col("_graft_epoch") =!= t)))
    }
  }

  /** Commit a prepared batch's ledger rows: pin (or check the pin), then
    * append the rows — or, with an `epochToken`, dynamically overwrite
    * their `_graft_epoch` partition (`extraPartitionCols` nest below it)
    * — then, for a count space, declare the fold rule. */
  def commit(
      rows: DataFrame,
      dir: String,
      space: Space,
      pinBody: String,
      epochToken: Option[String],
      extraPartitionCols: Seq[String] = Nil): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    refuseOtherLayout(fs, path, space, epochToken.isDefined)
    space.pin.foreach { pin =>
      readPin(fs, path, pin.file) match {
        case Some(stored) if stored != pinBody.trim =>
          throw new IllegalStateException(
            s"${space.name} at $dir was pinned to [${paramLine(stored)}] after this " +
              s"batch was prepared against [${paramLine(pinBody)}]" +
              (if (paramLine(stored) == paramLine(pinBody)) s" (a different ${pin.noun})"
               else "") +
              s" — committing its rows under the foreign pin means ${pin.consequence}. " +
              "Prepare the batch again.")
        case Some(_) =>
        case None =>
          val out = fs.create(new Path(path, pin.file), false)
          try out.write(pinBody.getBytes("UTF-8")) finally out.close()
      }
    }
    val parts = epochToken.map(_ => "_graft_epoch").toSeq ++ extraPartitionCols
    val writer = epochToken match {
      case None => rows.write.mode(SaveMode.Append)
      case Some(t) =>
        rows.withColumn("_graft_epoch", lit(t))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
    }
    (if (parts.isEmpty) writer else writer.partitionBy(parts: _*)).parquet(dir)
    if (space.countsSummed) MaintenanceOps.declareCountFoldRule(fs, path)
  }

  /** Refuses a commit whose layout differs from the ledger's: rows appended
    * flat beside `_graft_epoch=` partitions, or an epoch partition beside
    * flat part files. Either way one of the two sets of rows drops out of
    * later reads (Spark reads a directory as partitioned or as flat, not
    * both), so the batch would be committed and silently lost. */
  private def refuseOtherLayout(
      fs: FileSystem, path: Path, space: Space, epochs: Boolean): Unit =
    if (fs.exists(path)) {
      val names = fs.listStatus(path).map(_.getPath.getName)
      val clash =
        if (epochs) names.filterNot(n => n.startsWith("_") || n.startsWith("."))
        else names.filter(_.startsWith("_graft_epoch="))
      if (clash.nonEmpty) {
        val (has, asks) =
          if (epochs) ("flat (part files at its root)", "an epoch partition")
          else ("epoch-partitioned (`_graft_epoch=` directories)", "flat part files")
        throw new IllegalStateException(
          s"${space.name} at $path is $has, but this commit would add $asks " +
            s"(found ${clash.sorted.take(3).mkString(", ")}) — rows of one layout are " +
            "not read beside the other, so the batch would be lost. Commit with the " +
            "ledger's own mode (with an epoch token into an epoch ledger, without one " +
            "into a flat ledger) or rebuild it.")
      }
    }

  /** The content of the pin file `file` in `dir`, trimmed, or None when
    * it is absent. The one reader of every pin. */
  def readPin(fs: FileSystem, dir: Path, file: String): Option[String] = {
    val p = new Path(dir, file)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** A recall audit's view of a band ledger's pin: the pin line and the
    * parameters `parse` takes from its `k=v,k=v` pairs. Refuses a missing
    * pin (the audit must band with the ledger's own parameters, never
    * guessed ones) and an unparseable one. */
  private[operators] def auditPin[A](spark: SparkSession, dir: String, space: Space)(
      parse: Map[String, String] => A): (String, A) = {
    val file = space.pin.get.file
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pin = readPin(fs, path, file).getOrElse(throw new IllegalArgumentException(
      s"${space.name} at $dir has no $file construction pin — " +
        "the audit must band with the ledger's own parameters; restore the pin " +
        "or rebuild the ledger"))
    val kv = pin.split(",").map(_.split("=")).collect {
      case Array(k, v) => k -> v
    }.toMap
    try (pin, parse(kv))
    catch { case e: Exception =>
      throw new IllegalStateException(
        s"unparseable construction pin at ${new Path(path, file)}: [$pin]", e)
    }
  }

  /** A pin's parameter line: the whole pin, except for the semantic
    * model, whose later lines are the centroids the ingest derives from
    * the pin itself. */
  private def paramLine(pin: String): String =
    pin.linesIterator.nextOption().getOrElse("")
}
