package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The ingest side of the ledger protocol, written once for every ledger
  * space. A ledger is a directory of state rows an incremental operator
  * keeps about the whole corpus (fingerprints, band buckets, cluster rows,
  * counters, codes), plus a parameter pin file beside them. Every space
  * follows the same rules:
  *
  *  - Write-then-commit. An ingest reads the ledger ([[prior]]) and
  *    returns its output plus a commit in two halves ([[stage]]): the
  *    stage writes the ledger rows where no reader sees them, the publish
  *    makes them the ledger's. The caller may stage while it writes the
  *    output, but publishes only after the output is durably written.
  *    Publishing before the write would let a failed write + re-run find
  *    its own rows already ledgered and drop the whole batch — silent,
  *    permanent corpus loss. With the split, a crash before the publish
  *    leaves the ledger as it was and the re-run reproduces the identical
  *    output.
  *  - Epoch replay. With an `epochToken` the stage writes the batch's
  *    rows to the hidden `.graft-stage-<token>` directory, the publish
  *    swaps it in as the `_graft_epoch=<token>` partition (replacing a
  *    replayed epoch's own), and the prior read excludes that epoch, so a
  *    crash at ANY point (before the write, during the stage, between
  *    write and publish, inside the swap, after the publish but before
  *    the caller's checkpoint) replays to the identical output and
  *    ledger.
  *  - One layout. A ledger is flat (plain commits) or epoch-partitioned
  *    (epoch commits), never both: the publish refuses, before any row
  *    becomes visible, rows in the layout the directory does not have.
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
  *  - Data means data. A directory holding only pins, markers, unpublished
  *    stages (`.graft-stage-*`) or Spark's commit debris (`_temporary`,
  *    `.spark-staging-*`, left by a crash in the first commit) is an empty
  *    ledger.
  *  - Summed counts. Count spaces sum their rows at read, so the read
  *    drops crashed-fold leftovers and `MaintenanceOps.foldEpochs` sums
  *    them by key; it takes the space, so nothing on disk declares this.
  */
object Ledger {

  /** A space's parameter pin: a file inside the ledger directory
    * (underscore prefix: parquet listings skip it), what a parameter
    * mismatch would silently do, and how messages call the pin. */
  final case class Pin(file: String, consequence: String, noun: String = "construction pin")

  /** What differs between ledger spaces: the name error messages use, the
    * pin (None for a space whose rows need no parameters), the data
    * columns without `_graft_epoch`, whether rows are summed at read (a
    * count space; its fold sums them by key), the partition columns
    * nested below `_graft_epoch`, and the columns a takedown matches
    * (empty: the space keeps no per-document rows to erase). */
  final case class Space(
      name: String,
      pin: Option[Pin],
      columns: Set[String],
      countsSummed: Boolean,
      partitionCols: Seq[String],
      eraseKeys: Seq[String])

  /** Exact (charHash, xxhash64) document fingerprints, erased on the
    * pair: `_graft_fp` alone collides at birthday scale (~35 k docs). */
  val Fingerprints = Space("fingerprint ledger", None,
    Set("_graft_fp", "_graft_fp2"), countsSummed = false, Nil, Seq("_graft_fp", "_graft_fp2"))

  /** Span-key distinct-document counts, pinned on the window width. */
  val Spans = Space("span ledger",
    Some(Pin("_graft_span_construction", "duplicate spans would silently never collide")),
    Set("_graft_h1", "_graft_h2", "_graft_n"), countsSummed = true, Nil, Nil)

  /** MinHash (band, bucket) keys, pinned on the banding. */
  val MinhashBands = Space("band ledger",
    Some(Pin("_graft_lsh_meta", "near-dups would silently never collide")),
    Set("_graft_b", "_graft_bh"), countsSummed = false, Nil, Nil)

  /** SRP (band, bucket, vector) rows, pinned on the banding and the
    * verify threshold; erased on the stored vector. */
  val SrpBands = Space("SRP band ledger",
    Some(Pin("_graft_srp_meta", "near-dups would silently never collide")),
    Set("_graft_b", "_graft_bv", "_graft_vec"), countsSummed = false, Nil, Seq("_graft_vec"))

  /** (cluster, vector) rows under a pinned k-means model: the pin is the
    * parameter line followed by the k centroid rows. Erased on the
    * stored vector. */
  val Clusters = Space("semantic ledger",
    Some(Pin("_graft_semantic_model",
      "assignment against a differently-shaped model would relabel the cluster space",
      noun = "model pin")),
    Set("_graft_cluster", "_graft_vec"), countsSummed = false, Nil, Seq("_graft_vec"))

  /** Misra–Gries counters plus the null-keyed error mass, pinned on the
    * capacity. */
  val HeavyHitters = Space("heavy-hitter ledger",
    Some(Pin("_graft_hh_construction", "the error bound would silently change meaning")),
    Set("value", "_graft_n"), countsSummed = true, Nil, Nil)

  /** PQ codes (and refinement codes), partitioned by epoch and cell. The
    * store's construction pin lives at the store root, written once by
    * `PqOps.writePqArtifacts` and required by `PqOps.readPqArtifacts`
    * before any encode, so the codes namespaces carry none; their read is
    * the store's own, so no columns are declared here. A takedown keys on
    * the store's id column (`PqOps.pqStoreDelete`), not on a fixed one. */
  val PqCodes = Space("PQ code store", None, Set.empty, countsSummed = false,
    Seq("cell"), Nil)

  /** Every ledger space. Protocol specs iterate this list, so a new space
    * cannot skip them. */
  val spaces: Seq[Space] =
    Seq(Fingerprints, Spans, MinhashBands, SrpBands, Clusters, HeavyHitters, PqCodes)

  /** The ledger commit of a prepared batch, in [[stage]]'s two halves. */
  trait Commit {
    protected def stage: () => () => Unit
    /** Stage the batch's ledger rows and return the publish. The stage may
      * run while the batch's output is written; publish ONLY after that
      * write has returned. */
    def stageLedger(): () => Unit = stage()
    /** Stage and publish the batch's ledger rows. Call ONLY after the
      * batch's output is durably written. */
    def commitLedger(): Unit = stageLedger()()
  }

  /** A prepared batch of a ledger that drops rows: the survivors, the
    * ids the ledger dropped, and the commit. */
  final class Pending private[operators] (
      /** Batch rows duplicating neither the ledgered corpus nor a
        * smaller-id batch survivor. */
      val survivors: DataFrame,
      /** (idCol) of batch rows dropped by a ledger match — callers
        * wanting verification-before-purge join these back to the corpus. */
      val ledgerHits: DataFrame,
      protected val stage: () => () => Unit) extends Commit

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

  /** The first half of a ledger commit, which no reader sees; returns
    * the second, the publish. With an `epochToken` the stage writes the
    * rows (the space's partition columns nested) into the hidden
    * `.graft-stage-<token>` directory of the ledger, and the publish swaps
    * it in as the `_graft_epoch=<token>` partition, replacing a replayed
    * epoch's own partition ([[MaintenanceOps.swapIn]]). Without one the
    * stage does nothing and the publish appends the rows. The publish
    * first refuses the other layout and a foreign pin (dropping the staged
    * rows), then writes the pin when there is none, so the pin comes
    * before the data. Staging may run beside the write of the batch's
    * output; publishing must wait for that write ([[Ledger]]'s
    * write-then-commit). */
  def stage(
      rows: DataFrame,
      dir: String,
      space: Space,
      pinBody: String,
      epochToken: Option[String]): () => Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    def partitioned(w: DataFrameWriter[Row]) =
      if (space.partitionCols.isEmpty) w else w.partitionBy(space.partitionCols: _*)
    epochToken match {
      case None => () => {
        refuseOrPin(fs, path, space, pinBody, epochs = false)
        partitioned(rows.write.mode(SaveMode.Append)).parquet(dir)
      }
      case Some(t) =>
        val staged = new Path(path, s"$StagePrefix$t")
        partitioned(rows.write.mode(SaveMode.Overwrite)).parquet(staged.toString)
        () => {
          try refuseOrPin(fs, path, space, pinBody, epochs = true)
          catch { case e: IllegalStateException => fs.delete(staged, true); throw e }
          MaintenanceOps.swapIn(fs, staged, new Path(path, s"_graft_epoch=$t"), "publish")
        }
    }
  }

  /** Name prefix of an epoch commit's staged rows: a dot directory, which
    * parquet listings, [[MaintenanceOps.ledgerHasData]] and every
    * maintenance walk skip, so a stage left by a crash is not data. */
  private[operators] val StagePrefix = ".graft-stage-"

  /** A commit's checks and its pin: refuses the other layout and a pin
    * that differs from `pinBody`, and writes the pin when there is none. */
  private def refuseOrPin(
      fs: FileSystem, path: Path, space: Space, pinBody: String, epochs: Boolean): Unit = {
    refuseOtherLayout(fs, path, space, epochs)
    space.pin.foreach { pin =>
      readPin(fs, path, pin.file) match {
        case Some(stored) if stored != pinBody.trim =>
          throw new IllegalStateException(
            s"${space.name} at $path was pinned to [${paramLine(stored)}] after this " +
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
  }

  /** The space of the ledger at `dir`: the one whose pin file it holds,
    * or, for the fingerprint ledger, which has no pin, the one whose
    * columns one footer read on the driver finds. Refuses a PQ store or
    * code namespace (the store has its own maintenance commands), a
    * directory without a pin or data, and data without a pin. */
  def spaceAt(spark: SparkSession, dir: String): Space = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def refuse(why: String): Nothing = throw new IllegalArgumentException(s"$dir $why")
    if (Iterator(path, path.getParent).exists(p =>
        p != null && fs.exists(new Path(p, PqOps.PqMetaFile))))
      refuse("is a PQ code store or one of its namespaces — fold it with --pq-fold, " +
        "erase from it with --delete-ids --pq-store")
    if (!fs.exists(path)) refuse("does not exist")
    spaces.filter(_.pin.exists(p => fs.exists(new Path(path, p.file)))) match {
      case Seq(space) => space
      case Seq() if !MaintenanceOps.ledgerHasData(fs, path) =>
        refuse("holds neither a ledger pin nor ledger data")
      case Seq() =>
        val cols = graft.pipeline.Connectors.readParquet(spark, dir).columns.toSet -
          "_graft_epoch"
        if (cols == Fingerprints.columns) Fingerprints
        else refuse(s"holds data with columns ${cols.toSeq.sorted.mkString("[", ",", "]")} " +
          "but no ledger pin — not a ledger, or its construction pin is lost " +
          "(restore it or rebuild the ledger)")
      case several =>
        refuse(s"holds the pins of ${several.map(_.name).mkString(" and ")}")
    }
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
