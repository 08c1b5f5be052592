package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for parquet directories. Long-running incremental
  * pipelines (CopyJob appends a part per run) accumulate files far smaller
  * than a scan partition; at cluster scale the file-listing and per-file
  * open costs come to dominate reads. Compaction rewrites the directory
  * into ~`targetMB`-sized files; a directory already holding no more
  * files than that is left as it is.
  *
  * The swap never has a moment with ZERO copies on disk: the live dir is
  * renamed to a backup, the compacted dir renamed into place, then the
  * backup deleted — a crash at any step leaves either the original (as
  * `.<name>_compact_bak`, restorable) or the new data live. Each rename's
  * boolean result is checked (Hadoop signals failure by return value, not
  * exception). On HDFS each rename is atomic; on object stores it is not —
  * there, the standard play is compact-to-new-prefix + repoint the table
  * location.
  */
object MaintenanceOps {

  final case class CompactionReport(filesBefore: Int, filesAfter: Int, rows: Long)

  private def dataDirs(fs: org.apache.hadoop.fs.FileSystem, path: Path) =
    fs.listStatus(path).filter { s =>
      val n = s.getPath.getName
      // A `col=value` name is a Hive partition directory even when the
      // column is underscore-prefixed — the idempotent sink's
      // `_graft_batch=` and the band ledgers' `_graft_epoch=` layouts.
      // Excluding those here made compactPartitioned a silent NO-OP on
      // exactly the directories its scaladoc promises to preserve.
      s.isDirectory && (n.contains("=") || (!n.startsWith("_") && !n.startsWith(".")))
    }

  def compactParquet(
      spark: SparkSession,
      dir: String,
      targetMB: Int = 128): CompactionReport = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def dataFiles() = fs.listStatus(path).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

    // A Hive-partitioned directory (col=value subdirs — what
    // PartitionedParquetSink / IdempotentParquetSink write) must NOT be
    // flat-rewritten: the partition columns would fold into the data files
    // (readers lose directory pruning) and a later idempotent-batch replay
    // would write token subdirs BESIDE flat files — a mixed, unreadable
    // layout that breaks replace-on-replay. Refuse loudly; the
    // per-partition variant preserves the layout.
    val subdirs = dataDirs(fs, path)
    if (subdirs.nonEmpty)
      throw new IllegalArgumentException(
        s"$dir contains partition subdirectories " +
          s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
          "a flat rewrite would fold partition columns into data files; " +
          "use compactPartitioned to compact leaf-by-leaf")

    val before = dataFiles()
    if (before.isEmpty) return CompactionReport(0, 0, 0L)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes / (targetMB * 1024.0 * 1024.0)).toInt)
    // Already at its target: a rewrite would produce the same file count.
    // The rows come from the footers, read on the driver (no Spark job).
    if (before.length <= nOut)
      return CompactionReport(before.length, before.length, before.map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, fs.getConf))
        try r.getRecordCount finally r.close()
      }.sum)

    // Row count rides the rewrite as an observed metric — a separate
    // count() pass would double the dominant I/O cost (same single-scan
    // rule as CopyJob).
    val obs = org.apache.spark.sql.Observation(s"compact_${path.getName}")
    val tmp = stagedPath(path, "compact")
    spark.read.parquet(dir)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val rows = obs.get("n").asInstanceOf[Long]
    swapIn(fs, tmp, path, "compact")
    CompactionReport(before.length, dataFiles().length, rows)
  }

  /** Targeted-delete report: rows scanned, rows removed, requested ids
    * that were not present (already gone / never existed — the
    * idempotence signal), and files after the rewrite. */
  final case class DeleteReport(
      rowsBefore: Long, deleted: Long, rowsAfter: Long, notFound: Long)

  /** Governance pass: remove specific ids from a parquet corpus
    * directory — the takedown/right-to-erasure operation every
    * training-data store eventually owes someone. Costs exactly ONE
    * corpus scan: the rewrite's anti-join observes the counts AND the
    * matched deny ids in the same pass (spec-gated by input-records
    * accounting), so the audit derivation never re-reads the corpus —
    * at 100 TB the second scan this replaced doubled every takedown.
    * Same atomic
    * rewrite-then-swap protocol as [[compactParquet]] (readers never see
    * a half-deleted directory; a crash before the swap leaves the
    * original untouched), with the delete audited to `auditDir` as a
    * tombstone record per requested id: `(id, found)` — the proof of
    * WHAT was deleted (and what was already absent, making replays
    * idempotent by inspection) without retaining any deleted CONTENT,
    * which would defeat the point.
    *
    * The denylist is broadcast (takedown lists are small against a
    * corpus; a list large enough to break that assumption should go
    * through the anti-join ingest filters instead) and DEDUPED at entry:
    * takedown lists routinely repeat ids across request batches, and a
    * duplicate entry would otherwise multiply matched rows through the
    * join (inflating the report) and append duplicate tombstones. The
    * anti-join is null-safe on the id. Flat directories only — the
    * partitioned variant would rewrite leaf-by-leaf like
    * [[compactPartitioned]]; refused loudly rather than silently
    * flattened.
    *
    * Atomicity caveat (same as [[compactParquet]]): the swap is two
    * renames, and between rename(path→bak) and rename(tmp→path) the
    * corpus directory briefly does not exist — a reader racing that
    * ~ms window fails its scan, and a crash INSIDE it strands the data
    * in the hidden `.<name>_delete_bak` sibling — restored automatically
    * at the next entry (round 17: [[recoverEraseBaks]] sweeps the
    * `_delete_*` artifacts too; re-running the delete converges, swept
    * boundary-by-boundary in CrashSweepSpec). "Readers never see a
    * HALF-deleted directory" is the
    * guarantee — they can transiently see a missing one. A cluster
    * deployment wanting a truly atomic swap puts a table format's
    * metadata commit (or a view flip) in front of the directory. */
  def targetedDelete(
      spark: SparkSession,
      dir: String,
      idCol: String,
      ids: Seq[Long],
      auditDir: String): DeleteReport = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_set, count, lit, sum, when}
    require(ids.nonEmpty, "empty deletion list — refusing a no-op audit")
    val idsDistinct = ids.distinct
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Self-healing re-entry (round 17; previously the scaladoc said
    // "recover by renaming it back" — the one swap in the family whose
    // recovery was manual): a crash between the two renames leaves the
    // corpus ONLY at its `.<name>_delete_bak` — restore it before the
    // scan, exactly the [[ledgerDelete]] rule.
    recoverEraseBaks(fs, path)
    val subdirs = dataDirs(fs, path)
    if (subdirs.nonEmpty)
      throw new IllegalArgumentException(
        s"$dir contains partition subdirectories — targetedDelete rewrites flat " +
          "directories only (a flat rewrite would fold partition columns into data files)")
    val denyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(idsDistinct.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_graft_deny_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val src = spark.read.parquet(dir)
    val obs = org.apache.spark.sql.Observation(s"delete_${path.getName}")
    val tmp = stagedPath(path, "delete")
    // ONE scan: the anti-joined rewrite observes the before/hit counts
    // AND the set of deny ids that actually matched (collect_set skips
    // the anti-join survivors' nulls; the metric row is bounded by the
    // denylist, which is broadcast-small by this operator's stated
    // contract — a 100 TB takedown costs exactly one corpus read).
    src
      .join(broadcast(denyDf), col(idCol) === col("_graft_deny_id"), "left")
      .observe(obs,
        count(lit(1)).as("before"),
        sum(when(col("_graft_deny_id").isNotNull, 1L).otherwise(0L)).as("hit"),
        collect_set(col("_graft_deny_id")).as("found_ids"))
      .filter(col("_graft_deny_id").isNull)
      .drop("_graft_deny_id")
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val before = obs.get("before").asInstanceOf[Long]
    val hit = Option(obs.get("hit")).map(_.asInstanceOf[Long]).getOrElse(0L)
    // Tombstone audit BEFORE the swap: if the audit cannot be written,
    // the corpus must not change (an unaudited takedown is the failure
    // the audit exists to prevent).
    val foundIds = obs.get("found_ids")
      .asInstanceOf[scala.collection.Seq[Long]].toSet
    import spark.implicits._
    idsDistinct.map(i => (i, foundIds.contains(i))).toDF("id", "found")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(auditDir)
    swapIn(fs, tmp, path, "delete")
    DeleteReport(before, hit, before - hit, idsDistinct.size.toLong - foundIds.size)
  }

  /** [[ledgerDelete]]'s report: `notFound` keys were already absent (the
    * idempotence signal); `leavesRewritten` counts swapped or deleted
    * leaf directories. */
  final case class LedgerDeleteReport(
      rowsBefore: Long, deleted: Long, rowsAfter: Long, notFound: Long,
      leavesRewritten: Int)

  /** E153 (round 15, closing the round-14 declared edge): takedown reach
    * into the LEDGER/ARTIFACT spaces — [[targetedDelete]] erases ids from
    * a flat corpus, but the derived spaces retain per-row content: the
    * SRP/semantic ledgers carry the raw VECTOR, the fingerprint ledger
    * the content hash, the PQ store per-id codes. A right-to-erasure
    * delete that leaves those behind retains derived content for the
    * deleted id. This removes every ledger row whose `keyCol` matches a
    * key in `keys` (a one-column frame, takedown-sized by contract —
    * broadcast), preserving what a ledger cannot lose: the `_graft_*`
    * construction pins and the epoch/cell partition LAYOUT (leaves
    * rewrite in place via the [[compactParquet]] swap protocol; a leaf
    * whose rows all match is deleted — its partition simply vanishes).
    *
    * The ledgers are not id-keyed: each space names the columns a
    * takedown matches ([[Ledger.Space]]'s `eraseKeys` — the stored
    * vector for the SRP and semantic ledgers, the fingerprint PAIR for
    * the fingerprint ledger), and the caller derives their values from
    * the corpus BEFORE the corpus delete. The PQ store's namespaces key
    * on the id column ([[PqOps.pqStoreDelete]] wraps both).
    *
    * Cost: ONE full ledger scan (a left broadcast join groups total/hit
    * counts and the matched keys per FILE via `_metadata.file_path` —
    * driver state is one small row per ledger file, each carrying at
    * most denylist-many matched keys), then a rewrite of ONLY the leaf
    * directories that contain hits (≤ denylist-bounded). Survivors
    * never write over the directory being read (the foldEpochs rule,
    * here by construction): the partitioned branch stages ALL hit
    * leaves' survivors into a hidden tmp tree in one job, then swaps
    * each hit leaf in ([[swapIn]]), and the flat branch tmp-rewrites
    * and swaps the root the same way.
    * The audit tombstones `(key, found)` append BEFORE any rewrite (an
    * unaudited takedown is the failure the audit exists to prevent);
    * a crash mid-way leaves whole leaves either old or new (per-leaf
    * atomic swaps), and a re-run converges (anti-join idempotent, the
    * already-gone keys simply audit `found = false`). With
    * `hashKeys = true` the tombstone stores `sha2(to_json(key), 256)`
    * instead of the key itself — for vector-keyed spaces the key IS the
    * erased content, and a right-to-erasure audit must not retain it
    * (found/not-found remains answerable: hash the probe key). Run it
    * between drains (the compaction rule): a later epoch REPLAY would
    * re-add a deleted id's rows — delete behind the committed replay
    * horizon. */
  def ledgerDelete(
      spark: SparkSession,
      ledgerDir: String,
      keyCol: String,
      keys: org.apache.spark.sql.DataFrame,
      auditDir: String,
      hashKeys: Boolean = false): LedgerDeleteReport =
    ledgerDelete(spark, ledgerDir, Seq(keyCol), keys, auditDir, hashKeys)

  /** COMPOSITE-key [[ledgerDelete]] (round 17, closing the round-16
    * advice): a ledger whose row identity is a PAIR of columns — the
    * fingerprint ledger keys dedup on `(_graft_fp, _graft_fp2)` exactly
    * because `_graft_fp` alone (charHash mod 1e9+7, ~30 bits) collides
    * at birthday scale ~35 k docs — must be erased on the pair: keyed on
    * `_graft_fp` alone, a corpus-scale takedown also deletes UNRELATED
    * docs' rows, silently disabling their dedup on re-ingest. The match
    * is the conjunction of null-safe equalities over `keyCols`; the
    * audit tombstones carry one column per key (named after the ledger's
    * own key columns; the single-key form keeps its historical `key`
    * name), and `hashKeys` hashes the canonical JSON of the full key
    * struct. Everything else — one-scan accounting, staged swaps, pin
    * preservation, refusals — is the single-key contract verbatim. */
  def ledgerDelete(
      spark: SparkSession,
      ledgerDir: String,
      keyCols: Seq[String],
      keys: org.apache.spark.sql.DataFrame,
      auditDir: String,
      hashKeys: Boolean): LedgerDeleteReport = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_set, count, lit, regexp_replace, sha2, struct, to_json, when}
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"keyCols must be non-empty and distinct: ${keyCols.mkString(", ")}")
    val path = new Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery FIRST (round-16 review): a crash between the swap's
    // two renames leaves a leaf only at its dot-hidden `_erase_bak` —
    // invisible to the pass-1 scan, and a naive re-run would delete the
    // staged tmp tree holding the only survivor copy. Restore any bak
    // whose leaf is missing (the rename back is the inverse of the crash
    // step), drop any bak whose leaf exists (crash was after the staged
    // leaf landed), THEN scan. The flat-root bak lives in the root's
    // PARENT, so it is checked before the existence require.
    recoverEraseBaks(fs, path)
    require(fs.exists(path), s"ledger directory $ledgerDir does not exist")
    // Crashed-fold leftovers are already merged into base — physically
    // remove them before scanning so their rows neither double-count the
    // hits nor pay a staged rewrite of a doomed partition (the rule
    // pqStoreDelete applied to the PQ namespaces, generalized to every
    // ledger space).
    deleteFoldLeftovers(fs, path)
    keyCols.foreach(kc => require(keys.columns.contains(kc),
      s"keys frame must carry the key column '$kc', has " +
        keys.columns.mkString(", ")))
    val src = spark.read.parquet(ledgerDir)
    keyCols.foreach(kc => require(src.columns.contains(kc),
      s"ledger at $ledgerDir has no column '$kc' (columns: " +
        s"${src.columns.mkString(", ")}) — pass the space's key column" +
        "(s) (see the per-space key recipes in the scaladoc)"))
    // Takedown-sized by contract: the distinct keys collect driver-side
    // for the audit and rebroadcast exactly once.
    val keyRows = keys.select(keyCols.map(col): _*).distinct().collect().toSeq
    require(keyRows.nonEmpty, "empty deletion key set — refusing a no-op audit")
    val keyTypes = keyCols.map(kc => keys.schema(kc).dataType)
    val dkCols = keyCols.indices.map(i => s"_graft_dk_$i")
    // The extra constant marker makes "this row matched" observable
    // independently of the key VALUES: with composite keys a legitimate
    // null key component would otherwise make both hit-counting and the
    // matched-key collection blind to its row.
    val dkSchema = org.apache.spark.sql.types.StructType(
      dkCols.zip(keyTypes).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t)
      } :+ org.apache.spark.sql.types.StructField("_graft_dk_hit",
        org.apache.spark.sql.types.BooleanType, nullable = false))
    def dkFrame(sess: SparkSession) = broadcast(sess.createDataFrame(
      sess.sparkContext.parallelize(
        keyRows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ true)), 1),
      dkSchema))
    val keyDf = dkFrame(spark)
    // The conjunction of null-safe equalities — a null key component can
    // only match a null ledger value, never silently everything.
    val matchCond = keyCols.zip(dkCols)
      .map { case (k, d) => col(k) <=> col(d) }.reduce(_ && _)
    // ONE ledger scan: per-LEAF-DIRECTORY total rows, hit rows, and the
    // matched keys. Grouping by the
    // file's PARENT keeps the driver state at one row per leaf
    // partition, not per file — a compacted 10^12-row store has ~cells
    // leaves but can have millions of files.
    val perFile = src
      .select(keyCols.map(col) :+
        regexp_replace(col("_metadata.file_path"), "/[^/]+$", "").as("_graft_f"): _*)
      .join(keyDf, matchCond, "left")
      .groupBy(col("_graft_f"))
      .agg(count(lit(1)).as("all"), count(col("_graft_dk_hit")).as("hit"),
        collect_set(when(col("_graft_dk_hit"),
          struct(dkCols.map(col): _*))).as("ks"))
      .collect()
    val rowsBefore = perFile.map(_.getLong(1)).sum
    val hit = perFile.map(_.getLong(2)).sum
    val foundKeys = perFile.flatMap(_.getSeq[org.apache.spark.sql.Row](3))
      .map(_.toSeq).toSet
    val rootUri = fs.makeQualified(path).toUri
    // _graft_f is already the leaf DIRECTORY (the per-file path had its
    // last segment stripped inside the aggregation).
    def leafOf(leafUri: String): Path =
      fs.makeQualified(new Path(new java.net.URI(leafUri)))
    // A PARTITION column cannot be the deletion key (round-16 verdict):
    // pass 1 read it with type inference ON (typed) while the staged
    // rewrite reads with inference OFF (verbatim strings), so the same
    // key could match in one pass and not the other — and no ledger
    // space in this family keys by its partition column anyway. Checked
    // against EVERY leaf's layout BEFORE the audit lands (a tombstone
    // for a refused delete would claim an erasure that never ran).
    val layoutPartCols = perFile.iterator.flatMap { r =>
      leafOf(r.getString(0)).toUri.getPath
        .stripPrefix(rootUri.getPath)
        .split("/").filter(_.nonEmpty).map(_.split("=")(0))
    }.toSet
    val partKeyClash = keyCols.filter(layoutPartCols.contains)
    require(partKeyClash.isEmpty,
      s"keyCol '${partKeyClash.mkString(", ")}' is a partition column of " +
        s"the ledger at $ledgerDir — ledgerDelete keys on DATA columns " +
        "(partition values are directory names, typed inconsistently " +
        "across the two passes); drop whole partitions by path instead")
    // Tombstone audit BEFORE the rewrites (the targetedDelete rule):
    // (key, found) per requested key — or, with hashKeys, the key's
    // sha2-256 over its canonical JSON encoding: content-free for
    // vector-keyed erasure (the raw vector IS the erased content), and
    // still probe-able (hash the key you're asking about). Composite
    // keys tombstone one column per key, named after the ledger's own
    // key columns; the single-key form keeps its historical `key` name
    // (and hash encoding) so existing trails stay appendable.
    val auditKeyCols = if (keyCols.size == 1) Seq("key") else keyCols
    val auditRaw = spark.createDataFrame(
        spark.sparkContext.parallelize(
          keyRows.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ foundKeys.contains(r.toSeq))), 1),
        org.apache.spark.sql.types.StructType(
          auditKeyCols.zip(keyTypes).map { case (n, t) =>
            org.apache.spark.sql.types.StructField(n, t)
          } :+ org.apache.spark.sql.types.StructField("found",
            org.apache.spark.sql.types.BooleanType, nullable = false)))
    val audit =
      if (hashKeys)
        auditRaw.select(
          sha2(to_json(struct(auditKeyCols.map(col): _*)), 256).as("key_sha256"),
          col("found"))
      else auditRaw
    // An audit trail mixing raw-key and hashed-key schemas in one
    // directory is unreadable as parquet afterwards (round-16 advice:
    // hashKeys toggled across runs). Refuse the append when the existing
    // trail's columns disagree — hashed and raw audits belong in
    // separate directories.
    val auditPath = new Path(auditDir)
    val auditFs = auditPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (auditFs.exists(auditPath) && auditFs.listStatus(auditPath).exists { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }) {
      val existing = spark.read.parquet(auditDir).columns.toSet
      val incoming = audit.columns.toSet
      require(existing == incoming,
        s"audit schema mismatch at $auditDir: existing columns " +
          s"${existing.toSeq.sorted.mkString(", ")} vs this run's " +
          s"${incoming.toSeq.sorted.mkString(", ")} (hashKeys toggled?) — " +
          "write hashed audits to their own directory")
    }
    audit.coalesce(1)
      .write.mode(SaveMode.Append).parquet(auditDir)
    // Rewrite only the leaf directories holding hits. Per-leaf survivor
    // counts come from the pass-1 accounting (no extra read).
    val hitLeaves = perFile.filter(_.getLong(2) > 0L)
      .map(r => leafOf(r.getString(0))).distinct.toSeq
    // Per-leaf totals count files WITHOUT hits inside the same leaf too
    // (the left join saw every file) — survivors(leaf) = all − hit.
    val allByLeaf = perFile.groupBy(r => leafOf(r.getString(0))).view
      .mapValues(_.map(r => r.getLong(1)).sum).toMap
    val hitByLeaf = perFile.groupBy(r => leafOf(r.getString(0))).view
      .mapValues(_.map(r => r.getLong(2)).sum).toMap
    val flatRoot = hitLeaves.exists(l => fs.makeQualified(l).toUri == rootUri)
    if (flatRoot) {
      // FLAT ledger: the root itself is the one leaf — tmp-rewrite, then
      // the staged swap, which carries the root-level `_graft_*` pins.
      require(hitLeaves.length == 1,
        s"ledger at $ledgerDir mixes root-level files with partition " +
          "subdirectories — a layout no writer of this family produces")
      val leaf = hitLeaves.head
      if (allByLeaf(leaf) - hitByLeaf(leaf) == 0L)
        throw new IllegalStateException(
          s"ledgerDelete would remove EVERY row of the flat ledger at " +
            s"$ledgerDir — delete the directory (and its pins) explicitly " +
            "instead of erasing it empty.")
      val tmp = stagedPath(leaf, "erase")
      fs.delete(tmp, true)
      spark.read.parquet(leaf.toString)
        .join(keyDf, matchCond, "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapIn(fs, tmp, leaf, "erase")
    } else if (hitLeaves.nonEmpty) {
      // PARTITIONED ledger: ONE job stages every hit leaf's survivors
      // into a hidden tmp tree — a takedown touching 200 leaves must
      // not pay 200 sequential job launches (measured 0.4 s each at the
      // probe scale; one job is ~flat in leaf count) — then each hit
      // leaf swaps via the family's rename protocol. Staging (rather
      // than dynamic partition overwrite of ledgerDir itself) buys two
      // things at once: the job never writes over the directory it is
      // reading (the foldEpochs rule, satisfied by construction instead
      // of a checkpoint pin), and the per-leaf swap is two renames with
      // the bak kept until the staged leaf is in — whole-leaf old-or-new
      // under any crash, where dynamic overwrite's commit (delete
      // existing partition, then rename staged) can lose a leaf's
      // SURVIVORS between its two steps. The affected leaves read back
      // WITH their partition columns (basePath); a leaf whose rows ALL
      // matched stages no output directory and is deleted outright (a
      // crash between the two re-runs convergently: pass 1 still finds
      // its hits). Partition column names parse from the leaf's
      // relative `col=value` path segments.
      val partCols = {
        val rel = hitLeaves.head.toUri.getPath
          .stripPrefix(fs.makeQualified(path).toUri.getPath)
          .split("/").filter(_.nonEmpty)
        val cols = rel.map(_.split("=")(0)).toSeq
        require(cols.nonEmpty && hitLeaves.forall { l =>
          l.toUri.getPath.stripPrefix(fs.makeQualified(path).toUri.getPath)
            .split("/").filter(_.nonEmpty).map(_.split("=")(0)).toSeq == cols
        }, s"ledger at $ledgerDir has an inconsistent partition layout " +
          "across its hit leaves — rewrite it with compactLedger first")
        cols
      }
      val tmpRoot = new Path(path, "._graft_erase_tmp")
      fs.delete(tmpRoot, true)
      // Partition VALUES must round-trip as the exact directory-name
      // strings (round-16 review): with type inference on, a value like
      // a zero-padded manual epoch token `007` reads back as int 7 and
      // the staged write renders `=7` — a name the swap loop below would
      // not find, mis-inferring "every row matched" and deleting the
      // leaf's survivors. Inference OFF keeps every partition value the
      // verbatim dir string, so staged names equal the original names by
      // construction; nothing is persisted typed (partitionBy stores the
      // value only in the dir name). The setting is scoped to a CLONED
      // session (round-16 advice: flipping the shared session conf let
      // any concurrent query on the same SparkSession observe inference
      // disabled for the duration of the rewrite); the deletion keys are
      // re-broadcast inside the clone from the already-collected rows.
      val eraseSession = spark.newSession()
      eraseSession.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      eraseSession.read.option("basePath", ledgerDir)
        .parquet(hitLeaves.map(_.toString): _*)
        .join(dkFrame(eraseSession), matchCond, "left_anti")
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partCols: _*)
        .parquet(tmpRoot.toString)
      val rootQ = fs.makeQualified(path).toUri.getPath
      hitLeaves.foreach { leaf =>
        val rel = leaf.toUri.getPath.stripPrefix(rootQ).stripPrefix("/")
        val staged = new Path(tmpRoot, rel)
        val survivors = allByLeaf(leaf) - hitByLeaf(leaf)
        if (fs.exists(staged)) {
          swapIn(fs, staged, leaf, "erase")
        } else if (survivors == 0L) {
          // Every row matched (pass-1 accounting, not inferred from the
          // staged dir's absence) — the partition vanishes, except any
          // in-leaf `_graft_*` pins/markers, which stay behind in a
          // data-less shell: an erased-empty base partition must not
          // take the fold horizon with it.
          val pins = fs.listStatus(leaf).filter { f =>
            f.isFile && f.getPath.getName.startsWith("_graft_")
          }.map(_.getPath.getName)
          if (pins.isEmpty) fs.delete(leaf, true)
          else fs.listStatus(leaf).foreach { f =>
            if (!pins.contains(f.getPath.getName)) fs.delete(f.getPath, true)
          }
        } else {
          // Survivors exist but their staged copy is not where the swap
          // expects it — refuse loudly rather than delete survivors. The
          // leaf is untouched; a re-run converges.
          throw new IllegalStateException(
            s"ledgerDelete: staged survivors missing for leaf $leaf " +
              s"($survivors expected at $staged) — refusing the swap; " +
              "the leaf is untouched, inspect ._graft_erase_tmp")
        }
      }
      fs.delete(tmpRoot, true)
    }
    LedgerDeleteReport(rowsBefore, hit, rowsBefore - hit,
      (keyRows.size - foundKeys.size).toLong, hitLeaves.length)
  }

  /** Cluster a dataset's FILE layout for scan pruning: range-partition on
    * the cluster columns, sort within each partition, write parquet. Every
    * output file then covers a narrow, near-disjoint range of the cluster
    * key, so parquet min/max statistics (and any engine's file skipping)
    * prune most files for a selective predicate — at 100 TB, the
    * difference between scanning a date slice and scanning everything,
    * WITHOUT the directory explosion a high-cardinality `partitionBy`
    * would cause. One range shuffle (samples the key distribution) + a
    * per-partition sort; equal keys land in one file.
    */
  def clusterBy(
      df: org.apache.spark.sql.DataFrame,
      dir: String,
      cols: Seq[String],
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(nFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Morton z-value of two columns, low `bits` bits each (inputs are cast
    * to long; callers fold high-cardinality keys into the budget with a
    * `% (1 << bits)` first — the curve only needs enough resolution to
    * separate files, not to order every key). */
  def zorderValue(x: org.apache.spark.sql.Column,
                  y: org.apache.spark.sql.Column,
                  bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.BitInterleaveExpr(
      ColumnBridge.expression(x.cast("long")),
      ColumnBridge.expression(y.cast("long")), bits))
  }

  /** N-ary [[zorderValue]]: Morton z-value of 2–6 columns, `bits` low
    * bits each, round-robin bit layout (the 2-column case is
    * bit-identical to the binary form). Real layout tuning clusters 3–4
    * keys; the budget must fit one long (`bits·k ≤ 63`). */
  def zorderValueN(cols: Seq[org.apache.spark.sql.Column],
                   bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.BitInterleaveNExpr(
      cols.map(c => ColumnBridge.expression(c.cast("long"))), bits))
  }

  /** Z-order clustering: [[clusterBy]]'s two-dimensional sibling. A
    * single-column range cluster gives file-level min/max locality in ONE
    * column and none in the other; range-partitioning by the interleaved
    * z-value bounds every output file in BOTH columns at once, so
    * selective predicates on EITHER (or both) prune files/row-groups at
    * the scan (`PartitionFilters`/parquet stats). Same cost shape as
    * clusterBy: one range shuffle (samples the z distribution) + a
    * per-partition sort; the z column is dropped before the write. */
  def zorderCluster(
      df: org.apache.spark.sql.DataFrame,
      dir: String,
      colX: String,
      colY: String,
      bits: Int,
      nFiles: Int): Unit =
    zorderClusterN(df, dir, Seq(colX, colY), bits, nFiles)

  /** N-column [[zorderCluster]] (2–6 cluster keys, [[zorderValueN]]'s
    * curve): every output file gets a bounded min/max box in ALL
    * interleaved columns at once. Same cost shape regardless of k: one
    * range shuffle + a per-partition sort. */
  def zorderClusterN(
      df: org.apache.spark.sql.DataFrame,
      dir: String,
      cols: Seq[String],
      bits: Int,
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = zorderValueN(cols.map(col), bits)
    df.withColumn("_graft_zval", z)
      .repartitionByRange(nFiles, col("_graft_zval"))
      .sortWithinPartitions(col("_graft_zval"))
      .drop("_graft_zval")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Compact a near-dup band LEDGER directory ([[LshOps]]/[[SrpOps]]
    * incremental ingest state). Epoch-keyed ledgers grow one
    * `_graft_epoch=<token>` partition per micro-batch FOREVER — a daily
    * 100 TB ingest accumulates thousands of small parquet leaves, and the
    * per-batch ledger read comes to be dominated by file listing/opens.
    * This compacts the data files while preserving the two things a
    * ledger cannot lose:
    *
    *  - the `_graft_*_meta` construction-parameter pin. A partitioned
    *    ledger keeps it naturally (only `col=value` leaves are rewritten);
    *    a FLAT ledger's [[compactParquet]] swap replaces the whole
    *    directory, and the swap ([[swapIn]]) copies the root-level
    *    `_graft_*` files out of the bak before dropping it. Losing the
    *    pin would not corrupt data but would disarm the width-drift
    *    refusal — the next mismatched ingest would silently never
    *    collide and then RE-pin at the drifted parameters.
    *  - the epoch partition layout (replay safety): leaves are compacted
    *    in place, never folded together, so a crash-replayed epoch still
    *    replaces exactly its own partition. Fold/expire of
    *    epochs known to be beyond checkpoint replay is a separate,
    *    deliberately manual decision.
    *
    * Run it between drains (the ingest protocol holds no locks). Safe on
    * both ledger families and both layouts; refuses nothing a plain
    * compaction would accept.
    */
  def compactLedger(
      spark: SparkSession,
      ledgerDir: String,
      targetMB: Int = 128): CompactionReport = {
    val path = new Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Same entry sweep as [[foldEpochs]]: a bak-hidden leaf must be
    // restored before the compaction walks the layout, or its rows are
    // left out of the rewrite it believes is whole.
    recoverEraseBaks(fs, path)
    if (dataDirs(fs, path).nonEmpty) compactPartitioned(spark, ledgerDir, targetMB)
    else compactParquet(spark, ledgerDir, targetMB)
  }

  /** Fold committed epoch partitions of a band ledger into one `base`
    * partition — the lifecycle step AFTER [[compactLedger]]: compaction
    * shrinks files within partitions, but a year of daily drains is still
    * 365 directories, and the per-batch ledger read pays the listing.
    * Folding is safe exactly for epochs that can never be REPLAYED (the
    * epoch replay protocol replaces the replayed epoch's own
    * partition — folding a replayable epoch would duplicate it on replay):
    * the caller states the highest provably-committed batch id, and the
    * CLI derives it from the streaming checkpoint's commit log rather
    * than trusting a human.
    *
    * The fold token `base` is outside the `epoch<N>` namespace, so (a) it
    * can never collide with a live epoch's publish, (b) the
    * foreign-epoch checkpoint-reset guard ignores it, and (c) collision
    * reads (`_graft_epoch =!= "epoch<batchId>"`) always include it.
    *
    * What a fold does with the rows is the `space`'s: MEMBERSHIP
    * spaces (fingerprint/band/SRP/cluster rows, PQ codes) fold as a plain
    * union — bucket membership is a set, and hit reads are
    * semi-join/distinct. COUNT spaces (`countsSummed`: span counts,
    * heavy hitters) RE-AGGREGATE `_graft_n` per key: the base keeps one
    * summed row per distinct key instead of one row per (batch, key),
    * so the read-side sum stays bounded by the distinct-key count over
    * years of drains — and, because counts are summed at read time,
    * duplicates are NOT harmless there, which is what the marker below
    * exists for. The base is repartitioned by the space's
    * `partitionCols` (the PQ store's `cell`) and written partitioned by
    * them: without that, the merge's layout would fan every (base, cell)
    * partition into many small files and the fold would WORSEN the
    * listing cost it exists to remove.
    *
    * Crash contract: the merged base is staged into a hidden sibling
    * tmp WITH the new `_graft_folded_through` marker inside it, then
    * swapped in ([[swapIn]]) — the old base exists until the new one is
    * whole (a dynamic partition overwrite deletes the old base before it
    * renames its staging in, and a crash between the two would destroy
    * the only copy of the pre-fold base rows), and data + horizon commit
    * in ONE rename. Then superseded root-level markers
    * and the folded epoch directories are deleted. Epoch dirs at-or-under
    * the marker are LEFTOVERS of a crashed fold — already merged into
    * base — so a re-run deletes them without re-merging (convergent for
    * a count space, where a re-merge would double counts) and the count
    * spaces' reads exclude them meanwhile. Every boundary of this
    * sequence is enumerated convergent by CrashSweepSpec. Run between
    * drains, like compaction.
    */
  def foldEpochs(
      spark: SparkSession,
      ledgerDir: String,
      space: Ledger.Space,
      upToBatchId: Long): CompactionReport = {
    import org.apache.spark.sql.functions.{col, sum}
    require(upToBatchId >= 0L, s"upToBatchId must be >= 0: $upToBatchId")
    val path = new Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Erase-crash recovery BEFORE anything lists epochs: an epoch hidden
    // at its `_erase_bak` by a crashed [[ledgerDelete]] swap is invisible
    // to this listing — without the sweep the fold would advance the
    // marker past it, and the eventual recovery would restore an epoch
    // [[deleteFoldLeftovers]] then deletes UNMERGED (committed batch
    // silently lost). Restored here, it folds with everything else or
    // stays live above the marker.
    recoverEraseBaks(fs, path)
    val priorMark = foldedThrough(fs, path)
    // The shared digits-only parse — see foldableEpochId's scaladoc for
    // why every fold-protocol site must use it.
    val all = fs.listStatus(path).filter { s =>
      s.isDirectory && epochDirId(s.getPath.getName).isDefined
    }
    // Leftovers of a crashed fold: their rows are already in base.
    all.filter(d => epochDirId(d.getPath.getName).exists(_ <= priorMark))
      .foreach(d => fs.delete(d.getPath, true))
    val folded = all.filter(d => epochDirId(d.getPath.getName)
      .exists(id => id > priorMark && id <= upToBatchId))
    if (folded.isEmpty) return CompactionReport(0, 0, 0L)
    val foldTokens = folded.map(_.getPath.getName.stripPrefix("_graft_epoch=")).toSet
    val maxFolded = folded.flatMap(d => epochDirId(d.getPath.getName)).max
    val filesBefore = folded.map(d => dataFileCount(fs, d.getPath)).sum
    // One read of the whole ledger, filtered to base + the folded epochs.
    val unioned = spark.read.parquet(ledgerDir)
      .filter(col("_graft_epoch") === "base" ||
        col("_graft_epoch").isInCollection(foldTokens))
      .drop("_graft_epoch")
    val merged =
      if (!space.countsSummed) unioned
      else {
        require(unioned.columns.contains("_graft_n"),
          s"${space.name} at $ledgerDir sums counts but has no _graft_n " +
            "column — refusing a fold whose semantics can't hold")
        unioned.groupBy(unioned.columns.filterNot(_ == "_graft_n").map(col).toIndexedSeq: _*)
          .agg(sum(col("_graft_n")).as("_graft_n"))
          .select(unioned.columns.map(col).toIndexedSeq: _*)
      }
    val parts = space.partitionCols
    // Materialized BEFORE the write: the swap replaces the base partition
    // of the very directory the rows were read from, and the pinned copy
    // makes the write independent of it. Maintenance-sized data by
    // construction (band/bucket keys, vectors and codes, not the corpus).
    val pinned =
      (if (parts.isEmpty) merged else merged.repartition(parts.map(col): _*))
        .localCheckpoint(true)
    val rows = pinned.count()
    val base = new Path(path, "_graft_epoch=base")
    val tmp = stagedPath(base, "erase")
    fs.delete(tmp, true)
    val w = pinned.write.mode(SaveMode.Overwrite)
    (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(tmp.toString)
    writeFoldedThrough(fs, tmp, math.max(priorMark, maxFolded))
    swapIn(fs, tmp, base, "erase")
    // The in-base marker is authoritative and >= any root-level one;
    // superseded root markers are debris (a crash here leaves extras —
    // max still answers correctly).
    fs.listStatus(path)
      .filter(_.getPath.getName.startsWith(FoldMarkerPrefix))
      .foreach(p => fs.delete(p.getPath, false))
    folded.foreach(d => fs.delete(d.getPath, true))
    CompactionReport(filesBefore, dataFileCount(fs, base), rows)
  }

  /** Name PREFIX of the fold high-water marker (`_`-prefixed: invisible
    * to parquet directory reads, preserved by [[compactLedger]]). The
    * folded-through id lives in the FILE NAME, not the content — a
    * `create` is atomic in a way a write-then-flush is not, so a crash
    * mid-marker can only mean "marker absent" (the prior fold's marker
    * still stands), never a torn file that bricks every later read with
    * a parse error. Superseded markers are best-effort deleted; extras
    * left by a crash are harmless (the max still wins). */
  private[operators] val FoldMarkerPrefix = "_graft_folded_through_"

  /** THE one parse of a fold-addressable epoch token (round 16): defined
    * ONLY for the digits-only `epoch<N>` shape. Every part of the fold
    * protocol — what [[foldEpochs]]/`foldPqEpochs` fold, what
    * [[excludeFoldLeftovers]] hides, what [[deleteFoldLeftovers]]
    * removes, what the replay guards refuse — MUST share this parse: the
    * round-16 review found the guard's regex (`epoch\d+`) and the fold
    * machinery's `stripPrefix("epoch").toLong` had drifted, so a manual
    * token like `epoch-1` or `epoch+5` committed unguarded (regex says
    * manual) and was then excluded from reads and physically deleted as
    * a crashed-fold leftover (toLong says folded) — a committed batch
    * silently lost. With one parse a non-`epoch<digits>` token is MANUAL
    * everywhere: never folded, never excluded, never deleted, never
    * refused. */
  def foldableEpochId(token: String): Option[Long] =
    if (token.matches("epoch\\d+"))
      scala.util.Try(token.stripPrefix("epoch").toLong).toOption
    else None

  /** [[foldableEpochId]] of a `_graft_epoch=<token>` directory name. */
  def epochDirId(dirName: String): Option[Long] =
    if (dirName.startsWith("_graft_epoch="))
      foldableEpochId(dirName.stripPrefix("_graft_epoch="))
    else None

  /** Copy `_graft_*` pin/marker files present in `from` but missing in
    * `to` — the whole-leaf-old-or-new rule's tail: a staged rewrite's
    * tmp never carries the in-leaf pins (construction pins, the in-base
    * fold marker), so every swap that drops its bak must first copy the
    * pins out of it, and every recovery that drops a bak whose original
    * exists must do the same. A fold marker is not copied into a leaf
    * that already holds one: that leaf is a fold's new base, whose own
    * marker supersedes the old base's. */
  private def copyGraftPins(
      fs: org.apache.hadoop.fs.FileSystem, from: Path, to: Path): Unit = {
    val marked = fs.listStatus(to).exists(_.getPath.getName.startsWith(FoldMarkerPrefix))
    fs.listStatus(from).foreach { f =>
      val name = f.getPath.getName
      if (f.isFile && name.startsWith("_graft_") &&
          !(marked && name.startsWith(FoldMarkerPrefix))) {
        val dst = new Path(to, name)
        if (!fs.exists(dst)) {
          val in = fs.open(f.getPath)
          val out = fs.create(dst, true)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
          finally { in.close(); out.close() }
        }
      }
    }
  }

  /** Where a staged rewrite of `leaf` is written: a hidden sibling that
    * [[recoverEraseBaks]] sweeps. `kind` is the op family (`compact`,
    * `delete`, `erase`). */
  private def stagedPath(leaf: Path, kind: String): Path =
    new Path(leaf.getParent, s".${leaf.getName}_${kind}_tmp")

  /** The staged swap every rewrite of the family commits with: `leaf`
    * (if it exists — a first fold has no base yet) is renamed aside to
    * its hidden `_<kind>_bak` sibling, `staged` is renamed in, the
    * `_graft_*` files the staged side lacks are copied out of the bak,
    * and only then is the bak dropped — so a crash at any step leaves
    * either the old leaf or the whole new one, recoverable by
    * [[recoverEraseBaks]]. Each rename's boolean result is checked
    * (Hadoop signals failure by return value, not exception). */
  private[operators] def swapIn(
      fs: org.apache.hadoop.fs.FileSystem, staged: Path, leaf: Path, kind: String): Unit = {
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"staged swap failed: rename $from -> $to")
    val bak = new Path(leaf.getParent, s".${leaf.getName}_${kind}_bak")
    fs.delete(bak, true)
    val had = fs.exists(leaf)
    if (had) rename(leaf, bak)
    rename(staged, leaf)
    if (had) {
      copyGraftPins(fs, bak, leaf)
      fs.delete(bak, true)
    }
  }

  /** Data files under `p` at any depth: names starting with `_` or `.`
    * (pins, markers, checksums, commit debris) are not data. */
  private def dataFileCount(fs: org.apache.hadoop.fs.FileSystem, p: Path): Int =
    fs.listStatus(p).iterator.map { s =>
      val n = s.getPath.getName
      if (s.isDirectory) { if (n.startsWith(".")) 0 else dataFileCount(fs, s.getPath) }
      else if (n.startsWith("_") || n.startsWith(".")) 0
      else 1
    }.sum

  /** Swap-artifact suffixes this sweep recovers: one per [[swapIn]]
    * kind — erase ([[ledgerDelete]], [[foldEpochs]]), compaction
    * ([[compactParquet]]), corpus delete ([[targetedDelete]]) and the
    * epoch publish of [[Ledger.stage]] (which has no tmp of its own) —
    * all share the tmp → bak → swap protocol, so all share the
    * recovery (round 17: a leaf hidden at
    * its `_compact_bak` by a crashed compaction was previously
    * restorable only by hand, and a fold could advance its marker past
    * a compact-hidden epoch exactly like the erase case). */
  private val SwapBakSuffixes = Seq("_erase_bak", "_compact_bak", "_delete_bak", "_publish_bak")
  private val SwapTmpSuffixes = Seq("_erase_tmp", "_compact_tmp", "_delete_tmp")

  /** Restore/clear leftover `.<name>_erase_bak` / `.<name>_compact_bak`
    * swap backups under (and beside) a ledger root (the name predates
    * round 17's widening to the compaction family — every staged swap
    * of the family shares this one recovery). A [[swapIn]] crash
    * between its two renames leaves the original leaf ONLY at the
    * hidden bak: rename it
    * back when the leaf is missing (the re-run then re-finds its hits —
    * convergent), delete it when the leaf exists (the staged leaf
    * landed; the bak is a stale copy — but any `_graft_*` pin files the
    * restored leaf is MISSING are copied out of the bak first: a crash
    * between the swap's tmp→leaf rename and its pin copy
    * leaves the bak holding the only copy of the construction pins and
    * the fold marker, and deleting it would silently disarm the
    * width-drift refusal and the replay-horizon guard). Stale
    * `_erase_tmp` staging is swept too. The flat-root bak/tmp live in
    * the root's PARENT.
    *
    * MUST run at the entry of EVERY maintenance op that reads epoch
    * state or advances the fold marker — not just [[ledgerDelete]]
    * (round-17 lead fix): a fold that runs between a crashed erase swap
    * and its recovery does not see the bak-hidden epoch, advances
    * `_graft_folded_through_` past it, and the eventual recovery then
    * restores an epoch the leftover sweep deletes as "already merged" —
    * a committed batch silently lost, with [[excludeFoldLeftovers]]
    * hiding it from reads in the meantime. With the recovery sweep at
    * fold/compact entry the hidden epoch is restored BEFORE the fold
    * lists epochs, so it either folds with everything else or stays a
    * live epoch above the marker. */
  private[graft] def recoverEraseBaks(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit = {
    def restoreOrDrop(bak: Path, orig: Path): Unit =
      if (!fs.exists(orig)) {
        if (!fs.rename(bak, orig))
          throw new java.io.IOException(
            s"swap recovery failed: rename $bak -> $orig")
      } else {
        copyGraftPins(fs, bak, orig)
        fs.delete(bak, true)
      }
    def handle(s: org.apache.hadoop.fs.FileStatus): Unit = {
      val n = s.getPath.getName
      val bakSuffix = SwapBakSuffixes.find(n.endsWith)
      if (s.isDirectory && n.startsWith(".") && bakSuffix.isDefined) {
        restoreOrDrop(s.getPath,
          new Path(s.getPath.getParent,
            n.stripPrefix(".").stripSuffix(bakSuffix.get)))
      } else if (s.isDirectory && n.startsWith(".") &&
          SwapTmpSuffixes.exists(n.endsWith)) {
        fs.delete(s.getPath, true)
      } else if (s.isDirectory &&
          (n.contains("=") || (!n.startsWith("_") && !n.startsWith(".")))) {
        // Recurse into ANY `col=value` partition directory, including
        // `_`-prefixed ones (`_graft_epoch=…`): a multi-level layout
        // whose FIRST level is `_`-prefixed would otherwise never have
        // its nested baks restored after a crash (round-16 advice). The
        // same partition-dir rule as [[dataDirs]].
        fs.listStatus(s.getPath).foreach(handle)
      }
    }
    // Flat-root swap artifacts sit BESIDE the root, not under it.
    val parent = root.getParent
    if (parent != null && fs.exists(parent)) {
      SwapBakSuffixes.foreach { sfx =>
        val bak = new Path(parent, s".${root.getName}$sfx")
        if (fs.exists(bak)) restoreOrDrop(bak, root)
      }
      SwapTmpSuffixes.foreach { sfx =>
        fs.delete(new Path(parent, s".${root.getName}$sfx"), true)
      }
    }
    if (fs.exists(root)) fs.listStatus(root).foreach(handle)
  }

  /** Remove crashed-fold leftover epoch partitions (at-or-under the
    * ledger's fold marker — already merged into base, their delete was
    * pending when the fold crashed). The physical-delete counterpart of
    * [[excludeFoldLeftovers]]'s read-side filter; [[ledgerDelete]] runs
    * it on entry so no erase double-counts a leftover's rows or pays a
    * rewrite of a partition already slated for deletion — for EVERY
    * ledger space, not just the PQ store (round-16 review: the cleanup
    * was previously bolted onto pqStoreDelete alone). */
  private[graft] def deleteFoldLeftovers(
      fs: org.apache.hadoop.fs.FileSystem, ledgerPath: Path): Unit = {
    val mark = foldedThrough(fs, ledgerPath)
    if (mark >= 0L && fs.exists(ledgerPath))
      fs.listStatus(ledgerPath).foreach { s =>
        if (s.isDirectory &&
            epochDirId(s.getPath.getName).exists(_ <= mark))
          fs.delete(s.getPath, true)
      }
  }

  /** Highest batch id a completed fold has merged into base (−1 if the
    * ledger has never folded). Epoch partitions at-or-under this id that
    * still exist are crash leftovers: already merged, pending delete —
    * [[foldEpochs]] removes them on its next run and the count ledgers'
    * collision reads exclude them in the meantime. */
  def foldedThrough(fs: org.apache.hadoop.fs.FileSystem, ledgerPath: Path): Long = {
    def idsIn(p: Path): Iterator[Long] =
      if (!fs.exists(p)) Iterator.empty
      else fs.listStatus(p).iterator.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(FoldMarkerPrefix))
          scala.util.Try(n.stripPrefix(FoldMarkerPrefix).toLong).toOption
        else None
      }
    // Since round 17 the fold commits its marker INSIDE the staged base
    // partition (data + horizon land in ONE rename — see
    // [[foldEpochs]]); root-level markers remain valid (written
    // by rebalances carrying a horizon into a fresh namespace, and by
    // pre-round-17 folds). Max over both locations wins, as ever.
    val ids = (idsIn(ledgerPath) ++
      idsIn(new Path(ledgerPath, "_graft_epoch=base"))).toSeq
    if (ids.isEmpty) -1L else ids.max
  }

  private[operators] def writeFoldedThrough(
      fs: org.apache.hadoop.fs.FileSystem, ledgerPath: Path, id: Long): Unit = {
    val prior = fs.listStatus(ledgerPath)
      .filter(_.getPath.getName.startsWith(FoldMarkerPrefix)).map(_.getPath)
    fs.create(new Path(ledgerPath, s"$FoldMarkerPrefix$id"), true).close()
    // Cleanup AFTER the new marker exists; a crash between the two
    // leaves extra markers, and max() still answers correctly.
    prior.foreach(p => fs.delete(p, false))
  }

  /** True when a ledger directory holds committed DATA — epoch
    * partition dirs or bare part files; maintenance markers and pins
    * (`_graft_*`, `_SUCCESS`, dotfiles) don't count. Backs the ledger
    * family's pin-or-refuse read rule: a NON-EMPTY ledger whose
    * construction pin is missing must refuse reads instead of silently
    * skipping validation — a crash between data commit and pin write
    * (or a deleted pin) would otherwise let a later ingest with
    * different construction parameters pass the drift check and quietly
    * change what the ledger's numbers mean. */
  private[operators] def ledgerHasData(
      fs: org.apache.hadoop.fs.FileSystem, ledgerPath: Path): Boolean =
    fs.exists(ledgerPath) && fs.listStatus(ledgerPath).exists { s =>
      val n = s.getPath.getName
      n.startsWith("_graft_epoch=") || !(n.startsWith("_") || n.startsWith("."))
    }

  /** Drop crashed-fold leftover epochs from a count-ledger read: epoch
    * partitions at-or-under the fold marker are already merged into
    * base (their delete is pending), so summing reads must exclude them
    * — the shared rule of every count ledger (spans E109, heavy hitters
    * E138). Membership ledgers don't need this (duplicates are
    * set-harmless). */
  private[operators] def excludeFoldLeftovers(
      fs: org.apache.hadoop.fs.FileSystem,
      ledgerPath: Path,
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val mark = foldedThrough(fs, ledgerPath)
    val leftovers: Set[String] =
      if (mark < 0L) Set.empty
      else fs.listStatus(ledgerPath).iterator.collect {
        case s if s.isDirectory &&
            epochDirId(s.getPath.getName).exists(_ <= mark) =>
          s.getPath.getName.stripPrefix("_graft_epoch=")
      }.toSet
    if (leftovers.isEmpty) raw
    else raw.filter(!col("_graft_epoch").isInCollection(leftovers))
  }

  /** Highest batch id with a COMMIT entry in a Structured Streaming
    * checkpoint — the replay horizon [[foldEpochs]] needs: a committed
    * batch never re-executes, so its ledger epoch can be folded. Returns
    * None for a missing/empty commit log (refuse to fold rather than
    * guess). */
  def lastCommittedBatch(
      spark: SparkSession,
      checkpointDir: String): Option[Long] = {
    val commits = new Path(checkpointDir, "commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) None
    else fs.listStatus(commits)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .reduceOption(_ max _)
  }

  /** Compact a Hive-partitioned directory leaf-by-leaf, preserving the
    * `col=value` layout (and therefore partition pruning and the
    * idempotent-sink replace-on-replay contract). Each leaf is an
    * independent crash-safe swap, so a failure mid-way leaves every leaf
    * either fully old or fully new — never mixed. */
  def compactPartitioned(
      spark: SparkSession,
      dir: String,
      targetMB: Int = 128): CompactionReport = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[Path] = {
      val subs = dataDirs(fs, p)
      if (subs.isEmpty) Seq(p) else subs.toSeq.flatMap(s => leaves(s.getPath))
    }
    val reports = leaves(path).map(l => compactParquet(spark, l.toString, targetMB))
    CompactionReport(
      reports.map(_.filesBefore).sum,
      reports.map(_.filesAfter).sum,
      reports.map(_.rows).sum)
  }
}
