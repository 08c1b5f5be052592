package graft.pipeline

import graft.TestSpark
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** E2E through the CLI entry point (`app.py:31-46` parity): the reference
  * scenario — catalog-driven full load, upstream delta, incremental re-run,
  * empty re-run — driven entirely by `GraftApp.run` with string args, plus
  * the env-var watermark injection and NEW_WATERMARK stdout contract. */
class GraftAppSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seedOrders(src: Path, n: Int): Unit =
    (1 to n).map(i => (i, Timestamp.valueOf(f"2014-07-${(i % 27) + 1}%02d 00:00:00")))
      .toDF("order_id", "order_date")
      .write.mode(SaveMode.Overwrite).parquet(s"$src/orders")

  private def writeCatalog(rows: String*): Path = {
    val p = Files.createTempFile("tables_list", ".csv")
    Files.writeString(p,
      ("table_name,to_be_loaded,watermark_column,watermark_type" +: rows).mkString("\n"))
    p
  }

  test("CLI run: full load → delta → empty skip, with NEW_WATERMARK output") {
    val src = Files.createTempDirectory("app_src")
    val dst = Files.createTempDirectory("app_dst")
    val catalog = writeCatalog("orders,yes,order_id,id", "skipme,no,,")
    seedOrders(src, 50)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val args = GraftApp.parseArgs(Seq(
        "dev", "all",
        "--tables-list-path", catalog.toString,
        "--source", s"parquet:$src",
        "--sink", s"parquet:$dst",
        "--state", s"$dst/state.properties") ++ extra)
      val code = GraftApp.run(args, spark,
        getenv = _ => None, out = outs += _, log = _ => ())
      (code, outs.toSeq)
    }

    val (c1, out1) = cli()
    assert(c1 == 0)
    assert(out1 == Seq("NEW_WATERMARK_ORDERS=50"))
    assert(spark.read.parquet(s"$dst/orders").count() == 50L)

    seedOrders(src, 60)
    val (c2, out2) = cli()
    assert(c2 == 0)
    assert(out2 == Seq("NEW_WATERMARK_ORDERS=60"))
    assert(spark.read.parquet(s"$dst/orders").count() == 60L)

    // Nothing new: skip, no watermark line, no new files in the sink dir.
    val filesBefore = Files.list(Path.of(s"$dst/orders")).iterator.asScala
      .map(_.getFileName.toString).toSet
    val (c3, out3) = cli()
    assert(c3 == 0 && out3.isEmpty)
    val filesAfter = Files.list(Path.of(s"$dst/orders")).iterator.asScala
      .map(_.getFileName.toString).toSet
    assert(filesAfter == filesBefore, "empty delta must not litter the sink")
  }

  test("LAST_WATERMARK_<TABLE> env seeds the state store (app.py:100-117)") {
    val src = Files.createTempDirectory("app_src2")
    val dst = Files.createTempDirectory("app_dst2")
    val catalog = writeCatalog("orders,yes,order_id,id")
    seedOrders(src, 30)
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    val args = GraftApp.parseArgs(Seq(
      "dev", "orders",
      "--tables-list-path", catalog.toString,
      "--source", s"parquet:$src", "--sink", s"parquet:$dst",
      "--state", s"$dst/state.properties"))
    val code = GraftApp.run(args, spark,
      getenv = Map("LAST_WATERMARK_ORDERS" -> "25").get _,
      out = outs += _, log = _ => ())
    assert(code == 0)
    // Only rows above the injected watermark moved.
    assert(spark.read.parquet(s"$dst/orders").count() == 5L)
    assert(outs == Seq("NEW_WATERMARK_ORDERS=30"))
  }

  test("endpoints resolve from PipelineConfig when no overrides are given") {
    val src = Files.createTempDirectory("app_src3")
    val dst = Files.createTempDirectory("app_dst3")
    val catalog = writeCatalog("orders,yes,order_id,id")
    seedOrders(src, 10)
    val args = GraftApp.parseArgs(Seq(
      "dev", "all",
      "--tables-list-path", catalog.toString,
      "--state", s"$dst/state.properties"))
    val code = GraftApp.run(args, spark,
      getenv = Map(
        "GRAFT_SOURCE" -> s"parquet:$src",
        "GRAFT_SINK" -> s"parquet:$dst").get _,
      out = _ => (), log = _ => ())
    assert(code == 0)
    assert(spark.read.parquet(s"$dst/orders").count() == 10L)
  }

  test("single override: --sink alone must not demand the sink-side env vars") {
    val src = Files.createTempDirectory("app_src5")
    val dst = Files.createTempDirectory("app_dst5")
    val catalog = writeCatalog("orders,yes,order_id,id")
    seedOrders(src, 8)
    val args = GraftApp.parseArgs(Seq(
      "dev", "all",
      "--tables-list-path", catalog.toString,
      "--sink", s"parquet:$dst",
      "--state", s"$dst/state.properties"))
    // Only GRAFT_SOURCE present — no GRAFT_SINK, no TARGET_DB_* creds.
    val code = GraftApp.run(args, spark,
      getenv = Map("GRAFT_SOURCE" -> s"parquet:$src").get _,
      out = _ => (), log = _ => ())
    assert(code == 0)
    assert(spark.read.parquet(s"$dst/orders").count() == 8L)
  }

  test("injected LAST_WATERMARK overrides stored state (forced re-copy)") {
    val src = Files.createTempDirectory("app_src6")
    val dst = Files.createTempDirectory("app_dst6")
    val catalog = writeCatalog("orders,yes,order_id,id")
    seedOrders(src, 30)
    val state = StateStore(s"$dst/state.properties")
    state.put("orders", "30") // store says fully copied
    val args = GraftApp.parseArgs(Seq(
      "dev", "orders",
      "--tables-list-path", catalog.toString,
      "--source", s"parquet:$src", "--sink", s"parquet:$dst",
      "--state", s"$dst/state.properties"))
    // Operator rolls the injected watermark back to force rows 21-30 again.
    val code = GraftApp.run(args, spark,
      getenv = Map("LAST_WATERMARK_ORDERS" -> "20").get _,
      out = _ => (), log = _ => ())
    assert(code == 0)
    assert(spark.read.parquet(s"$dst/orders").count() == 10L)
    assert(state.get("orders").contains("30"))
  }

  test("injection is run-scoped: a FAILED forced re-copy leaves durable state untouched") {
    val dst = Files.createTempDirectory("app_dst7")
    val catalog = writeCatalog("orders,yes,order_id,id")
    val state = StateStore(s"$dst/state.properties")
    state.put("orders", "30")
    val args = GraftApp.parseArgs(Seq(
      "dev", "orders",
      "--tables-list-path", catalog.toString,
      "--source", "parquet:/nonexistent_source_dir", "--sink", s"parquet:$dst",
      "--state", s"$dst/state.properties"))
    val code = GraftApp.run(args, spark,
      getenv = Map("LAST_WATERMARK_ORDERS" -> "20").get _,
      out = _ => (), log = _ => ())
    assert(code == 0) // per-table error-continue semantics
    // The injected rollback must NOT have been persisted by the failed run.
    assert(state.get("orders").contains("30"))
  }

  test("empty table selection exits non-zero (app.py:84-86)") {
    val dst = Files.createTempDirectory("app_dst4")
    val catalog = writeCatalog("orders,yes,order_id,id")
    val args = GraftApp.parseArgs(Seq(
      "dev", "not_a_table",
      "--tables-list-path", catalog.toString,
      "--source", "parquet:/nowhere", "--sink", s"parquet:$dst"))
    assert(GraftApp.run(args, spark, getenv = _ => None, out = _ => (), log = _ => ()) == 1)
  }

  test("--strict turns an all-failed run into a non-zero exit") {
    val dst = Files.createTempDirectory("app_dst8")
    val catalog = writeCatalog("orders,yes,order_id,id")
    def run(extra: String*): Int = {
      val args = GraftApp.parseArgs(Seq(
        "dev", "orders",
        "--tables-list-path", catalog.toString,
        "--source", "parquet:/nonexistent_source_dir", "--sink", s"parquet:$dst",
        "--state", s"$dst/state.properties") ++ extra)
      GraftApp.run(args, spark, getenv = _ => None, out = _ => (), log = _ => ())
    }
    assert(run() == 0, "default keeps app.py's log-and-continue exit code")
    assert(run("--strict") == 1, "--strict must surface the failure")
  }

test("--export-shards writes manifested shards; --verify-export re-checks and refuses damage") {
    val src = Files.createTempDirectory("exp_src")
    val out = Files.createTempDirectory("exp_out").resolve("shards").toString
    // A tiny documents-shaped table under the source dir.
    (1L to 40L).map(i => (i, s"doc text number $i"))
      .toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$src/documents")

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val args = GraftApp.parseArgs(Seq("dev", "documents", "--export-dir", out) ++ extra)
      val code = GraftApp.run(args, spark, getenv = _ => None,
        out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    // Export writes, then immediately verifies what it just wrote.
    val (code, lines) = cli("--export-shards", "--source", s"parquet:$src", "--shards", "4")
    assert(code == 0 && lines.exists(_.startsWith("EXPORT_SHARDS_"))
      && lines.exists(_.startsWith("VERIFY_EXPORT_")), lines.mkString("; "))

    // The consumer-side re-check passes against the same files...
    val (code2, lines2) = cli("--verify-export")
    assert(code2 == 0 && lines2.exists(_.endsWith("OK")))

    // ...and refuses loudly once a shard file disappears.
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("_graft_shard=")).sortBy(_.getName)
    dirs.head.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    val e = intercept[IllegalStateException](cli("--verify-export"))
    assert(e.getMessage.contains("shard"), e.getMessage)

    // Flag hygiene: export-dir is required.
    intercept[IllegalArgumentException] {
      GraftApp.run(GraftApp.parseArgs(Seq("dev", "documents", "--verify-export")),
        spark, getenv = _ => None, out = _ => (), log = _ => ())
    }
  }

  test("--scrub-spans and --epoch-shuffle run as sourced batch passes") {
    val src = Files.createTempDirectory("cur_src")
    val dst = Files.createTempDirectory("cur_dst")
    // Two docs sharing a 3-token boilerplate prefix + one clean doc.
    Seq(
      (1L, "shared legal header unique tail one"),
      (2L, "shared legal header other words two"),
      (3L, "entirely different content")).toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$src/documents")

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val args = GraftApp.parseArgs(Seq(
        "dev", "documents", "--source", s"parquet:$src",
        "--sink", s"parquet:$dst", "--mode", "overwrite") ++ extra)
      val code = GraftApp.run(args, spark, getenv = _ => None,
        out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val (c1, l1) = cli("--scrub-spans", "--span-tokens", "3")
    assert(c1 == 0 && l1.exists(_.startsWith("SCRUB_SPANS_")), l1.mkString("; "))
    // Round-trippable: the text stays under its original name (+ the
    // n_removed audit column) so a follow-up pass reads it unchanged.
    val scrubbedDf = spark.read.parquet(s"$dst/documents")
    assert(scrubbedDf.columns.toSet == Set("doc_id", "text", "n_removed"),
      scrubbedDf.columns.mkString(","))
    val scrubbed = scrubbedDf.select($"doc_id", $"text", $"n_removed")
      .as[(Long, String, Int)].collect().toMap2
    assert(scrubbed(1L) == ("unique tail one", 3))
    assert(scrubbed(2L) == ("other words two", 3))
    assert(scrubbed(3L) == ("entirely different content", 0))

    // ...and the recommended second pass really does run off the first
    // pass's output shape.
    val (c2, l2) = cli("--epoch-shuffle", "2", "--source", s"parquet:$dst",
      "--sink", s"parquet:$dst/epoch")
    assert(c2 == 0 && l2.exists(_.startsWith("EPOCH_SHUFFLE_")), l2.mkString("; "))
    val shuffled = spark.read.parquet(s"$dst/epoch/documents")
    assert(shuffled.columns.contains("shuffle_key"))
    assert(shuffled.count() == 3L)

    // The two curation modes are separate passes, never one.
    intercept[IllegalArgumentException](
      cli("--scrub-spans", "--epoch-shuffle", "2"))
  }

  private implicit class TripleRows[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("--delete-ids and --zorder run as standalone maintenance modes") {
    val root = Files.createTempDirectory("maint_cli")
    val corpus = s"$root/corpus"
    val audit = s"$root/audit"
    (1L to 50L).map(i => (i, i * 3 % 50, s"doc$i")).toDF("doc_id", "k", "text")
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(corpus)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val (c1, l1) = cli("--delete-ids", "5,6,999",
      "--corpus-dir", corpus, "--audit-dir", audit)
    assert(c1 == 0, l1.mkString("; "))
    assert(l1.exists(_.startsWith("DELETE_IDS_ requested=3 deleted=2 notFound=1")), l1)
    assert(spark.read.parquet(corpus).filter($"doc_id".isin(5L, 6L)).count() == 0L)
    assert(spark.read.parquet(corpus).count() == 48L)
    assert(spark.read.parquet(audit).count() == 3L)

    val zout = s"$root/zordered"
    val (c2, l2) = cli("--zorder", "doc_id,k",
      "--corpus-dir", corpus, "--out-dir", zout, "--z-bits", "7", "--z-files", "4")
    assert(c2 == 0 && l2.exists(_.startsWith("ZORDER_ cols=doc_id,k bits=7")), l2)
    // Full rewrite into the NEW dir, data intact.
    assert(spark.read.parquet(zout).count() == 48L)
    assert(spark.read.parquet(zout).columns.toSet == Set("doc_id", "k", "text"))

    // N-ary layout: three cluster keys through the same mode.
    val zout3 = s"$root/zordered3"
    val (c3, l3) = cli("--zorder", "doc_id,k,doc_id",
      "--corpus-dir", corpus, "--out-dir", zout3, "--z-bits", "5", "--z-files", "4")
    assert(c3 == 0 && l3.exists(_.startsWith("ZORDER_ cols=doc_id,k,doc_id bits=5")), l3)
    assert(spark.read.parquet(zout3).count() == 48L)

    // Missing required dirs refuse loudly.
    intercept[IllegalArgumentException](cli("--delete-ids", "1"))
    intercept[IllegalArgumentException](cli("--zorder", "doc_id,k", "--corpus-dir", corpus))
    intercept[IllegalArgumentException](
      GraftApp.parseArgs(Seq("dev", "corpus", "--zorder", "onlyone")))
    intercept[IllegalArgumentException](
      GraftApp.parseArgs(Seq("dev", "corpus", "--zorder", "a,b,c,d,e,f,g")))
  }

  test("--delete-ids --ledger closes the fingerprint-ledger erasure loop") {
    // The ledger's space names the erase keys: a fingerprint ledger is
    // erased on the ingest fingerprint pair recomputed from --text-col,
    // an all-missed delete prints a WARN line, and --hash-audit keeps
    // the tombstones content-free.
    val root = Files.createTempDirectory("fp_erase_cli")
    val corpus = s"$root/docs"
    val docs = (1L to 6L).map(i => (i, s"document body number $i"))
      .toDF("doc_id", "text")
    docs.write.mode(SaveMode.Overwrite).parquet(corpus)
    val ledger = s"$root/fps"
    graft.operators.DedupOps.incrementalDedup(
      spark, docs, "text", "doc_id", ledger).commitLedger()
    assert(spark.read.parquet(ledger).count() == 6L)
    // A charHash COLLIDER (round-17, the round-16 advice case): a row
    // sharing doc 2's _graft_fp but belonging to a DIFFERENT document
    // (different xxhash64). The ~30-bit charHash collides at birthday
    // scale ~35 k docs; keyed on it alone the takedown would erase this
    // unrelated doc's dedup row too. The takedown must key on the pair.
    import org.apache.spark.sql.functions.col
    val fpOf2 = docs.filter($"doc_id" === 2L)
      .select(graft.functions.TextFunctions.charHash(col("text")))
      .as[Long].head()
    Seq((fpOf2, 123456789L)).toDF("_graft_fp", "_graft_fp2")
      .write.mode(SaveMode.Append).parquet(ledger)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val audit = s"$root/audit"
    val (c1, l1) = cli("--delete-ids", "2,5", "--ledger", ledger,
      "--corpus-dir", corpus, "--audit-dir", audit, "--hash-audit")
    assert(c1 == 0, l1.mkString("; "))
    assert(l1.exists(_.startsWith("DELETE_LEDGER_ requested=2 deleted=2")), l1)
    assert(!l1.exists(_.startsWith("DELETE_LEDGER_WARN_")), l1)
    // The deleted docs' (fp, fp2) PAIRS are gone; the others remain —
    // including the unrelated collider sharing doc 2's charHash, which a
    // single-hash takedown would have erased with it.
    val wantGonePairs = docs.filter($"doc_id".isin(2L, 5L))
      .select(graft.functions.TextFunctions.charHash(col("text")),
        org.apache.spark.sql.functions.xxhash64(col("text")))
      .as[(Long, Long)].collect().toSet
    val leftPairs = spark.read.parquet(ledger)
      .select($"_graft_fp", $"_graft_fp2").as[(Long, Long)].collect().toSet
    assert((leftPairs & wantGonePairs).isEmpty && leftPairs.size == 5)
    assert(leftPairs.contains((fpOf2, 123456789L)),
      "the charHash collider must SURVIVE a pair-keyed takedown")
    // Content-free tombstones: hashed key column, no fingerprint values.
    assert(spark.read.parquet(audit).columns.toSeq == Seq("key_sha256", "found"))
    // Erasure proof at ingest level: the deleted docs re-ingest as NEW
    // (their fingerprints are gone), a surviving doc's twin still drops.
    val reIngest = Seq((20L, "document body number 2"), (21L, "document body number 1"))
      .toDF("doc_id", "text")
    val pend = graft.operators.DedupOps.incrementalDedup(
      spark, reIngest, "text", "doc_id", ledger)
    assert(pend.survivors.select($"doc_id").as[Long].collect().toSet == Set(20L))
    // Replay of the same delete: everything already gone → loud WARN.
    // (--hash-audit again: the audit trail's schema is append-locked —
    // mixing raw and hashed tombstones in one directory now refuses.)
    val (c2, l2) = cli("--delete-ids", "5", "--ledger", ledger,
      "--corpus-dir", corpus, "--audit-dir", audit, "--hash-audit")
    assert(c2 == 0 && l2.exists(_.startsWith("DELETE_LEDGER_WARN_")), l2)
  }

  test("--delete-ids --ledger erases an SRP ledger's vectors with no key flag") {
    val root = Files.createTempDirectory("srp_erase_cli")
    val corpus = s"$root/vecs"
    def unit(seed: Long): Array[Float] = {
      val rng = new scala.util.Random(seed)
      val raw = Array.fill(16)(rng.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat)
    }
    val vecs = (1L to 4L).map(i => (i, unit(i))).toDF("vec_id", "embedding")
    vecs.write.mode(SaveMode.Overwrite).parquet(corpus)
    val ledger = s"$root/srp"
    graft.operators.SrpOps.incrementalNeardup(
      spark, vecs, "embedding", "vec_id", ledger).commitLedger()
    val rowsPerVec = spark.read.parquet(ledger).count() / 4L
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus", "--delete-ids", "2,3",
        "--ledger", ledger, "--corpus-dir", corpus, "--audit-dir", s"$root/audit",
        "--id-col", "vec_id")),
      spark, getenv = _ => None, out = outs.append(_), log = _ => ())
    assert(code == 0, outs.mkString("; "))
    assert(outs.exists(_.startsWith(
      s"DELETE_LEDGER_ requested=2 deleted=${2L * rowsPerVec} notFound=0")), outs)
    val left = spark.read.parquet(ledger).select($"_graft_vec").as[Seq[Float]]
      .collect().map(_.toSeq).toSet
    assert(left == Set(unit(1L).toSeq, unit(4L).toSeq), "only vectors 2 and 3 go")
  }

  test("--delete-ids --ledger refuses a MinHash band ledger before any tombstone") {
    val root = Files.createTempDirectory("band_erase_cli")
    val corpus = s"$root/docs"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    docs.write.mode(SaveMode.Overwrite).parquet(corpus)
    val ledger = s"$root/lsh"
    graft.operators.LshOps.incrementalNeardup(
      spark, docs, "text", "doc_id", ledger).commitLedger()
    val e = intercept[IllegalArgumentException](GraftApp.run(
      GraftApp.parseArgs(Seq("dev", "corpus", "--delete-ids", "1", "--ledger", ledger,
        "--corpus-dir", corpus, "--audit-dir", s"$root/audit")),
      spark, getenv = _ => None, out = _ => (), log = _ => ()))
    assert(e.getMessage.contains("band ledger") &&
      e.getMessage.contains("no per-document rows"), e.getMessage)
    assert(!Files.exists(root.resolve("audit")), "a refused erase wrote tombstones")
  }

  test("--ann-recall prints the pinned searcher's recall@k, bit-equal to the API") {
    // E154: the recall gate as a CLI audit mode — a store owner points
    // it at THEIR store + corpus and gets the AccuracySpec measurement
    // (sampled queries, exact L2 ground truth) with the store's
    // construction pin attached.
    val root = Files.createTempDirectory("recall_cli")
    val corpus = s"$root/vecs"
    (0L to 19L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .repartition(2).write.mode(SaveMode.Overwrite).parquet(corpus)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val outd = s"$root/pq"
    assert(cli("--pq-encode", "--corpus-dir", corpus, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-m", "2", "--pq-k", "4", "--pq-iters", "1",
      "--pq-coarse-k", "2")._1 == 0)
    val (c, l) = cli("--ann-recall", "--pq-store", outd, "--corpus-dir", corpus,
      "--id-col", "vec_id", "--k", "5", "--queries", "4", "--nprobe", "2")
    assert(c == 0, l.mkString("; "))
    val line = l.find(_.startsWith("ANN_RECALL_")).getOrElse(fail(l.mkString("; ")))
    assert(line.startsWith("ANN_RECALL_ k=5 nprobe=2 queries=4 rerank=0 recall="), line)
    assert(line.contains("pin=[m=2 kCodes=4"), line)
    val want = graft.operators.PqOps.annRecall(
      graft.operators.PqOps.readPqArtifacts(spark, outd),
      spark.read.parquet(corpus), "embedding", "vec_id",
      k = 5, nQueries = 4, nprobe = 2)
    val got = line.split("recall=")(1).split(" ")(0).toDouble
    assert(got == want, s"CLI $got != API $want")
    // Missing required args refuse loudly.
    intercept[IllegalArgumentException](cli("--ann-recall", "--pq-store", outd))
    intercept[IllegalArgumentException](cli("--ann-recall", "--corpus-dir", corpus))
  }

  test("--dedup-recall routes by ledger pin and prints the API's number verbatim") {
    // E155 (round 17): the --ann-recall twin for the dedup ledgers. The
    // space is read off the ledger's own pin file; the CLI number must
    // be bit-equal to the API's on the same inputs.
    val root = Files.createTempDirectory("dedup_recall_cli")
    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }
    // MinHash text ledger.
    val docsDir = s"$root/docs"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "totally unrelated words live in this one here"))
      .toDF("doc_id", "text")
    docs.write.mode(SaveMode.Overwrite).parquet(docsDir)
    val lshLedger = s"$root/lsh"
    graft.operators.LshOps.incrementalNeardup(
      spark, docs, "text", "doc_id", lshLedger).commitLedger()
    val apiL = graft.operators.LshOps.dedupRecall(
      spark, lshLedger, spark.read.parquet(docsDir), "text", "doc_id",
      minJaccard = 0.7, nQueries = 4)
    val (cl, ll) = cli("--dedup-recall", "--ledger", lshLedger,
      "--corpus-dir", docsDir, "--min-jaccard", "0.7", "--queries", "4")
    assert(cl == 0, ll.mkString("; "))
    val lineL = ll.find(_.startsWith("DEDUP_RECALL_")).getOrElse(fail(ll.mkString("; ")))
    assert(lineL.contains(s"recall=${apiL.recall}"), s"$lineL vs $apiL")
    assert(lineL.contains(s"pin=[${apiL.pin}]"), lineL)
    assert(lineL.contains(s"withTruth=${apiL.queriesWithTruth}"), lineL)
    // SRP vector ledger — the pin file routes the audit, same flag set.
    val vecsDir = s"$root/vecs"
    def unit(seed: Long): Array[Float] = {
      val rng = new scala.util.Random(seed)
      val raw = Array.fill(16)(rng.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat)
    }
    val vecs = Seq((0L, unit(3L)), (1L, unit(3L)), (2L, unit(9L)), (3L, unit(11L)))
      .toDF("vec_id", "embedding")
    vecs.write.mode(SaveMode.Overwrite).parquet(vecsDir)
    val srpLedger = s"$root/srp"
    graft.operators.SrpOps.incrementalNeardup(
      spark, vecs, "embedding", "vec_id", srpLedger).commitLedger()
    val apiS = graft.operators.SrpOps.dedupRecall(
      spark, srpLedger, spark.read.parquet(vecsDir), "embedding", "vec_id",
      nQueries = 4)
    val (cs, ls) = cli("--dedup-recall", "--ledger", srpLedger,
      "--corpus-dir", vecsDir, "--id-col", "vec_id", "--queries", "4")
    assert(cs == 0, ls.mkString("; "))
    val lineS = ls.find(_.startsWith("DEDUP_RECALL_")).getOrElse(fail(ls.mkString("; ")))
    assert(lineS.contains(s"recall=${apiS.recall}"), s"$lineS vs $apiS")
    assert(lineS.contains(s"pin=[${apiS.pin}]"), lineS)
    // Refusals: no ledger, no corpus, and a pin-less directory.
    intercept[IllegalArgumentException](cli("--dedup-recall", "--corpus-dir", docsDir))
    intercept[IllegalArgumentException](cli("--dedup-recall", "--ledger", lshLedger))
    val bare = s"$root/bare"
    docs.select($"doc_id").write.parquet(bare)
    val e = intercept[IllegalArgumentException](
      cli("--dedup-recall", "--ledger", bare, "--corpus-dir", docsDir))
    assert(e.getMessage.contains("not a band ledger"), e.getMessage)
  }

  test("--heavy-hitters writes the top-k report with its error mass") {
    val root = Files.createTempDirectory("hh_cli")
    val corpus = s"$root/docs"
    ((1 to 60).map(i => (i.toLong, "alpha beta")) ++
      (61 to 70).map(i => (i.toLong, "beta gamma")))
      .toDF("doc_id", "text")
      .repartition(3).write.mode(SaveMode.Overwrite).parquet(corpus)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    // Token profile: capacity above the 3-token vocab → exact, err 0.
    val outd = s"$root/hits"
    val (c, l) = cli("--heavy-hitters", "text", "--tokenize",
      "--corpus-dir", corpus, "--out-dir", outd, "--capacity", "16", "--k", "2")
    assert(c == 0, l.mkString("; "))
    assert(l.exists(_.startsWith(
      "HEAVY_HITTERS_ col=text tokenize=true capacity=16 k=2 err_max=0")), l)
    val got = spark.read.parquet(outd)
      .select($"value", $"est").as[(String, Long)].collect().toSet
    assert(got == Set(("beta", 70L), ("alpha", 60L)))

    // Column-value profile (no tokenize): whole strings are the values.
    val outv = s"$root/hitsv"
    val (cv, lv) = cli("--heavy-hitters", "text",
      "--corpus-dir", corpus, "--out-dir", outv, "--k", "1")
    assert(cv == 0, lv.mkString("; "))
    assert(spark.read.parquet(outv).select($"value", $"est")
      .as[(String, Long)].collect().toSeq == Seq(("alpha beta", 60L)))

    intercept[IllegalArgumentException](cli("--heavy-hitters", "text"))
  }

  test("--pq-encode writes the codebooks and the coded corpus") {
    val root = Files.createTempDirectory("pq_cli")
    val corpus = s"$root/vecs"
    (0L to 19L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .repartition(2).write.mode(SaveMode.Overwrite).parquet(corpus)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val outd = s"$root/pq"
    val (c, l) = cli("--pq-encode", "--corpus-dir", corpus, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-m", "2", "--pq-k", "4", "--pq-iters", "1",
      "--pq-coarse-k", "2")
    assert(c == 0, l.mkString("; "))
    assert(l.exists(_.startsWith("PQ_ENCODE_ m=2 k=4 iters=1 subDim=4 coarseK=2")), l)
    val books = spark.read.parquet(s"$outd/codebooks")
    assert(books.columns.toSet == Set("sub", "code", "centroid"))
    assert(books.count() == 8L, "2 subs x 4 codes")
    // Round 13: the full IVFADC artifact set — codes carry the coarse
    // cell as a PARTITION column (searches prune to probed cells), the
    // coarse centroids are stored, and the whole set sits under the
    // construction pin.
    val codes = spark.read.parquet(s"$outd/codes")
    assert(codes.columns.toSet == Set("vec_id", "sub", "code", "dist", "cell", "_graft_epoch"))
    assert(codes.count() == 40L, "20 vectors x 2 subs")
    assert(spark.read.parquet(s"$outd/coarse").count() == 2L)
    val arts = graft.operators.PqOps.readPqArtifacts(spark, outd)
    assert(arts.model.m == 2 && arts.model.kCodes == 4 && arts.coarse.length == 2)

    // --pq-append encodes a NEW batch against the pinned books into its
    // own epoch partition.
    val batch2 = s"$root/vecs2"
    (20L to 29L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(batch2)
    val (c2, l2) = cli("--pq-append", "--corpus-dir", batch2, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-epoch", "b2")
    assert(c2 == 0, l2.mkString("; "))
    assert(l2.exists(_.startsWith("PQ_APPEND_ epoch=b2 lifetime_code_rows=60")), l2)
    assert(spark.read.parquet(s"$outd/codes").count() == 60L, "30 vectors x 2 subs")

    // --pq-search: IVFADC over the pinned store, results written out —
    // values must equal the direct API call on the same artifacts.
    val qdir = s"$root/queries"
    (0L to 2L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(qdir)
    val resd = s"$root/results"
    val (c3, l3) = cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
      "--out-dir", resd, "--id-col", "vec_id", "--k", "3", "--nprobe", "2")
    assert(c3 == 0, l3.mkString("; "))
    assert(l3.exists(_.startsWith(
      "PQ_SEARCH_ k=3 nprobe=2 residual=false rerank=0 rerankSource=none result_rows=9")), l3)
    val written = spark.read.parquet(resd)
      .select($"query_id", $"rank", $"vec_id", $"adc")
      .as[(Long, Int, Long, Double)].collect().toSet
    val direct = {
      // Re-read: the pre-append `arts` snapshot must not mask the
      // appended epoch from the comparison frame.
      val arts2 = graft.operators.PqOps.readPqArtifacts(spark, outd)
      val queries = spark.read.parquet(qdir)
        .select($"vec_id".as("query_id"), $"embedding")
      graft.operators.PqOps.ivfAdcSearch(
        arts2.codes, "cell", "vec_id", queries, "query_id", "embedding",
        arts2.model, arts2.coarse, topN = 3, nprobe = 2)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(written == direct)

    intercept[IllegalArgumentException](cli("--pq-encode", "--corpus-dir", corpus))
    intercept[IllegalArgumentException](
      cli("--pq-append", "--corpus-dir", batch2, "--out-dir", outd))
    intercept[IllegalArgumentException](
      cli("--pq-search", "--corpus-dir", qdir, "--out-dir", resd))

    // --rerank R: the operational two-stage IVFADC+R (round 14) — CLI
    // output bit-equal to refine(searchArtifacts(topN = R)) cut to k,
    // re-ranked from the raw corpus. Uses the base corpus only (the
    // appended batch has no raw vectors in `corpus`), so the shortlist
    // is restricted to base ids via the corpus join by construction.
    val rrd = s"$root/rerank"
    val (c4, l4) = cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
      "--out-dir", rrd, "--id-col", "vec_id", "--k", "3", "--nprobe", "2",
      "--rerank", "8", "--rerank-corpus", corpus)
    assert(c4 == 0, l4.mkString("; "))
    assert(l4.exists(_.startsWith(
      "PQ_SEARCH_ k=3 nprobe=2 residual=false rerank=8 rerankSource=corpus result_rows=9")), l4)
    val writtenRr = spark.read.parquet(rrd)
      .select($"query_id", $"rank", $"vec_id", $"dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    val directRr = {
      val arts2 = graft.operators.PqOps.readPqArtifacts(spark, outd)
      val queries = spark.read.parquet(qdir)
        .select($"vec_id".as("query_id"), $"embedding")
      val short = graft.operators.PqOps.ivfAdcSearch(
        arts2.codes, "cell", "vec_id", queries, "query_id", "embedding",
        arts2.model, arts2.coarse, topN = 8, nprobe = 2)
      graft.operators.PqOps.refine(
        short, spark.read.parquet(corpus), "embedding", "vec_id",
        queries, "query_id", topN = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(writtenRr == directRr)
    // A shortlist smaller than the final cut is a mis-configuration.
    intercept[IllegalArgumentException](
      cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
        "--out-dir", rrd, "--id-col", "vec_id", "--k", "3",
        "--rerank", "2", "--rerank-corpus", corpus))
    // --rerank with NO --rerank-corpus is the E148 codes re-rank; this
    // store has no refinement level, so it refuses at the store, not at
    // the parser.
    val noRefine = intercept[IllegalStateException](
      cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
        "--out-dir", rrd, "--id-col", "vec_id", "--k", "3", "--rerank", "8"))
    assert(noRefine.getMessage.contains("refinement"), noRefine.getMessage)
    // Declared-formulation mismatch: this store pins residual=false, so
    // a search declaring --residual refuses instead of quietly running
    // the raw chain.
    val mismatch = intercept[IllegalStateException](
      cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
        "--out-dir", rrd, "--id-col", "vec_id", "--k", "3", "--residual"))
    assert(mismatch.getMessage.contains("residual=false"), mismatch.getMessage)
  }

  test("--pq-encode --residual builds a residual store; search routes by the pin") {
    val root = Files.createTempDirectory("pq_cli_resid")
    val corpus = s"$root/vecs"
    (0L to 19L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .repartition(2).write.mode(SaveMode.Overwrite).parquet(corpus)
    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }
    val outd = s"$root/pq"
    val (c, l) = cli("--pq-encode", "--residual", "--corpus-dir", corpus,
      "--out-dir", outd, "--id-col", "vec_id", "--pq-m", "2", "--pq-k", "4",
      "--pq-iters", "1", "--pq-coarse-k", "2")
    assert(c == 0, l.mkString("; "))
    assert(l.exists(_.contains("residual=true")), l)
    val arts = graft.operators.PqOps.readPqArtifacts(spark, outd)
    assert(arts.residual, "the pin must record the residual formulation")
    // Search with no flag ROUTES to the residual searcher — bit-equal to
    // the explicit call; with --residual it also passes the declared
    // expectation check.
    val qdir = s"$root/queries"
    (0L to 2L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(qdir)
    val resd = s"$root/results"
    val (c2, l2) = cli("--pq-search", "--residual", "--corpus-dir", qdir,
      "--pq-store", outd, "--out-dir", resd, "--id-col", "vec_id",
      "--k", "3", "--nprobe", "2")
    assert(c2 == 0, l2.mkString("; "))
    assert(l2.exists(_.startsWith(
      "PQ_SEARCH_ k=3 nprobe=2 residual=true rerank=0 rerankSource=none")), l2)
    val written = spark.read.parquet(resd)
      .select($"query_id", $"rank", $"vec_id", $"adc")
      .as[(Long, Int, Long, Double)].collect().toSet
    val queries = spark.read.parquet(qdir)
      .select($"vec_id".as("query_id"), $"embedding")
    val direct = graft.operators.PqOps.ivfAdcSearchResidual(
      arts.codes, "cell", "vec_id", queries, "query_id", "embedding",
      arts.model, arts.coarse, topN = 3, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(written == direct)
    // --pq-append on the residual store encodes the batch as residuals
    // (the pinned formulation), not raw codes.
    val batch2 = s"$root/vecs2"
    (20L to 24L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(batch2)
    val (c3, l3) = cli("--pq-append", "--corpus-dir", batch2, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-epoch", "b2")
    assert(c3 == 0, l3.mkString("; "))
    val appended = spark.read.parquet(s"$outd/codes")
      .filter($"_graft_epoch" === "b2")
      .select($"vec_id", $"sub", $"code", $"dist")
      .as[(Long, Int, Int, Double)].collect().toSet
    val expectRes = {
      val bres = graft.operators.PqOps.residuals(
        spark.read.parquet(batch2), "embedding", "vec_id", arts.coarse)
      graft.operators.PqOps.encode(bres, "residual", "vec_id", arts.model)
        .select($"vec_id", $"sub", $"code", $"dist")
        .as[(Long, Int, Int, Double)].collect().toSet
    }
    assert(appended == expectRes)
  }

  test("--pq-encode --refine-m/--refine-k builds the second level; --rerank re-ranks from codes") {
    // E148 on the CLI: the store carries refinement codebooks + codes,
    // and --pq-search --rerank R WITHOUT --rerank-corpus is the
    // compressed-domain two-stage search — bit-equal to
    // searchArtifactsRefined, no raw corpus read anywhere.
    val root = Files.createTempDirectory("pq_cli_refine")
    val corpus = s"$root/vecs"
    (0L to 19L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .repartition(2).write.mode(SaveMode.Overwrite).parquet(corpus)
    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }
    val outd = s"$root/pq"
    val (c, l) = cli("--pq-encode", "--corpus-dir", corpus, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-m", "2", "--pq-k", "4", "--pq-iters", "1",
      "--pq-coarse-k", "2", "--refine-m", "4", "--refine-k", "4")
    assert(c == 0, l.mkString("; "))
    assert(l.exists(_.contains("refineM=4 refineK=4")), l)
    assert(spark.read.parquet(s"$outd/rcodebooks").count() == 16L, "4 subs x 4 codes")
    assert(spark.read.parquet(s"$outd/rcodes").count() == 80L, "20 vectors x 4 subs")
    val qdir = s"$root/queries"
    (0L to 2L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(qdir)
    val resd = s"$root/results"
    val (c2, l2) = cli("--pq-search", "--corpus-dir", qdir, "--pq-store", outd,
      "--out-dir", resd, "--id-col", "vec_id", "--k", "3", "--nprobe", "2",
      "--rerank", "8")
    assert(c2 == 0, l2.mkString("; "))
    assert(l2.exists(_.startsWith(
      "PQ_SEARCH_ k=3 nprobe=2 residual=false rerank=8 rerankSource=codes result_rows=9")), l2)
    val written = spark.read.parquet(resd)
      .select($"query_id", $"rank", $"vec_id", $"dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    val direct = {
      val arts = graft.operators.PqOps.readPqArtifacts(spark, outd)
      val queries = spark.read.parquet(qdir)
        .select($"vec_id".as("query_id"), $"embedding")
      graft.operators.PqOps.searchArtifactsRefined(
        arts, "vec_id", queries, "query_id", "embedding",
        topR = 8, topN = 3, nprobe = 2)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(written == direct)
    // --pq-append keeps BOTH levels complete under the new epoch.
    val batch2 = s"$root/vecs2"
    (20L to 24L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(batch2)
    val (c3, _) = cli("--pq-append", "--corpus-dir", batch2, "--out-dir", outd,
      "--id-col", "vec_id", "--pq-epoch", "b2")
    assert(c3 == 0)
    assert(spark.read.parquet(s"$outd/rcodes").count() == 100L, "25 vectors x 4 subs")
    // Half a refinement pair refuses at the parser-level build.
    intercept[IllegalArgumentException](
      cli("--pq-encode", "--corpus-dir", corpus, "--out-dir", s"$root/pq2",
        "--id-col", "vec_id", "--refine-m", "4"))
    // --pq-audit: the store's health report, bit-equal to the API call.
    val audd = s"$root/audit"
    val (c5, l5) = cli("--pq-audit", "--pq-store", outd, "--out-dir", audd,
      "--id-col", "vec_id")
    assert(c5 == 0, l5.mkString("; "))
    assert(l5.exists(s => s.startsWith("PQ_AUDIT_ cells=2 population=25") &&
      s.contains("refined=true")), l5)
    val writtenAudit = spark.read.parquet(audd)
      .as[(Int, Long, Double, Double, Double)].collect().toSet
    val directAudit = graft.operators.PqOps.pqAudit(
        graft.operators.PqOps.readPqArtifacts(spark, outd), "vec_id")
      .as[(Int, Long, Double, Double, Double)].collect().toSet
    assert(writtenAudit == directAudit)
    intercept[IllegalArgumentException](cli("--pq-audit", "--out-dir", audd))

    // --pq-rebalance: hot cells split into a FRESH store; codes rows
    // unchanged (raw surgery), coarse table grew, both levels re-celled.
    // The corpus must cover the appended epoch's ids too (the store is
    // the source of truth on membership).
    val corpusAll = s"$root/vecsall"
    (0L to 24L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(corpusAll)
    val rebd = s"$root/rebalanced"
    val (c6, l6) = cli("--pq-rebalance", "--pq-store", outd, "--corpus-dir",
      corpusAll, "--out-dir", rebd, "--id-col", "vec_id", "--max-cell", "8",
      "--pq-iters", "1")
    assert(c6 == 0, l6.mkString("; "))
    assert(l6.exists(_.startsWith("PQ_REBALANCE_ hotCells=")), l6)
    val reb = graft.operators.PqOps.readPqArtifacts(spark, rebd)
    assert(reb.coarse.length >= 2 && reb.refinement.isDefined)
    assert(spark.read.parquet(s"$rebd/codes").count() ==
      spark.read.parquet(s"$outd/codes").count())
    intercept[IllegalArgumentException](
      cli("--pq-rebalance", "--pq-store", outd, "--out-dir", rebd))

    // --pq-fold: committed epoch<N> partitions collapse into base with
    // the horizon read from the checkpoint's commit log; the lifetime
    // row count is unchanged and the epoch directory is gone.
    val batch3 = s"$root/vecs3"
    (30L to 34L).map(i => (i, Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(batch3)
    val (c7, _) = cli("--pq-append", "--corpus-dir", batch3, "--out-dir", rebd,
      "--id-col", "vec_id", "--pq-epoch", "epoch0")
    assert(c7 == 0)
    val rowsBefore = spark.read.parquet(s"$rebd/codes").count()
    val ckpt = s"$root/ckpt"
    val fsC = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsC.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
    fsC.create(new org.apache.hadoop.fs.Path(s"$ckpt/commits/0"), true).close()
    val (c8, l8) = cli("--pq-fold", "--pq-store", rebd, "--checkpoint", ckpt)
    assert(c8 == 0, l8.mkString("; "))
    assert(l8.exists(_.startsWith("PQ_FOLD_ upTo=0")), l8)
    val fsR = new org.apache.hadoop.fs.Path(rebd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsR.exists(new org.apache.hadoop.fs.Path(
      s"$rebd/codes/_graft_epoch=epoch0")))
    assert(spark.read.parquet(s"$rebd/codes").count() == rowsBefore)
    intercept[IllegalArgumentException](cli("--pq-fold", "--pq-store", rebd))

    // --delete-ids --pq-store: the takedown reaches the code namespaces.
    val audd2 = s"$root/del_audit"
    val (c9, l9) = cli("--delete-ids", "3,9999", "--pq-store", rebd,
      "--audit-dir", audd2, "--id-col", "vec_id")
    assert(c9 == 0, l9.mkString("; "))
    assert(l9.exists(_.startsWith("DELETE_PQ_ requested=2")), l9)
    assert(spark.read.parquet(s"$rebd/codes")
      .filter($"vec_id" === 3L).count() == 0L)
    assert(spark.read.parquet(s"$rebd/rcodes")
      .filter($"vec_id" === 3L).count() == 0L)
  }

  test("--exact-neardup writes the provably-complete pair report") {
    val root = Files.createTempDirectory("exactnd_cli")
    val corpus = s"$root/docs"
    // 30 all-unique docs + one exact-dup pair + one near-dup (7 of 8
    // tokens shared -> 5 of the 7 distinct 3-gram shingles in each
    // union: J = 5/7 = 0.7143).
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val near = (base.split(" ").init :+ "iota").mkString(" ")
    val rows = (1L to 30L).map(i =>
      (i, (1 to 8).map(j => s"w${i}x$j").mkString(" "))) ++
      Seq((100L, base), (101L, base), (102L, near))
    rows.toDF("doc_id", "text").repartition(3)
      .write.mode(SaveMode.Overwrite).parquet(corpus)

    def cli(extra: String*): (Int, Seq[String]) = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = GraftApp.run(GraftApp.parseArgs(Seq("dev", "corpus") ++ extra),
        spark, getenv = _ => None, out = outs.append(_), log = _ => ())
      (code, outs.toSeq)
    }

    val outp = s"$root/pairs"
    val (c, l) = cli("--exact-neardup",
      "--corpus-dir", corpus, "--out-dir", outp, "--tau", "0.7")
    assert(c == 0, l.mkString("; "))
    assert(l.exists(_.startsWith("EXACT_NEARDUP_ tau=0.7 shingleN=3 pairs=3")), l)
    val pairs = spark.read.parquet(outp)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set(
      (100L, 101L, 1.0), (100L, 102L, 0.7143), (101L, 102L, 0.7143)), pairs)

    // The default tau (0.8) keeps only the exact duplicates.
    val (c2, l2) = cli("--exact-neardup",
      "--corpus-dir", corpus, "--out-dir", s"$root/pairs08")
    assert(c2 == 0 && l2.exists(_.contains("pairs=1")), l2)

    intercept[IllegalArgumentException](cli("--exact-neardup"))
    intercept[IllegalArgumentException](cli("--exact-neardup", "--corpus-dir", corpus))
  }

  private def copyOf(argv: String*): GraftApp.Command.Copy = GraftApp.parseArgs(argv) match {
    case c: GraftApp.Command.Copy => c
    case other => fail(s"expected the copy command, got $other")
  }

  test("arg parsing: usage errors and flag forms") {
    intercept[IllegalArgumentException](GraftApp.parseArgs(Seq("dev")))
    intercept[IllegalArgumentException](GraftApp.parseArgs(Seq("dev", "all", "--mode", "upsert")))
    // Typo'd flags error loudly instead of silently using defaults.
    val e = intercept[IllegalArgumentException](
      GraftApp.parseArgs(Seq("dev", "all", "--parallellism", "16")))
    assert(e.getMessage.contains("--parallellism"))
    val a = copyOf("dev", "a,b", "--mode", "overwrite",
      "--parallelism", "2", "--table-timeout-sec", "30")
    assert(a.mode == SaveMode.Overwrite && a.parallelism == 2)
    assert(a.tableTimeout.toSeconds == 30L)
    // --strict is valueless and must not swallow the following token.
    val b = copyOf("dev", "all", "--strict", "--parallelism", "3")
    assert(b.strict && b.parallelism == 3)
    assert(!copyOf("dev", "all").strict)

    // One invocation runs ONE command: no mode silently shadows another,
    // and a flag the chosen command does not read refuses, naming it.
    // All of these refuse in parseArgs alone, before any session exists.
    def refuse(argv: String*): String =
      intercept[IllegalArgumentException](GraftApp.parseArgs(argv)).getMessage
    val two = refuse("dev", "all", "--compact-ledger", "--ledger", "L",
      "--fold-epochs", "--checkpoint", "C")
    assert(two.contains("--compact-ledger") && two.contains("--fold-epochs"), two)
    val dedup = refuse("dev", "all", "--dedup", "neardup")
    assert(dedup.contains("copy") && dedup.contains("--dedup"), dedup)
    val ledger = refuse("dev", "all", "--ledger", "L")
    assert(ledger.contains("copy") && ledger.contains("--ledger"), ledger)
    val pqLedger = refuse("dev", "corpus", "--delete-ids", "1", "--audit-dir", "A",
      "--pq-store", "P", "--ledger", "L")
    assert(pqLedger.contains("--delete-ids --pq-store") && pqLedger.contains("--ledger"),
      pqLedger)
    // The ledger's space names its erase keys; no flag chooses them.
    for (flag <- Seq("--key-col", "--key-recipe")) {
      val keyFlag = refuse("dev", "c", "--delete-ids", "1", "--ledger", "L",
        "--corpus-dir", "C", "--audit-dir", "A", flag, "_graft_vec")
      assert(keyFlag.contains("--delete-ids --ledger") && keyFlag.contains(flag), keyFlag)
    }
    val shards = refuse("dev", "docs", "--verify-export", "--export-dir", "P", "--shards", "4")
    assert(shards.contains("--verify-export") && shards.contains("--shards"), shards)
  }

  test("arg parsing: one accepted argument vector per command") {
    import GraftApp.Command._
    import Connectors.{IdempotentParquetSink, ParquetSink, ParquetSource}
    import scala.concurrent.duration.Duration
    val cases: Seq[(Seq[String], GraftApp.Command)] = Seq(
      // The four invocation shapes the end-to-end benchmark sends.
      Seq("dev", "all", "--tables-list-path", "cat", "--source", "parquet:/s",
        "--sink", "parquet:/d/sink", "--state", "/d/state.properties",
        "--parallelism", "4", "--strict") ->
        Copy("dev", "all", "cat", Some(ParquetSource("/s")), Some(ParquetSink("/d/sink")),
          "/d/state.properties", SaveMode.Append, 4, Duration.Inf, strict = true),
      Seq("dev", "docs", "--stream", "--dedup", "neardup", "--source", "parquet:/src",
        "--sink", "parquet-idempotent:/cur", "--ledger", "/led", "--checkpoint", "/ck",
        "--strict") ->
        StreamDedup("docs", "/src", IdempotentParquetSink("/cur"), "/led", "/ck", "neardup",
          "text", "doc_id", "embedding", 0.9, 8),
      Seq("dev", "docs", "--compact-ledger", "--ledger", "/led") -> CompactLedger("/led"),
      Seq("dev", "docs", "--export-shards", "--source", "parquet:/cur", "--export-dir", "/x",
        "--id-col", "doc_id", "--content-cols", "text", "--shards", "16", "--seed", "3",
        "--strict") ->
        ExportShards("dev", "docs", Some(ParquetSource("/cur")), "/x", "doc_id", Seq("text"),
          16, 3L),
      // Every other command, with its defaults.
      Seq("prod", "vecs", "--stream", "--pq-store", "/pq", "--source", "parquet:/in",
        "--checkpoint", "/ck", "--id-col", "vec_id") ->
        StreamPq("vecs", "/in", "/pq", "/ck", "embedding", "vec_id"),
      Seq("dev", "all", "--fold-epochs", "--ledger", "/led", "--checkpoint", "/ck") ->
        FoldEpochs("/led", "/ck"),
      Seq("dev", "docs", "--verify-export", "--export-dir", "/x", "--content-cols", "a, b") ->
        VerifyExport("/x", "doc_id", Seq("a", "b"), 7L),
      Seq("dev", "docs", "--scrub-spans", "--mode", "overwrite", "--span-tokens", "3") ->
        ScrubSpans("dev", "docs", None, None, SaveMode.Overwrite, "text", "doc_id", 3, 2),
      Seq("dev", "docs", "--epoch-shuffle", "2", "--sink", "parquet:/e") ->
        EpochShuffle("dev", "docs", None, Some(ParquetSink("/e")), SaveMode.Append,
          "doc_id", 2L),
      Seq("dev", "c", "--delete-ids", "3,4", "--pq-store", "/pq", "--audit-dir", "/a") ->
        DeletePq(Seq(3L, 4L), "/a", "/pq", "doc_id"),
      Seq("dev", "c", "--delete-ids", "3", "--ledger", "/l", "--corpus-dir", "/c",
        "--audit-dir", "/a", "--hash-audit") ->
        DeleteLedger(Seq(3L), "/a", "/l", "/c", "text", "embedding", "doc_id",
          hashAudit = true),
      Seq("dev", "c", "--delete-ids", "5,6", "--corpus-dir", "/c", "--audit-dir", "/a") ->
        DeleteCorpus(Seq(5L, 6L), "/a", "/c", "doc_id"),
      Seq("dev", "c", "--zorder", "a,b", "--corpus-dir", "/c", "--out-dir", "/o") ->
        Zorder(Seq("a", "b"), "/c", "/o", 16, 64),
      Seq("dev", "c", "--heavy-hitters", "text", "--tokenize", "--corpus-dir", "/c",
        "--out-dir", "/o") -> HeavyHitters("text", "/c", "/o", 4096, 8, tokenize = true),
      Seq("dev", "c", "--pq-encode", "--corpus-dir", "/c", "--out-dir", "/o",
        "--refine-m", "4", "--refine-k", "16", "--residual") ->
        PqEncode("/c", "/o", "embedding", "doc_id", 4, 256, 2, 256, residual = true,
          balancedPerm = false, 4, 16),
      Seq("dev", "c", "--pq-append", "--corpus-dir", "/c", "--out-dir", "/o",
        "--pq-epoch", "b2") -> PqAppend("/c", "/o", "b2", "embedding", "doc_id"),
      Seq("dev", "c", "--pq-search", "--corpus-dir", "/q", "--pq-store", "/pq",
        "--out-dir", "/o", "--rerank", "8", "--rerank-corpus", "/c") ->
        PqSearch("/q", "/pq", "/o", "embedding", "doc_id", 8, 1, residual = false, 8,
          Some("/c")),
      Seq("dev", "c", "--pq-audit", "--pq-store", "/pq", "--out-dir", "/o") ->
        PqAudit("/pq", "/o", "doc_id"),
      Seq("dev", "c", "--pq-rebalance", "--pq-store", "/pq", "--corpus-dir", "/c",
        "--out-dir", "/o", "--max-cell", "8") ->
        PqRebalance("/pq", "/c", "/o", "embedding", "doc_id", 8L, 2),
      Seq("dev", "c", "--pq-fold", "--pq-store", "/pq", "--checkpoint", "/ck") ->
        PqFold("/pq", "/ck"),
      Seq("dev", "c", "--ann-recall", "--pq-store", "/pq", "--corpus-dir", "/c",
        "--queries", "4") -> AnnRecall("/pq", "/c", "embedding", "doc_id", 8, 4, 1, 0),
      Seq("dev", "c", "--dedup-recall", "--ledger", "/l", "--corpus-dir", "/c") ->
        DedupRecall("/l", "/c", "text", "embedding", "doc_id", 0.8, 20),
      Seq("dev", "c", "--exact-neardup", "--corpus-dir", "/c", "--out-dir", "/o",
        "--tau", "0.7") -> ExactNeardup("/c", "/o", "text", "doc_id", 0.7))
    for ((argv, want) <- cases)
      assert(GraftApp.parseArgs(argv) == want, argv.mkString(" "))
    // All 23 commands are covered.
    assert(cases.map(_._2.getClass).distinct.size == 23)
  }
}
