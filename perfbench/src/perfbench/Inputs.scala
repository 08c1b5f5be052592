package perfbench

import graft.GenScale
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Seeded input builder. The base tables are a pure function of row id
  * (xxhash64 of a fixed salt, tag and id, as in `GenScale`): the six
  * sf0.1-shaped TPC-H tables, `GenScale` lineitem at gsf1 (6 M rows) and
  * `GenScale` documents at gsf1 (50 k docs, ~5% planted near-copies).
  * Everything that depends on the seed — delta boundaries, the epoch
  * assignment of documents, the export seed — is derived from the base
  * and cached per (seed, scale), so generation never lands inside a
  * timed step. */
object Inputs {
  val Scale = "gsf1"
  val SmallTables = Seq("region", "nation", "customer", "supplier", "part", "orders")
  val NDeltas = 64
  val NBatches = 16

  private def h(tag: String, cols: Column*): Column =
    abs(xxhash64((lit(42L) +: lit(tag) +: cols): _*))
  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(tag, id), lit(values.size)) + 1).cast("int"))

  /** sf0.1 fixture shapes: row counts, key ranges and marginals. */
  def smallTable(spark: SparkSession, name: String): DataFrame = {
    val id = col("id")
    def ids(n: Long) = spark.range(n).toDF("id")
    name match {
      case "region" =>
        ids(5).select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        ids(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
      case "customer" =>
        ids(15000).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          pmod(h("cn", id), lit(25)).cast("int").as("c_nationkey"),
          round(pmod(h("cb", id), lit(1099999L)) / 100.0 - 999.99, 2).as("c_acctbal"),
          pick("cs", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
            .as("c_mktsegment"))
      case "supplier" =>
        ids(1000).select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          pmod(h("sn", id), lit(25)).cast("int").as("s_nationkey"),
          round(pmod(h("sb", id), lit(1099999L)) / 100.0 - 999.99, 2).as("s_acctbal"))
      case "part" =>
        ids(20000).select(id.as("p_partkey"),
          concat_ws(" ", pick("pa", id, Seq("large", "hot", "small", "dark", "pale")),
            pick("pn", id, Seq("ring", "bolt", "gear", "pipe", "plate"))).as("p_name"),
          concat(lit("Brand#"), pmod(h("pb", id), lit(25)) + 1).as("p_brand"),
          pick("pt", id, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))
            .as("p_type"),
          (pmod(h("ps", id), lit(50)) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(id, lit(2001)) / 10.0, 2).as("p_retailprice"))
      case "orders" =>
        ids(150000).select(id.as("o_orderkey"),
          pmod(h("oc", id), lit(15000)).as("o_custkey"),
          pick("os", id, Seq("F", "O", "P")).as("o_orderstatus"),
          round(pmod(h("op", id), lit(50000000L)) / 100.0 + 800.0, 2).as("o_totalprice"),
          date_add(to_date(lit("1995-01-01")), pmod(h("od", id), lit(2405)).cast("int"))
            .cast("timestamp").as("o_orderdate"),
          pick("oo", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
            .as("o_orderpriority"))
    }
  }

  private def done(dir: String): Boolean = Files.exists(Paths.get(dir, "_DONE"))
  private def markDone(dir: String): Unit =
    Files.write(Paths.get(dir, "_DONE"), Array.emptyByteArray)

  /** Seed-independent base data, built once per checkout; each table is
    * written only if it is not there yet. */
  def genBase(spark: SparkSession, dir: String): Unit = {
    def once(out: String)(df: => DataFrame): Unit =
      if (!Files.exists(Paths.get(out, "_SUCCESS"))) df.write.mode(SaveMode.Overwrite).parquet(out)
    SmallTables.foreach(t => once(s"$dir/tpch/$t")(smallTable(spark, t).coalesce(1)))
    once(s"$dir/tpch/lineitem")(GenScale.genLineitem(spark, 1.0).repartition(32))
    once(s"$dir/documents")(GenScale.genDocuments(spark, 1.0).repartition(16))
  }

  /** Lines of a small text file under `path`, computed and written the
    * first time, so a cached input needs no Spark job to describe it. */
  def memo(path: String)(compute: => Seq[String]): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) {
      val tmp = Paths.get(s"$path.tmp")
      Files.createDirectories(p.getParent)
      Files.write(tmp, compute.asJava)
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    }
    Files.readAllLines(p).asScala.toSeq
  }

  /** Row count of each base table. */
  def tableRows(spark: SparkSession, baseDir: String, tables: Seq[String]): Map[String, Long] =
    memo(s"$baseDir/tpch/_rows.tsv")(tables.map(t =>
      s"$t\t${spark.read.parquet(s"$baseDir/tpch/$t").count()}")).map { l =>
      val Array(t, n) = l.split("\t"); t -> n.toLong }.toMap

  private val Epoch = java.time.LocalDate.of(1995, 1, 1)
  private val Days = 2405
  private def dayTs(d: Int) = s"${Epoch.plusDays(d)} 00:00:00.000000"

  /** One incremental delta: the rows it appends and the watermark each
    * watermarked table must reach after it is copied. */
  final case class Delta(custRows: Long, custMax: Long, orderRows: Long, orderMax: Option[String])

  /** The `incr_cron` plan for one seed: a base that holds back a tail of
    * customer ids and order dates, and `NDeltas` contiguous slices of that
    * tail, each one a set of new source part files. Order slices are whole
    * days, so every delta's earliest timestamp sits strictly above the
    * previous maximum (the copy's strict `>` would lose equal-timestamp
    * rows otherwise). */
  final case class IncrPlan(dir: String, base: Map[String, Long], baseCustMax: Long,
      baseOrderMax: String, deltas: IndexedSeq[Delta]) {
    def deltaFiles(i: Int, table: String): Seq[Path] =
      Files.list(Paths.get(dir, "delta", table, s"_d=$i")).iterator.asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
  }

  /** n slices of [lo, hi): an even grid whose interior cut points the seed
    * moves by up to a quarter slice, so every slice is non-empty and
    * delta sizes stay comparable across seeds. */
  private def cuts(rng: java.util.Random, lo: Int, hi: Int, n: Int): IndexedSeq[Int] = {
    val w = (hi - lo).toDouble / n
    val jitter = (w / 4).toInt
    lo +: (1 until n).map(i =>
      lo + (i * w).round.toInt + (if (jitter > 0) rng.nextInt(2 * jitter + 1) - jitter else 0)) :+ hi
  }

  def incrPlan(spark: SparkSession, baseDir: String, cacheDir: String, seed: Long): IncrPlan = {
    val rng = new java.util.Random(seed)
    val custCut = 15000 - (3750 + rng.nextInt(1500))
    val dayCut = Days - (600 + rng.nextInt(240))
    val custB = cuts(rng, custCut, 15000, NDeltas)
    val dayB = cuts(rng, dayCut, Days, NDeltas)
    // The cache key names the slicing itself, so a changed plan never
    // reuses files cut by an older one.
    val key = scala.util.hashing.MurmurHash3.seqHash(custB ++ dayB).toHexString
    val dir = s"$cacheDir/incr-s$seed-$Scale-$key"
    def slice(v: Column, b: IndexedSeq[Int]): Column =
      (1 until NDeltas).foldLeft(lit(0)) { (acc, i) => when(v >= b(i), lit(i)).otherwise(acc) }
    val tpch = s"$baseDir/tpch"
    def orders = spark.read.parquet(s"$tpch/orders")
      .withColumn("_day", datediff(col("o_orderdate"), to_date(lit("1995-01-01"))))
    if (!done(dir)) {
      val cust = spark.read.parquet(s"$tpch/customer")
      for (t <- Seq("region", "nation")) Fs.copyTree(s"$tpch/$t", s"$dir/base/$t")
      cust.filter(col("c_custkey") < custCut).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/base/customer")
      orders.filter(col("_day") < dayCut).drop("_day").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/base/orders")
      cust.filter(col("c_custkey") >= custCut)
        .withColumn("_d", slice(col("c_custkey"), custB))
        .repartition(col("_d")).write.mode(SaveMode.Overwrite).partitionBy("_d")
        .parquet(s"$dir/delta/customer")
      orders.filter(col("_day") >= dayCut)
        .withColumn("_d", slice(col("_day"), dayB)).drop("_day")
        .repartition(col("_d")).write.mode(SaveMode.Overwrite).partitionBy("_d")
        .parquet(s"$dir/delta/orders")
      markDone(dir)
    }
    // Expected counts and maxima: customer ids are 0 until 15000, and the
    // orders per day come from one pass over the base table.
    val perDay = new Array[Long](Days)
    memo(s"$tpch/_orders_per_day.tsv")(orders.groupBy("_day").count().collect().toSeq
      .map(r => s"${r.getInt(0)}\t${r.getLong(1)}")).foreach { l =>
      val Array(d, n) = l.split("\t"); perDay(d.toInt) = n.toLong }
    def orderSlice(lo: Int, hi: Int): (Long, Option[String]) =
      ((lo until hi).map(perDay(_)).sum,
        (lo until hi).filter(perDay(_) > 0).lastOption.map(dayTs))
    val (baseOrders, baseMax) = orderSlice(0, dayCut)
    IncrPlan(dir,
      base = Map("region" -> 5L, "nation" -> 25L, "customer" -> custCut.toLong,
        "orders" -> baseOrders),
      baseCustMax = custCut - 1L,
      baseOrderMax = baseMax.get,
      deltas = (0 until NDeltas).map { i =>
        val (on, om) = orderSlice(dayB(i), dayB(i + 1))
        Delta(custB(i + 1) - custB(i), custB(i + 1) - 1L, on, om)
      })
  }

  /** The `corpus_curate` plan for one seed: the documents split into
    * `NBatches` arrival batches (one part file each) by a seeded hash, and
    * the export seed. */
  final case class CorpusPlan(dir: String, batchDocs: IndexedSeq[Long], exportSeed: Long) {
    def batchFiles(i: Int): Seq[Path] =
      Files.list(Paths.get(dir, s"_b=$i")).iterator.asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
  }

  def corpusPlan(spark: SparkSession, baseDir: String, cacheDir: String, seed: Long): CorpusPlan = {
    val dir = s"$cacheDir/corpus-s$seed-$Scale-b$NBatches"
    def docs = spark.read.parquet(s"$baseDir/documents")
      .withColumn("_b", pmod(xxhash64(lit(seed), col("doc_id")), lit(NBatches)).cast("int"))
    if (!done(dir)) {
      docs.repartition(col("_b")).write.mode(SaveMode.Overwrite).partitionBy("_b").parquet(dir)
      markDone(dir)
    }
    val counts = memo(s"$dir/_docs_per_batch.tsv")(docs.groupBy("_b").count().collect().toSeq
      .map(r => s"${r.getInt(0)}\t${r.getLong(1)}")).map { l =>
      val Array(b, n) = l.split("\t"); b.toInt -> n.toLong }.toMap
    CorpusPlan(dir, (0 until NBatches).map(i => counts.getOrElse(i, 0L)),
      exportSeed = new java.util.Random(seed).nextInt(1 << 20))
  }

  /** Copy cached part files into a source table directory under a
    * `prefix`: a new upstream drop, visible to the next run's listing. */
  def dropFiles(files: Seq[Path], toDir: String, prefix: String): Unit = {
    Files.createDirectories(Paths.get(toDir))
    files.foreach(f => Files.copy(f, Paths.get(toDir, s"$prefix-${f.getFileName}"),
      StandardCopyOption.REPLACE_EXISTING))
  }
}
