package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Access layer for the driver-provided parquet fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * One parquet file per table; schema-on-read, like the reference's
  * cursor-metadata inference (`/root/reference/util.py:173`) — Spark derives
  * the `StructType` from the parquet footer.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS); with
    // spark.sql.legacy.parquet.nanosAsLong it surfaces as Long nanos —
    // convert to a microsecond timestamp exactly as DuckDB truncates it.
    // `div` keeps the arithmetic integral (ns epochs exceed 2^53, so a
    // double division would lose precision).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Spread a compute-heavy narrow pipeline over all cores when the input
    * arrives in fewer splits than the cluster has slots. Parquet cannot
    * split a row group, so a single-row-group file (small exports, the sf
    * fixtures) serializes per-row work like MinHash/SimHash/vector math
    * onto ONE core no matter how wide the cluster is; one cheap shuffle of
    * the input buys a cores-× speedup of the dominant stage. Deliberately
    * CONDITIONAL: at 100 TB inputs arrive in thousands of splits, the
    * condition is false, and no shuffle is added (filters keep reaching
    * the scan — Catalyst pushes deterministic predicates through
    * Repartition anyway). */
  def parallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Materialize an expensive multi-consumer frame exactly once, cutting
    * the plan so downstream consumers reuse the computed blocks instead of
    * replicating the subtree (q90's tf frame feeds three consumers; the
    * unmaterialized plan re-tokenized the corpus per consumer).
    *
    * Two modes, selected by `spark.graft.reliableCheckpoint`:
    *
    *  - `false` (default — bench / single-node): `localCheckpoint`, blocks
    *    held by the executors that computed them. No filesystem round-trip,
    *    but NON-RESILIENT: on a real cluster, losing one executor fails the
    *    query instead of recomputing its blocks. Right when the caller owns
    *    retry (a bench harness, a short job) and wrong for anything long.
    *  - `true` (cluster): reliable `checkpoint` to the fault-tolerant
    *    filesystem at `spark.graft.checkpointDir` (default: a `graft-ckpt`
    *    tmpdir — POINT THIS AT HDFS/S3 in a real deployment). Executor loss
    *    recomputes from durable storage; the right default for multi-hour
    *    100 TB jobs, at the price of writing the frame out once.
    *
    * Both modes return bit-identical data (MaterializeSpec gates q90 across
    * the toggle); only the failure-recovery story differs. */
  def materialize(df: DataFrame): DataFrame = materializePath(df, eager = true)

  /** [[materialize]] with a LAZY checkpoint (round 17, guide §1.2): the
    * logical plan truncates immediately (so iterative loops whose round
    * references its input more than once don't build 2^rounds plans) but
    * the checkpoint job is deferred to the FIRST action — the right shape
    * when the caller's next statement is itself an action over the whole
    * frame (a convergence count, a stats head()): that action forces and
    * stores the blocks in ONE pass instead of paying a separate
    * lineage-cut job first. Local mode only: a NON-eager RELIABLE
    * checkpoint is written by RE-RUNNING the RDD after the first action
    * (Spark's ReliableRDDCheckpointData contract — only the local
    * variant persists blocks during the first compute), so in reliable
    * mode this stays eager: same cost as [[materialize]], never a
    * double compute. */
  def materializeLazy(df: DataFrame): DataFrame = materializePath(df, eager = false)

  private def materializePath(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption("spark.graft.reliableCheckpoint").exists(_.toBoolean)
    if (!reliable) df.localCheckpoint(eager)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(spark.conf.getOption("spark.graft.checkpointDir")
          .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-ckpt"))
      df.checkpoint(eager = true)
    }
  }
}
