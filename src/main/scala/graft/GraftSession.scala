package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * The reference keeps one long-lived connection per database
  * (`/root/reference/util.py:59-107`); our analogue is a single shared
  * [[SparkSession]] configured once: UTC (oracle parity), AQE on (runtime
  * re-plan for skew/broadcast at scale), shuffle partitions sized to local
  * cores rather than the 200 default (at cluster scale this is set to
  * ~2-3x total cores by the submitter).
  *
  * Artifact isolation is off. With it on (Spark's default) every session
  * gets its own job artifact state, executors run its tasks under a
  * classloader built for that session, and Spark 4.1 keys its
  * generated-code cache by the task's context classloader. A streaming
  * query runs in a fresh clone of the session, so each query start (one
  * per `--stream` drain) misses the cache: every generated class is
  * compiled again, byte-identical to the last drain's, and the new classes
  * start out interpreted. The engine adds no session artifacts (no
  * `addArtifact`, `addJar` or `addFile`), so isolation buys it nothing.
  * Turning it back on restores per-session jar visibility at the cost of
  * that recompile: 42–51 classes per near-dup drain in `DrainCountersSpec`,
  * against none for a restarted drain with it off.
  *
  * The local file system starts no process. Spark ships Hadoop without
  * libhadoop, and there Hadoop's local FS runs a `chmod` process for every
  * permission it sets (each directory level a `mkdirs` creates, each file
  * and each `.crc` sidecar) and a `readlink` process in `getFileLinkStatus`,
  * which every streaming checkpoint-log rename calls. That `readlink` is
  * handed the path's `file:` URI, a name no file has, so it always fails
  * and the status returned is the plain file status anyway. With Hadoop's
  * local FS, one near-dup drain epoch on a fresh checkpoint started 70
  * processes (38 `chmod`, 32 `readlink`). `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl` bind the same checksummed local FS
  * over [[NoForkRawLocalFileSystem]], which sets permissions in process and
  * falls back to Hadoop's code where that would differ. It is a fixed engine default, not an option. Hadoop
  * caches one local `FileSystem` per JVM and user, whatever configuration
  * later asks for it, so the binding holds for every file system opened in
  * a JVM whose first local FS came from this session's configuration: the
  * CLI, the benchmark and the test suite all build their session first.
  */
object GraftSession {

  def builder(master: String = s"local[${defaultCpus}]"): SparkSession.Builder = {
    // SPARK_GRAFT_MASTER overrides the caller's master — the
    // distributed-mode smoke path: `local-cluster[2,16,16384]` runs REAL
    // multi-executor execution (closure serialization, remote shuffle
    // fetch, a driver-side state coordinator executors reach over RPC)
    // against the same corpus, flushing any local[N]-only assumption.
    // local-cluster workers spawn with Spark's own classpath only, so the
    // application classes are handed to executors explicitly.
    val effective = sys.env.getOrElse("SPARK_GRAFT_MASTER", master)
    val b = SparkSession
      .builder()
      .master(effective)
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // One executor classloader for every session, so a restarted drain
      // reuses the compiled code of the last one (see the scaladoc above).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Generated classes are named without their whole-stage id. Adaptive
      // execution numbers a plan's stages in the order its query stages
      // finish, so the same plan can number them differently from one
      // run to the next, and an id in the class name is then a new
      // source text that misses the cache.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // The local file system without its chmod and readlink processes
      // (see the scaladoc above).
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      // Parquet pushdown + vectorized reads are on by default; pinned here
      // because the 100 TB design depends on them (SURVEY §4).
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      // The `events` fixture stores ts as INT64 TIMESTAMP(NANOS), which
      // Spark's reader rejects by default; read nanos as Long and let
      // Tables convert to a microsecond timestamp (DuckDB-equivalent
      // truncation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB state store: state lives in native memory + local disk
      // instead of the JVM heap (the 100 TB streaming-state choice), and
      // it is the only provider with the multi-column-family support that
      // `transformWithState`'s typed state variables require (E86).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Snapshot-lag telemetry phones the StateStoreCoordinator RPC
      // endpoint, which only exists for streaming queries — with it on,
      // BATCH transformWithState dies in RocksDB maintenance
      // (RpcEndpointNotFoundException → CANNOT_LOAD_STATE_STORE). It is a
      // monitoring aid, not a correctness feature.
      .config("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    if (effective.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    else b
  }

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(4, Runtime.getRuntime.availableProcessors()).toString)

  /** Get-or-create with graft defaults. */
  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
