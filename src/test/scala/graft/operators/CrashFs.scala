package graft.operators

import graft.NoForkRawLocalFileSystem
import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** Fault-injecting LOCAL filesystem for crash-point sweeps, registered
  * under the `crash://` scheme (`fs.crash.impl`). Delegates every call
  * to the engine's local FS (the fork-free one the session binds to
  * `file://`), but the Nth MUTATING call (rename / delete /
  * create) issued on the DRIVER while armed throws instead of executing —
  * one injected crash per arming, everything after it proceeds
  * normally, exactly like a process that died at that boundary and was
  * restarted.
  *
  * Scoping decisions, both deliberate:
  *  - Every driver-side thread ticks, not only the armed one: Spark runs
  *    the job commit of a write whose plan has an exchange on an adaptive
  *    query stage thread (`ResultQueryStageExecution-N`), and those
  *    commits are boundaries of the op like any other. Executor task
  *    threads (the ones with a `TaskContext`) pass through untouched, so
  *    the enumerated boundaries are the DRIVER-orchestrated mutations —
  *    job commits, the erase/fold family's bak swaps, staged-tree
  *    renames, pin/marker/tombstone writes — not parquet task parallelism
  *    (whose commit protocol is Spark's own).
  *  - Paths under the committer's `_temporary` staging are not counted
  *    either, for the same reason: the family's contract starts where
  *    the committed files exist.
  */
class CrashFs extends NoForkRawLocalFileSystem {
  override def getScheme: String = "crash"
  override def getUri: URI = CrashFs.Name

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.tick(s"rename $src -> $dst")
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.tick(s"delete $p")
    super.delete(p, recursive)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.tick(s"create $f")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.tick(s"create $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashFs {
  private[operators] val Name = URI.create("crash:///")

  private val remaining = new AtomicInteger(Int.MaxValue)
  @volatile private var armed = false

  /** Arm the injector: the Nth counted mutation issued on the driver
    * throws `IOException`. One shot — after the throw the counter goes
    * negative and never fires again until re-armed. */
  def arm(n: Int): Unit = {
    require(n >= 1, s"crash point must be >= 1: $n")
    remaining.set(n)
    armed = true
  }

  /** Disarm; returns the budget LEFT. A positive return from a run that
    * did not throw means the operation finished using fewer than N
    * mutations — the sweep is complete. Zero with no observed throw
    * means some layer swallowed the injected failure (a silent
    * best-effort cleanup); the sweep treats that as a crash too. */
  def disarm(): Int = {
    armed = false
    remaining.get()
  }

  private def tick(what: String): Unit = {
    if (armed && TaskContext.get() == null && !what.contains("_temporary")) {
      if (remaining.decrementAndGet() == 0)
        throw new IOException(s"CrashFs: injected crash before [$what]")
    }
  }
}
