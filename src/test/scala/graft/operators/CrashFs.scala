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
  * create) of the armed lane issued on the DRIVER while armed throws
  * instead of executing —
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
    CrashFs.tick(s"rename $src -> $dst", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.tick(s"delete $p", p)
    super.delete(p, recursive)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.tick(s"create $f", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.tick(s"create $f", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashFs {
  private[operators] val Name = URI.create("crash:///")

  /** A counted mutation: the driver thread that issued it, what it was,
    * and the path it changed (a rename's source), without its scheme. */
  final case class Mutation(thread: String, what: String, path: String) {
    override def toString: String = s"$thread: $what"
  }

  private val remaining = new AtomicInteger(Int.MaxValue)
  @volatile private var armed = false
  @volatile private var lane: String => Boolean = _ => true
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[Mutation]()

  /** Arm the injector: the Nth counted mutation issued on the driver
    * whose path is in `in` throws `IOException`; mutations outside it
    * proceed and are not counted. A lane holds the mutations of one
    * sequential actor (a directory a single thread writes at a time), so
    * its Nth mutation is the same boundary in every run even when two
    * driver threads mutate at once. One shot — after the throw the
    * counter goes negative and never fires again until re-armed. */
  def arm(n: Int, in: String => Boolean): Unit = {
    require(n >= 1, s"crash point must be >= 1: $n")
    log.clear()
    lane = in
    remaining.set(n)
    armed = true
  }

  /** Arm without a crash: records an op's boundaries ([[mutations]]). */
  def record(): Unit = arm(Int.MaxValue, _ => true)

  /** Disarm; returns the budget LEFT. Zero or less means the injected
    * crash fired (a run that fired but did not throw had some layer
    * swallow it — a silent best-effort cleanup); a positive return means
    * the lane saw fewer than N mutations. */
  def disarm(): Int = {
    armed = false
    remaining.get()
  }

  /** The mutations counted since the last [[arm]], in every lane, in the
    * order they were issued. */
  def mutations: Seq[Mutation] = log.toArray(Array.empty[Mutation]).toSeq

  private def tick(what: String, p: Path): Unit = {
    if (armed && TaskContext.get() == null && !what.contains("_temporary")) {
      val m = Mutation(Thread.currentThread.getName, what, p.toUri.getPath)
      log.add(m)
      if (lane(m.path) && remaining.decrementAndGet() == 0)
        throw new IOException(s"CrashFs: injected crash before [$what]")
    }
  }
}
