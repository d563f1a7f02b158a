package graft

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test-only `file:` filesystem: [[sources.LocalFs]] that numbers every
  * mutating call (`create`, `rename`, `delete`, `mkdirs`) and, once
  * armed, fails the N-th and every later one — a writer that dies at
  * step N. The plan is static because the test JVM shares one
  * `getOrCreate` session and Spark tasks open their own instances.
  */
class FaultFs extends sources.LocalFs {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.step("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.step("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    FaultFs.step("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultFs.step("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object FaultFs {
  private val calls = new AtomicInteger
  @volatile private var failFrom = Int.MaxValue

  private def step(op: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    if (n >= failFrom)
      throw new java.io.IOException(s"injected crash at step $n ($op $p)")
  }

  /** Runs `body` with [[FaultFs]] as the session's `file:` filesystem
    * (uncached, so the binding takes effect), then restores both keys.
    */
  def bound[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[FaultFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Number of mutating calls `body` makes. */
  def count(body: => Unit): Int = {
    failFrom = Int.MaxValue
    calls.set(0)
    body
    calls.get
  }

  /** Runs `body` crashing at step `n`; true iff it failed. The writer
    * stays dead until the session runs no task, so a task of the failed
    * job cannot write after the crash.
    */
  def crashAt(spark: SparkSession, n: Int)(body: => Unit): Boolean = {
    calls.set(0)
    failFrom = n
    try { body; false }
    catch { case _: Exception => true }
    finally {
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      failFrom = Int.MaxValue
    }
  }
}
