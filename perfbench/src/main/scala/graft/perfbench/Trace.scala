package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Benchmark-owned tracing. Everything here is off unless a traced run
  * turns it on; an untraced run installs no listener and no FS wrapper.
  * Records are kept in memory and written out with the run's result.
  */
object Trace {
  @volatile var enabled = false

  /** One clock for spans and Spark events: epoch milliseconds, with
    * sub-millisecond resolution from nanoTime.
    */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Long, parent: Long, name: String,
                        t0: Double, t1: Double)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** A span around one public call; nests per thread. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, nowMs))
      }
    }

  final case class Job(id: Int, t0: Double, t1: Double, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, inputBytes: Long,
                         outputBytes: Long, shuffleBytes: Long)
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()

  /** Job spans and per-stage task metrics. */
  final class Listener extends SparkListener {
    private val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.put(e.jobId, (e.time.toDouble, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.remove(e.jobId)).foreach { case (t0, st) =>
        jobs.add(Job(e.jobId, t0, e.time.toDouble, st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(Stage(i.stageId, i.numTasks, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def clear(): Unit = { spans.clear(); jobs.clear(); stages.clear() }
  def spansIn(t0: Double, t1: Double): Seq[Span] =
    spans.asScala.filter(s => s.t0 >= t0 && s.t1 <= t1).toSeq
  def jobsIn(t0: Double, t1: Double): Seq[Job] =
    jobs.asScala.filter(j => j.t0 >= t0 - 1 && j.t1 <= t1 + 1).toSeq
}

/** Local filesystem that counts the calls the engine makes. Registered
  * through `spark.hadoop.fs.file.impl` in traced runs only.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def listStatus(p: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(p, recursive)
  }
}

object CountingLocalFs {
  val lists, opens, creates, renames, deletes = new AtomicLong(0)

  /** Calls so far, plus bytes written through Hadoop's local scheme. */
  def snapshot(): Map[String, Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Map("fs_list" -> lists.get, "fs_open" -> opens.get,
      "fs_create" -> creates.get, "fs_rename" -> renames.get,
      "fs_delete" -> deletes.get, "bytes_written" -> written)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}
