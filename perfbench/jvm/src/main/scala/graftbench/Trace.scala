package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** JVM and host probes: MXBeans and /proc reads only; they attach nothing. */
object Jvm {
  private val Mb = 1024.0 * 1024.0
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  def jitS: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / Mb
  /** Heap in use; called right after a full collection it is the live heap. */
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  def ownCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  /** Host CPU seconds spent busy: user+nice+system+irq+softirq+steal of
    * /proc/stat's first line (guest time is already inside user/nice). */
  def hostBusyS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
        finally src.close()
      Seq(0, 1, 2, 5, 6, 7).map(i => if (f.length > i) f(i) else 0.0).sum / 100.0
    } catch { case _: Throwable => -1.0 }
}

/** One recorded interval. `op` groups the spans of one operation. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, op: String)

/** File-system counters and ManifestStore publish events, fed by
  * [[CountingFs]]. Only a traced run installs that file system. */
object FsTrace {
  @volatile var mainThread: Thread = null
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** (time, commits) of driver-thread file-system calls made from inside
    * a ManifestStore publish; `commits` marks the manifest write, the last
    * call of every publish. */
  val storeEvents = ArrayBuffer.empty[(Double, Boolean)]
  private val walker = StackWalker.getInstance()
  private val StoreCls = "graft.sources.ManifestStore$"

  def bump(key: String): Unit = counts.merge(key, 1L, (a, b) => a + b)
  def count(key: String): Long = Option(counts.get(key)).map(_.longValue).getOrElse(0L)

  /** Hadoop's own byte counters for the local scheme, summed over the
    * file-system classes that registered one. */
  def bytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def op(kind: String, p: Path): Unit = {
    bump(kind)
    if (Thread.currentThread() eq mainThread) {
      val inPublish = walker.walk(s => s.anyMatch(f =>
        f.getClassName == StoreCls && f.getMethodName.startsWith("publish")))
      if (inPublish) storeEvents.synchronized {
        storeEvents += ((Clock.ms, kind == "write_ops" && p.getName.endsWith(".manifest")))
      }
    }
  }

  /** One span per publish in [fromMs, toMs]: from its first file-system
    * call to its manifest write. */
  def storeSpans(fromMs: Double, toMs: Double): Seq[(Double, Double)] = {
    val ev = storeEvents.synchronized(
      storeEvents.filter(e => e._1 >= fromMs && e._1 <= toMs).toVector)
    val out = ArrayBuffer.empty[(Double, Double)]
    var start = Double.NaN
    ev.foreach { case (t, commits) =>
      if (start.isNaN) start = t
      if (commits) { out += ((start, t)); start = Double.NaN }
    }
    out.toSeq
  }
}

/** Local file system that counts reads, listings and writes, and records
  * which driver calls came from a ManifestStore publish. Installed as
  * `fs.file.impl` in traced runs only. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsTrace.op("read_ops", f); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsTrace.op("write_ops", f)
    // data and manifest files; not commit markers (_SUCCESS) or hidden files
    if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
      FsTrace.bump("files_created")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsTrace.op("write_ops", dst); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsTrace.op("write_ops", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    FsTrace.op("write_ops", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsTrace.op("write_ops", f); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsTrace.op("list_ops", f); super.listStatus(f)
  }
}

/** Spark listener of a traced run: per-job and per-stage rows tagged with
  * the operation that submitted them (the [[Recorder.OpKey]] local
  * property, which Spark copies into every job of the calling thread,
  * adaptive-execution stage jobs included). */
final class Recorder extends SparkListener {
  import Recorder._
  private val stageOp = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (String, Long)]
  val stages = ArrayBuffer.empty[StageRow]
  val jobs = ArrayBuffer.empty[JobRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
      .getOrElse("-")
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
    jobStart.put(e.jobId, (op, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      jobs.synchronized(jobs += JobRow(op, e.jobId, t0, e.time))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val row = StageRow(stageOp.getOrElse(si.stageId, "-"),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      if (tm == null) 0.0 else tm.executorRunTime / 1000.0,
      if (tm == null) 0.0 else tm.executorCpuTime / 1e9,
      if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled)
    stages.synchronized(stages += row)
  }
}

object Recorder {
  val OpKey = "graftbench.op"

  final case class StageRow(op: String, submitMs: Long, endMs: Long, tasks: Int,
      runS: Double, cpuS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class JobRow(op: String, id: Int, startMs: Long, endMs: Long)

  /** Length of [t0, t1] covered by none of `intervals`. */
  def uncovered(t0: Double, t1: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (t1 - t0) - covered)
  }
}
