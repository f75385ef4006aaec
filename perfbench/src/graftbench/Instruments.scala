package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Wall-clock helpers: every duration in the record is measured with
  * `System.nanoTime` around a call into the engine's public API.
  */
object Clock {
  def now: Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, secs(t0, now))
  }
}

/** Kernel counters read from `/proc`: machine CPU time (for the
  * co-tenancy label), this process's own CPU time, its peak RSS and
  * the 1-minute load average.
  */
object Proc {
  final case class Cpu(busy: Long, total: Long, steal: Long, self: Long)

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  def cpu(): Cpu = {
    // cpu  user nice system idle iowait irq softirq steal guest guest_nice
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    val idle = f(3) + f(4)
    val steal = if (f.length > 7) f(7) else 0L
    // guest time is already counted in user/nice
    val total = f.take(8).sum
    // utime + stime of this process, fields 14 and 15 after the comm
    val self = read("/proc/self/stat")
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Cpu(total - idle - steal, total, steal, rest(11).toLong + rest(12).toLong)
  }

  /** Share of the machine's CPU time used by other processes, and the
    * share stolen by the hypervisor, between two readings.
    */
  def coTenancy(a: Cpu, b: Cpu): (Double, Double) = {
    val total = math.max(1L, b.total - a.total).toDouble
    val other = math.max(0L, (b.busy - a.busy) - (b.self - a.self))
    (other / total, (b.steal - a.steal) / total)
  }

  def loadavg1(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
}

/** Executor-side work counted by one SparkListener: jobs, stages,
  * tasks, executor CPU/run/GC time, shuffle and IO bytes. Attached
  * only in the traced run.
  *
  * Work is counted per window, which a job takes from its local
  * properties when it starts: a micro-batch's jobs carry their batch id
  * (batches from `firstMeasuredBatch` on are the measured window), and
  * a workload marks the jobs of its measured loop with
  * `ExecCounters.WindowKey`. Tasks and stages count towards their job's
  * window. Listener events arrive asynchronously, so `measured` first
  * runs a fence job and waits until its end event arrives: the events
  * of the listeners the benchmark attaches share one queue and arrive
  * in order, so every earlier event has then been seen.
  */
final class ExecCounters(firstMeasuredBatch: Long) extends SparkListener {
  import ExecCounters._

  private final class Counts {
    val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
    val shuffleWrite, shuffleRead, input, output = new AtomicLong
  }
  private val counts = new ConcurrentHashMap[String, Counts]
  private val stageWindow = new ConcurrentHashMap[Int, String]
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  private val fenceSeen = new Semaphore(0)

  private def of(window: String): Counts =
    counts.computeIfAbsent(window, _ => new Counts)

  private def windowOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(BatchIdKey)))
      .map(b => if (b.toLong >= firstMeasuredBatch) Measured else "setup")
      .orElse(Option(props).flatMap(p => Option(p.getProperty(WindowKey))))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val window = windowOf(e.properties)
    if (window == Fence) fenceJobs.add(e.jobId)
    else {
      e.stageIds.foreach(stageWindow.put(_, window))
      of(window).jobs.incrementAndGet()
    }
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenceJobs.remove(e.jobId)) fenceSeen.release()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageWindow.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageWindow.get(e.stageId)).foreach { window =>
      val c = of(window)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Returns once every listener event posted so far has arrived. */
  def fence(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(WindowKey)
    sc.setLocalProperty(WindowKey, Fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(WindowKey, before)
    require(fenceSeen.tryAcquire(60, TimeUnit.SECONDS),
      "listener events stopped before the fence job ended")
  }

  /** Work of the measured window, once every event of it has arrived. */
  def measured(spark: SparkSession): Map[String, Long] = {
    fence(spark)
    val c = of(Measured)
    Map("jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
      "cpu_ns" -> c.cpuNs.get, "run_ms" -> c.runMs.get, "gc_ms" -> c.gcMs.get,
      "shuffle_write" -> c.shuffleWrite.get, "shuffle_read" -> c.shuffleRead.get,
      "input" -> c.input.get, "output" -> c.output.get)
  }
}

object ExecCounters {
  val WindowKey = "graftbench.window"
  val Measured = "measured"
  private val Fence = "fence"
  private val BatchIdKey = "streaming.sql.batchId"

  /** Runs `body` with the jobs it starts on this thread counted as the
    * measured window.
    */
  def measuring[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(WindowKey, Measured)
    try body
    finally sc.setLocalProperty(WindowKey, null)
  }
}

/** In-memory span log: name, start, end, parent, run id. Written out
  * with the record when the run ends.
  */
final class Spans(runId: String) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int)
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = Clock.now
    try body
    finally {
      buf.add(Span(id, name, t0, Clock.now, parent))
      stack.set(stack.get.tail)
    }
  }

  def toRows: Seq[Map[String, Any]] = buf.asScala.toSeq.sortBy(_.startNs)
    .map(s => Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "run" -> runId))
}

/** The listener of one traced session; re-attached when a workload
  * rebuilds its session.
  */
final class Tracer(val spans: Spans, firstMeasuredBatch: Long) {
  var exec = new ExecCounters(firstMeasuredBatch)

  def attach(spark: SparkSession): Unit = {
    exec = new ExecCounters(firstMeasuredBatch)
    spark.sparkContext.addSparkListener(exec)
  }
}
