package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body`, returning its value and wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, secondsSince(t0))
  }
}

/** Cumulative task metrics of the Spark execution runtime, read from a
  * `SparkListener` the benchmark registers. [[Exec.window]] attributes the
  * tasks that finish inside a block to that block.
  */
final class Exec(sc: SparkContext) extends SparkListener {
  final case class Task(stage: Int, attempt: Int, durMs: Long, cpuNs: Long,
      runMs: Long, gcMs: Long, shW: Long, shR: Long, spill: Long)
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val nTasks, cpuNs, shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  sc.addSparkListener(this)

  /** Cumulative counters, read at trace span boundaries. */
  def counters: Map[String, Double] = {
    drained()
    Map("tasks" -> nTasks.get.toDouble, "cpu_s" -> cpuNs.get / 1e9,
      "shuffle_bytes" -> shuffleBytes.get.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      nTasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      tasks.add(Task(e.stageId, e.stageAttemptId, e.taskInfo.duration,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def drained(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Aggregates of the tasks that ended in one or more windows. */
  final class Acc {
    var wall = 0.0
    var peakHeap = 0L
    val got = mutable.ArrayBuffer[Task]()
    def metrics(prefix: String, cores: Int): Seq[(String, Double, String)] = {
      val cpu = got.map(_.cpuNs).sum / 1e9
      val skew = got.groupBy(t => (t.stage, t.attempt)).values.filter(_.size > 1)
        .map { ts =>
          val med = Stats.median(ts.map(_.durMs.toDouble).toSeq)
          ts.map(_.durMs).max / math.max(med, 1.0)
        }.foldLeft(1.0)(math.max)
      Seq(
        (s"$prefix.cpu_s", cpu, "s"),
        (s"$prefix.run_s", got.map(_.runMs).sum / 1e3, "s"),
        (s"$prefix.gc_s", got.map(_.gcMs).sum / 1e3, "s"),
        (s"$prefix.core_util", if (wall > 0) cpu / (wall * cores) else 0.0, "ratio"),
        (s"$prefix.tasks", got.size.toDouble, "count"),
        (s"$prefix.task_skew_max", skew, "ratio"),
        (s"$prefix.shuffle_write_bytes", got.map(_.shW).sum.toDouble, "bytes"),
        (s"$prefix.shuffle_read_bytes", got.map(_.shR).sum.toDouble, "bytes"),
        (s"$prefix.spill_bytes", got.map(_.spill).sum.toDouble, "bytes"),
        (s"$prefix.peak_heap_mb", peakHeap / 1048576.0, "MB"))
    }
  }

  /** Run `body` and add its wall time, its tasks and the heap peak it
    * reached to `acc`.
    */
  def window[T](acc: Acc)(body: => T): T = {
    drained()
    tasks.clear()
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    try body finally {
      acc.wall += Stats.secondsSince(t0)
      drained()
      acc.got ++= tasks.asScala
      tasks.clear()
      acc.peakHeap = math.max(acc.peakHeap, heapPools.map(_.getPeakUsage.getUsed).sum)
    }
  }
}

/** Collects every progress event of the streaming queries the benchmark
  * starts, keyed by query id.
  */
final class Progress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}

/** Span recorder for the traced run: spans (name, start, end, parent,
  * trace id) around each layer call, kept in memory and written out at
  * the end. When disabled, [[span]] only runs its body.
  */
final class Trace(traceId: String) {
  var enabled = false
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      var endNs: Long = 0L, var counters: Map[String, Double] = Map.empty) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  /** Counter snapshot taken at each span boundary (listener counters). */
  var counters: () => Map[String, Double] = () => Map.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
      val before = counters()
      spans += s
      stack = s.id :: stack
      try body finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        val after = counters()
        s.counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      }
    }

  /** Self time of every span: its duration minus its direct children's. */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Median duration (total, not self) of the spans called `name`. */
  def medianSeconds(name: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.seconds).toSeq)

  def write(out: java.io.File): Unit = {
    val self = selfSeconds
    val w = Gen.writer(out)
    try spans.foreach { s =>
      val cs = s.counters.map { case (k, v) => s"${Gen.q(k)}:$v" }.mkString("{", ",", "}")
      w.write(s"""{"trace_id":${Gen.q(traceId)},"span_id":${s.id},"parent":${s.parent},""" +
        s""""name":${Gen.q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${self(s.id)},"counters":$cs}""")
      w.newLine()
    } finally w.close()
  }
}
