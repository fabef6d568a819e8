package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark runtime counters over one span, from a listener the benchmark
  * registers for the span only. Times are seconds, sizes MiB. */
final class SparkMeter extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var taskMs, cpuNs, gcMs, shWrite, shRead, spill, output = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += 1
    tasks += i.numTasks
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
    for (s <- i.submissionTime; c <- i.completionTime) intervals += ((s, c))
  }

  /** Counters of the span [startMs, endMs] on `cores` cores. */
  def report(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = synchronized {
    val spanS = math.max(endMs - startMs, 1L) / 1e3
    val busyS = SparkMeter.unionMs(intervals.toSeq, startMs, endMs) / 1e3
    val taskS = taskMs / 1e3
    Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_s" -> taskS, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_write_mb" -> shWrite / SparkMeter.MiB,
      "shuffle_read_mb" -> shRead / SparkMeter.MiB,
      "spill_mb" -> spill / SparkMeter.MiB,
      "output_mb" -> output / SparkMeter.MiB,
      "stage_busy_s" -> busyS, "driver_only_s" -> math.max(spanS - busyS, 0.0),
      "core_util" -> taskS / (spanS * cores))
  }
}

object SparkMeter {
  val MiB: Double = 1024.0 * 1024.0

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, end = 0L
    var open = false
    var start = 0L
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (open && s <= end) end = math.max(end, e)
        else {
          if (open) total += end - start
          start = s; end = e; open = true
        }
      }
    if (open) total += end - start
    total
  }
}

/** Exchange counts of every SQL execution that finishes while registered. */
final class PlanMeter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var shuffles, broadcasts = 0L

  private def record(qe: QueryExecution): Unit = {
    val plan: SparkPlan = qe.executedPlan
    val s = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val b = collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size
    synchronized { shuffles += s; broadcasts += b }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def report: Map[String, Double] = synchronized {
    Map("exchanges" -> (shuffles + broadcasts).toDouble,
      "broadcast_exchanges" -> broadcasts.toDouble)
  }
}

/** A traced span: both meters registered around `body`, drained after. */
object Span {
  case class Record(name: String, parent: String, startMs: Long, endMs: Long,
                    wallS: Double, counters: Map[String, Double])

  def apply[T](spark: SparkSession, name: String, parent: String)(body: => T): (T, Record) = {
    val sm = new SparkMeter
    val pm = new PlanMeter
    spark.sparkContext.addSparkListener(sm)
    spark.listenerManager.register(pm)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      org.apache.spark.benchhook.ListenerBusDrain(spark.sparkContext)
      val cores = spark.sparkContext.defaultParallelism
      (out, Record(name, parent, start, end, wallS,
        sm.report(start, end, cores) ++ pm.report))
    } finally {
      spark.listenerManager.unregister(pm)
      spark.sparkContext.removeSparkListener(sm)
    }
  }
}

/** Heap in use after every full garbage collection, from the JVM's GC
  * notifications, with the collection's start in ms since JVM start. */
object GcWatch {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]

  def install(): Unit = {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction.contains("major")) {
          val gc = info.getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          events.add((gc.getStartTime, used / SparkMeter.MiB))
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter]
        .addNotificationListener(listener, null, null))
  }

  /** Heap in use after each full collection that started in [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    events.asScala.collect { case (t, mb) if t >= fromMs && t <= toMs => mb }.toSeq
  }
}

/** Process CPU time less that of the JIT compiler threads, which keep
  * compiling for seconds per operation after warm-up. GC and every other
  * thread count, exited ones too. Compiler threads are read per thread id from
  * /proc (Linux); `perfbench/run.py` starts the JVM with a fixed set of them,
  * since one that exits mid-operation would leave its share in the total. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  case class Snapshot(processNs: Long, compilerNs: Map[String, Long])

  def snapshot(): Snapshot = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
    val compiler = tasks.flatMap { t =>
      try {
        val name = Files.readString(t.toPath.resolve("comm"))
        if (name.contains("CompilerThre"))
          Some(t.getName -> Files.readString(t.toPath.resolve("schedstat")).split(' ')(0).toLong)
        else None
      } catch { case _: java.io.IOException => None } // the thread exited
    }.toMap
    Snapshot(os.getProcessCpuTime, compiler)
  }

  /** CPU seconds since `s0`, compiler threads left out. */
  def since(s0: Snapshot): Double = {
    val s1 = snapshot()
    val compiler = s1.compilerNs.map { case (tid, ns) => ns - s0.compilerNs.getOrElse(tid, 0L) }.sum
    (s1.processNs - s0.processNs - compiler) / 1e9
  }
}

/** Counts ERROR log events that reach the root logger config. */
object ErrorCounter {
  private val count = new java.util.concurrent.atomic.AtomicLong

  private object Filter extends org.apache.logging.log4j.core.filter.AbstractFilter {
    override def filter(event: org.apache.logging.log4j.core.LogEvent)
        : org.apache.logging.log4j.core.Filter.Result = {
      if (event.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR))
        count.incrementAndGet()
      org.apache.logging.log4j.core.Filter.Result.NEUTRAL
    }
  }

  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.addFilter(Filter)
    ctx.updateLoggers()
  }

  def value: Long = count.get()
}
