package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its own calls into the
  * program's public functions. Kept in memory, written once at the end.
  * Not thread-safe: spans are opened and closed on the benchmark's main
  * thread and nest by call order.
  */
final class Tracer {
  final case class Rec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      recs += Rec(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  /** A span whose interval is known only after the fact (a gap between
    * two observed boundaries), recorded under the currently open span.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    recs += Rec(nextId, open.headOption.getOrElse(-1), name, startNs, endNs)
    nextId += 1
  }

  def named(name: String): Seq[Rec] = recs.filter(_.name == name).sortBy(_.startNs).toSeq
  def children(r: Rec): Seq[Rec] = recs.filter(_.parent == r.id).sortBy(_.startNs).toSeq
  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)
  def total(name: String): Double = seconds(name).sum
  def micros(name: String): Seq[Double] = seconds(name).map(_ * 1e6)

  /** Duration of the span minus the time its direct children cover. */
  def selfSeconds(r: Rec): Double =
    r.seconds - recs.filter(_.parent == r.id).map(_.seconds).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    recs.sortBy(_.id).iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${r.id},"parent":${r.parent},"name":"${r.name}",""" +
        s""""start_ns":${r.startNs},"end_ns":${r.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark task metrics, per task, from a listener the benchmark registers
  * only in the traced run.
  */
final class TaskStats extends SparkListener {
  import TaskStats.Task

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        e.taskInfo.duration))
  }

  /** Tasks seen since the last call, once the listener bus has delivered
    * the end of every job started so far.
    */
  def drain(): Seq[Task] = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsEnded.get < jobsStarted.get && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(20) // task ends of the last job precede its job end on the bus
    val out = mutable.ArrayBuffer.empty[Task]
    var t = tasks.poll()
    while (t != null) { out += t; t = tasks.poll() }
    out.toSeq
  }
}

object TaskStats {
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long, durationMs: Long)
}

object Stats {
  def median(v: Seq[Double]): Double = {
    require(v.nonEmpty, "median of no samples")
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile; 0 for no samples (the layer did not run,
    * and its sample count beside it reads 0).
    */
  def pct(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Summary of one run's task metrics. `task_skew` is max over median
    * task time in the stage with the most task time.
    */
  def taskMetrics(tasks: Seq[TaskStats.Task]): Map[String, Double] = {
    val runMs = tasks.map(_.runMs).sum.toDouble
    val heaviest = tasks.groupBy(_.stage).values.maxByOption(_.map(_.runMs).sum)
    val skew = heaviest.map { ts =>
      val d = ts.map(_.durationMs.toDouble)
      d.max / math.max(1.0, median(d))
    }.getOrElse(0.0)
    Map(
      "job.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "job.gc_frac" -> (if (runMs > 0) tasks.map(_.gcMs).sum / runMs else 0.0),
      "job.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1e6,
      "job.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "job.task_skew" -> skew)
  }

  /** Per-key median over several runs' summaries. */
  def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.head.keys.map(k => k -> median(runs.map(_(k)))).toMap

  /** CPU time of this JVM, all threads. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Classes the JVM has loaded so far; Spark's generated code adds to it. */
  def classesLoaded(): Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  /** CPU time the host gave to others while this machine's CPUs wanted
    * it (steal in /proc/stat), summed over CPUs, in seconds.
    */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally src.close()
  }

  /** Time the JIT compiler threads have spent compiling so far. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }
}

/** Peak of the heap in use just after a collection, from the JVM's
  * collection notifications: memory the program still held when the
  * collector last looked, without the garbage the heap size leaves room for.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          HeapWatch.synchronized { peak = math.max(peak, used) }
        }, null, null)
    }
  }

  def peakMb: Double = peak / 1e6
}
