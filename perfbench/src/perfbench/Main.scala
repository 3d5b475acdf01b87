package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: how to make its inputs and golden, run the production
  * entry point once, check that run's output, and probe its layers.
  */
trait Bench {
  /** Documents one production run processes. */
  def docs: Long
  /** Input MB one production run processes (payload or text bytes). */
  def inputMb: Double
  /** Per-layer metric groups this workload runs; the others read 0. */
  def layers: Seq[Seq[String]]

  /** Generate the inputs and golden in memory, once per run. */
  def generate(): Unit
  /** Write the input table from the generated inputs. */
  def setup(spark: SparkSession): Unit
  /** One production run on fresh run state; returns its wall seconds. */
  def pass(spark: SparkSession, i: Int, tr: Option[Tracer]): Double
  /** Check pass `i`'s output against golden. */
  def check(spark: SparkSession, i: Int, out: Outcome): Unit
  /** Drop pass `i`'s output and run state. */
  def release(i: Int): Unit
  /** Traced-run probes of single layers, called after the timed passes. */
  def probe(spark: SparkSession, tr: Tracer): Map[String, Double]
  /** Facts about the generated inputs, printed with the result. */
  def facts: Map[String, Any]
}

/** Checked items and failures; failing ids are kept for the report. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failing = mutable.ArrayBuffer.empty[String]
  def add(attempted: Long, failed: Long, ids: Seq[String]): Unit = {
    this.attempted += attempted
    this.failed += failed
    failing ++= ids.take(math.max(0, 50 - failing.size))
  }
}

object Main {
  val Cores = 4
  val MinPasses = 3

  // Per-layer metric names, by layer. A workload reports every name; a
  // layer it does not run reads 0, with its sample count (pdf.docs,
  // html.docs, job.runs_probed, ops.runs) at 0 beside it.
  val PdfLayer = Seq("pdf.docs", "pdf.open_us_p50", "pdf.open_us_p99", "pdf.interp_us_p50",
    "pdf.interp_us_p99", "pdf.extract_us_p50", "pdf.extract_us_p99", "pdf.mb_per_s",
    "pdf.errors", "pdf.warns")
  val HtmlLayer = Seq("html.docs", "html.decode_us_p50", "html.parse_us_p50", "html.parse_us_p99",
    "html.extract_us_p50", "html.extract_us_p99", "html.mb_per_s")
  val KernelLayer = Seq("kernel.t1_docs_per_s", "kernel.t4_docs_per_s", "kernel.scaling_eff",
    "kernel.phase_sum_frac", "self.kernel_phases_s", "self.kernel_t1_s")
  val JobPlanLayer = Seq("job.runs_probed", "job.plan_noop_s", "job.plan_count_s",
    "job.spark_overhead_s", "job.run_residual_s", "job.layer_sum_frac", "self.io_probe_s")
  val IoLayer = Seq("io.write_s", "io.write_mb_per_s")
  val OpsLayer = Seq("ops.runs", "ops.input_s", "ops.gate_s", "ops.url_canon_s", "ops.exact_s",
    "ops.lsh_edges_s", "ops.cluster_round_s", "ops.antijoin_s", "ops.counts_s", "ops.rounds",
    "ops.rows.input", "ops.rows.quality_kept", "ops.rows.url_canon", "ops.rows.exact",
    "ops.rows.neardup_kept", "ops.dup_removed_frac", "self.ops_pipeline_s")
  /** Measured by every traced run, from the production entry point;
    * memory is read when the passes end, before the layer probes run.
    */
  val RunLayer = Seq("job.run_s", "job.executor_cpu_s", "job.gc_frac", "job.shuffle_write_mb",
    "job.spill_mb", "job.task_skew", "trace_overhead_frac",
    "mem.heap_after_gc_mb")
  val AllLayers = Seq(PdfLayer, HtmlLayer, KernelLayer, JobPlanLayer, IoLayer, OpsLayer, RunLayer)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    })
  }

  /** Seed → first document id. Any seed gives a run of consecutive ids,
    * so each input covers the generator's whole PDF/HTML feature matrix;
    * ids stay below 2^31 * 3 where the generator's PDF index is an Int.
    */
  def docOffset(seed: Long): Long = 3000000L * (1 + Math.floorMod(seed, 700L))

  def session(tmp: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", tmp.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }

  def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Best of three times one thread takes to hash 64 MB: a fixed task
    * that shows how fast the host ran around the timed passes. On a
    * shared host that speed drifts.
    */
  def hostProbe(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    (1 to 3).map(_ => time((1 to 64).foreach(_ => md.update(buf)))).min
  }

  /** Best of three times four threads take to copy 64 MB each: memory
    * bandwidth, which other work on a shared host takes away without
    * showing as steal time or in `hostProbe`.
    */
  def memoryProbe(): Double = {
    val src = Array.fill(Cores)(new Array[Byte](64 << 20))
    val dst = Array.fill(Cores)(new Array[Byte](64 << 20))
    (1 to 3).map(_ => time(Par.foreach(Cores, Cores)(i =>
      System.arraycopy(src(i), 0, dst(i), 0, src(i).length)))).min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val base = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val work = base.resolve(s"work-${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    val tmp = work.resolve("tmp")
    Files.createDirectories(tmp)
    val offset = docOffset(a.seed)
    // Warm-up passes per workload. In a fresh JVM the JIT compiles for
    // tens of seconds. An extract_large pass takes 4-5x its steady time on
    // the first pass and is within ~20% of it by the 7th. A curate_kb pass
    // takes about 3x on the first pass and still falls by 5-15% a pass
    // from the 3rd to the 5th. Fewer warm-up passes leave that fall, which
    // differs from run to run, in the timed passes; more would take a run
    // well past a minute.
    val (bench, warmPasses): (Bench, Int) = a.workload match {
      case "extract_large" => (new ExtractBench(work, offset, n = 1200, paraScale = 20), 7)
      case "curate_kb" => (new CurateBench(work, offset, n = 400, paraScale = 20), 3)
      case w => sys.error(s"unknown workload $w")
    }
    var spark: SparkSession = null
    HeapWatch.start()
    try {
      val out = new Outcome
      // Every pass, warm-up included, is checked, and starts after a full
      // collection: garbage that the previous pass and its check left is
      // not the pass's own cost. Checking the warm-up passes also keeps
      // the check's own JIT compilation out of the timed passes.
      val checkS = mutable.ArrayBuffer.empty[Double]
      val steal = mutable.ArrayBuffer.empty[Double]
      def checked(i: Int)(pass: => Double): Double = {
        System.gc()
        val st0 = Stats.stealSeconds()
        val s = pass
        steal += Stats.stealSeconds() - st0
        checkS += time { bench.check(spark, i, out); bench.release(i) }
        s
      }
      // set-up, once and cold: inputs and golden, Spark start, input
      // table, untimed warm-up passes that take most of the JIT compilation
      var genS = 0.0
      var sparkS = 0.0
      var inputS = 0.0
      var warm = Seq.empty[Double]
      val setupS = time {
        genS = time(bench.generate())
        sparkS = time { spark = session(tmp) }
        inputS = time(bench.setup(spark))
        warm = (1 to warmPasses).map(w => checked(-w)(bench.pass(spark, -w, None)))
      }
      val probeBefore = hostProbe()
      val memoryBefore = memoryProbe()
      val values = mutable.LinkedHashMap.empty[String, Double]
      val passes = mutable.ArrayBuffer.empty[Double]
      val cpus = mutable.ArrayBuffer.empty[Double]
      val jits = mutable.ArrayBuffer.empty[Double]
      val classes = mutable.ArrayBuffer.empty[Long]
      def untraced(i: Int): Unit = checked(i) {
        val c0 = Stats.cpuSeconds()
        val j0 = Stats.jitSeconds()
        val k0 = Stats.classesLoaded()
        passes += bench.pass(spark, i, None)
        classes += Stats.classesLoaded() - k0
        cpus += Stats.cpuSeconds() - c0
        jits += Stats.jitSeconds() - j0
        passes.last
      }
      def measuring = passes.size < MinPasses || passes.sum < a.seconds
      if (!a.trace) {
        while (measuring) untraced(passes.size)
        val wall = Stats.median(passes.toSeq)
        values ++= Seq(
          "setup_s" -> setupS,
          "wall_s" -> wall,
          "docs_per_s" -> bench.docs / wall,
          "mb_per_s" -> bench.inputMb / wall)
      } else {
        // untraced and traced passes alternate, so JIT warm-up that is
        // still going on does not read as tracing overhead
        val tr = new Tracer
        val traced = mutable.ArrayBuffer.empty[Double]
        val taskRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
        while (measuring) {
          val i = 2 * passes.size
          untraced(i)
          traced += checked(i + 1) {
            val listener = new TaskStats
            spark.sparkContext.addSparkListener(listener)
            val s = bench.pass(spark, i + 1, Some(tr))
            taskRuns += Stats.taskMetrics(listener.drain())
            spark.sparkContext.removeSparkListener(listener)
            s
          }
        }
        val mem = Map("mem.heap_after_gc_mb" -> HeapWatch.peakMb)
        val probed = bench.probe(spark, tr)
        val measured = probed ++ mem ++ Stats.medians(taskRuns.toSeq) ++ Map(
          "job.run_s" -> Stats.median(traced.toSeq),
          "trace_overhead_frac" -> (Stats.median(traced.toSeq) / Stats.median(passes.toSeq) - 1.0))
        val run = bench.layers.flatten.toSet ++ RunLayer
        AllLayers.flatten.foreach { k =>
          values(k) =
            if (run(k)) measured.getOrElse(k, sys.error(s"layer metric $k not measured"))
            else 0.0
        }
        tr.writeJson(base.resolve("trace").resolve(s"${a.workload}-${a.seed}.json"))
      }
      val host = Map(
        "probe_s" -> Seq(probeBefore, hostProbe()),
        "memory_probe_s" -> Seq(memoryBefore, memoryProbe()),
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "mem_total_mb" -> scala.io.Source.fromFile("/proc/meminfo").getLines()
          .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "local_cores" -> Cores)
      println("perfbench-detail " + Json.obj(Map(
        "workload" -> a.workload, "seed" -> a.seed, "doc_offset" -> offset,
        "trace" -> a.trace, "host" -> host, "inputs" -> bench.facts,
        "setup_s" -> setupS, "generate_s" -> genS, "warm_pass_s" -> warm, "pass_s" -> passes.toSeq,
        "spark_start_s" -> sparkS, "input_write_s" -> inputS, "pass_cpu_s" -> cpus.toSeq,
        "pass_jit_s" -> jits.toSeq, "pass_classes" -> classes.toSeq, "steal_s" -> steal.toSeq,
        "check_s" -> checkS.toSeq, "jvm_gc_s" -> Stats.gcSeconds(),
        "failing" -> out.failing.toSeq)))
      println(Json.obj(Map(
        "correct" -> (out.failed == 0 && out.attempted > 0),
        "attempted" -> out.attempted, "failed" -> out.failed, "values" -> values.toMap)))
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
