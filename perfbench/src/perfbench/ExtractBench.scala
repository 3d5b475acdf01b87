package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.gen.CorpusTables.CorpusRow
import graft.html.{HtmlExtractor, HtmlParser}
import graft.io.Tables
import graft.job.{BucketedRow, ExtractJob, ExtractedRow, Partitioning, Span}
import graft.pdf.{ContentInterp, FontInfo, PdfDocument, PdfExtractor, PdfObj}

/** `extract_large`: `ExtractJob.run` over a generated
  * corpus, every output row compared with the generator's golden text
  * and spans. Besides the seed's `n` docs the corpus holds the two
  * payloads of `Gen.OverOneMiB`, so the salted big-doc buckets run.
  */
final class ExtractBench(work: Path, offset: Long, n: Int, paraScale: Int) extends Bench {
  private val inputPath = work.resolve("input").toString
  private val spec = Partitioning.defaultSpec(Main.Cores)
  private var rows: Seq[CorpusRow] = Nil
  private var golden = Map.empty[String, (String, Seq[Span])]

  def docs: Long = rows.size
  def inputMb: Double = payloads.map(_.length.toLong).sum / 1e6
  def layers: Seq[Seq[String]] =
    Seq(Main.PdfLayer, Main.HtmlLayer, Main.KernelLayer, Main.JobPlanLayer, Main.IoLayer)
  def facts: Map[String, Any] = Map("docs" -> rows.size, "para_scale" -> paraScale,
    "payload_mb" -> inputMb, "pdf_docs" -> payloads.count(PdfExtractor.isPdf),
    "big_bucket_docs" -> payloads.count(_.length > spec.bigDocBytes))
  private def payloads: Seq[Array[Byte]] = rows.map(_.html)

  def generate(): Unit = {
    val g = Gen.docs(Gen.ids(offset, n) ++ Gen.OverOneMiB, paraScale)
    rows = g.map(d => CorpusRow(d.url, new java.sql.Timestamp(d.warcTsMicros / 1000L),
      d.payload, d.wetText, d.lang)).toSeq
    golden = g.map(d => d.url -> (d.expectedText, d.expectedSpans)).toMap
    val big = payloads.count(_.length > spec.bigDocBytes)
    require(big >= Gen.OverOneMiB.size, s"only $big payloads above ${spec.bigDocBytes} bytes")
  }

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    Gen.write[CorpusRow](spark, rows, _.html.length.toLong, inputPath)
  }

  private def outPath(i: Int) = work.resolve(s"out-$i").toString
  private def lineagePath(i: Int) = work.resolve(s"lineage-$i").toString
  private var lastReportDocs = 0L

  /** A fresh run id, output and lineage path per pass: a reused lineage
    * path would resume, anti-join every bucket away and time a no-op.
    */
  def pass(spark: SparkSession, i: Int, tr: Option[Tracer]): Double = {
    val cfg = ExtractJob.Config(s"perfbench-$i", inputPath, outPath(i), lineagePath(i), spec)
    val t0 = System.nanoTime()
    val report = tr match {
      case Some(t) => t.span("job.run")(ExtractJob.run(spark, cfg))
      case None => ExtractJob.run(spark, cfg)
    }
    val s = (System.nanoTime() - t0) / 1e9
    require(report.attempt == 1, s"pass $i resumed (attempt ${report.attempt})")
    lastReportDocs = report.nDocs
    s
  }

  /** Every golden url and every output row: a missing, extra or repeated
    * url, an error row, or a text or span difference is a failure. A run
    * whose report disagrees with the corpus row count fails by the gap.
    */
  def check(spark: SparkSession, i: Int, out: Outcome): Unit = {
    import spark.implicits._
    val got = Tables.readExtracted(spark, outPath(i)).as[ExtractedRow].collect()
    val seen = mutable.HashSet.empty[String]
    val bad = mutable.ArrayBuffer.empty[String]
    got.foreach { r =>
      val ok = seen.add(r.url) && r.error.isEmpty &&
        golden.get(r.url).contains((r.text, r.spans))
      if (!ok) bad += r.url
    }
    val missing = golden.keysIterator.filterNot(seen).toSeq
    val reportGap = math.abs(lastReportDocs - golden.size)
    out.add(got.length + missing.size, bad.size + missing.size + reportGap,
      (bad ++ missing).toSeq ++
        (if (reportGap > 0) Seq(s"pass $i: RunReport.nDocs=$lastReportDocs, corpus=${golden.size}") else Nil))
  }

  def release(i: Int): Unit = {
    Main.deleteTree(work.resolve(s"out-$i"))
    Main.deleteTree(work.resolve(s"lineage-$i"))
  }

  // ---- traced-run layer probes -------------------------------------------

  def probe(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val payloads = this.payloads.toArray
    threaded(payloads, 1) // untraced: the kernel's one-thread code paths warm up first
    kernelPhases(tr, payloads)
    val t1 = kernelCalls(tr, payloads)
    val t4 = tr.span("kernel.t4")(threaded(payloads, Main.Cores))
    val t1DocsPerS = payloads.length / t1
    val t4DocsPerS = payloads.length / t4
    val kernel = kernelMetrics(tr, payloads) ++ Map(
      "kernel.t1_docs_per_s" -> t1DocsPerS,
      "kernel.t4_docs_per_s" -> t4DocsPerS,
      "kernel.scaling_eff" -> t4DocsPerS / (Main.Cores * t1DocsPerS))
    kernel ++ jobProbes(spark, tr, payloads.length / t4DocsPerS)
  }

  /** Single thread, per phase: open (xref, objects, page tree, content
    * decode) and interpretation for PDF; decode and parse-to-text for
    * HTML, plus the tree parse alone.
    */
  private def kernelPhases(tr: Tracer, payloads: Array[Array[Byte]]): Unit = {
    val inflater = new java.util.zip.Inflater()
    tr.span("kernel.phases") {
      payloads.foreach { b =>
        if (PdfExtractor.isPdf(b)) {
          try {
            val (doc, contents) = tr.span("pdf.open") {
              val d = new PdfDocument(b, inflater)
              (d, d.pages.map(p => (p, d.pageContent(p))))
            }
            tr.span("pdf.interp") {
              val fonts = mutable.Map.empty[PdfObj, FontInfo]
              val warns = mutable.LinkedHashSet.empty[String]
              contents.foreach { case (p, c) =>
                if (c.nonEmpty) ContentInterp.runPage(doc, c, p.resources, fonts, warns)
              }
            }
          } catch { case NonFatal(_) => () }
        } else {
          val s = tr.span("html.decode")(HtmlParser.decodeBytes(b))
          tr.span("html.parse")(HtmlParser.parse(s))
          tr.span("html.from_string")(HtmlExtractor.extractFromString(s))
        }
      }
    }
  }

  /** Single thread, one whole-document call per doc; returns seconds. */
  private def kernelCalls(tr: Tracer, payloads: Array[Array[Byte]]): Double = {
    val inflater = new java.util.zip.Inflater()
    val t0 = System.nanoTime()
    tr.span("kernel.t1") {
      payloads.foreach { b =>
        if (PdfExtractor.isPdf(b)) {
          try {
            val r = tr.span("pdf.extract")(PdfExtractor.extract(b, inflater))
            if (r.warns.nonEmpty) pdfWarns += 1
          } catch { case NonFatal(_) => pdfErrors += 1 }
        } else tr.span("html.extract")(HtmlExtractor.extract(b))
      }
    }
    (System.nanoTime() - t0) / 1e9
  }
  private var pdfWarns = 0
  private var pdfErrors = 0

  /** The same per-row call `ExtractJob` makes, on `threads` threads that
    * each own an `ExtractCtx`; returns seconds.
    */
  private def threaded(payloads: Array[Array[Byte]], threads: Int): Double = {
    val tables = ExtractJob.broadcastTables
    val ctx = ThreadLocal.withInitial(() => new ExtractJob.ExtractCtx(tables))
    val t0 = System.nanoTime()
    Par.foreach(payloads.length, threads)(i => ctx.get.extract(BucketedRow(0, "", payloads(i))))
    (System.nanoTime() - t0) / 1e9
  }

  private def kernelMetrics(tr: Tracer, payloads: Array[Array[Byte]]): Map[String, Double] = {
    val (pdf, html) = payloads.partition(PdfExtractor.isPdf)
    def mbPerS(bytes: Array[Array[Byte]], span: String) =
      if (bytes.isEmpty) 0.0 else bytes.map(_.length.toLong).sum / 1e6 / tr.total(span)
    val phaseSum = Seq("pdf.open", "pdf.interp", "html.decode", "html.from_string").map(tr.total).sum
    Map(
      "pdf.docs" -> pdf.length.toDouble,
      "pdf.open_us_p50" -> Stats.pct(tr.micros("pdf.open"), 50),
      "pdf.open_us_p99" -> Stats.pct(tr.micros("pdf.open"), 99),
      "pdf.interp_us_p50" -> Stats.pct(tr.micros("pdf.interp"), 50),
      "pdf.interp_us_p99" -> Stats.pct(tr.micros("pdf.interp"), 99),
      "pdf.extract_us_p50" -> Stats.pct(tr.micros("pdf.extract"), 50),
      "pdf.extract_us_p99" -> Stats.pct(tr.micros("pdf.extract"), 99),
      "pdf.mb_per_s" -> mbPerS(pdf, "pdf.extract"),
      "pdf.errors" -> pdfErrors.toDouble,
      "pdf.warns" -> pdfWarns.toDouble,
      "html.docs" -> html.length.toDouble,
      "html.decode_us_p50" -> Stats.pct(tr.micros("html.decode"), 50),
      "html.parse_us_p50" -> Stats.pct(tr.micros("html.parse"), 50),
      "html.parse_us_p99" -> Stats.pct(tr.micros("html.parse"), 99),
      "html.extract_us_p50" -> Stats.pct(tr.micros("html.extract"), 50),
      "html.extract_us_p99" -> Stats.pct(tr.micros("html.extract"), 99),
      "html.mb_per_s" -> mbPerS(html, "html.extract"),
      "kernel.phase_sum_frac" -> phaseSum / tr.total("kernel.t1"),
      "self.kernel_phases_s" -> tr.selfSeconds(tr.named("kernel.phases").head),
      "self.kernel_t1_s" -> tr.selfSeconds(tr.named("kernel.t1").head))
  }

  /** `ExtractJob.plan` into the noop sink and into `count()`, then
    * `Tables.writeBucketed` over the persisted plan output. What the
    * traced `ExtractJob.run` spends beyond plan_noop and the write is the
    * residual: persist, metrics aggregate, lineage read and append.
    * `kernelS` is the 4-thread kernel time.
    */
  private def jobProbes(spark: SparkSession, tr: Tracer, kernelS: Double): Map[String, Double] = {
    val input = Tables.read(spark, inputPath)
    tr.span("job.plan_noop") {
      ExtractJob.plan(spark, input, null, spec).write.format("noop").mode("overwrite").save()
    }
    tr.span("job.plan_count")(ExtractJob.plan(spark, input, null, spec).count())
    val out = work.resolve("out-probe")
    tr.span("io.probe") {
      val extracted = ExtractJob.plan(spark, Tables.read(spark, inputPath), null, spec)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tr.span("job.materialize")(extracted.count())
        tr.span("io.write")(Tables.writeBucketed(extracted.toDF(), out.toString))
      } finally extracted.unpersist(blocking = true)
    }
    val written = sizeOf(out)
    Main.deleteTree(out)
    val noop = tr.total("job.plan_noop")
    val write = tr.total("io.write")
    val run = Stats.median(tr.seconds("job.run"))
    Map(
      "job.runs_probed" -> 1.0,
      "job.plan_noop_s" -> noop,
      "job.plan_count_s" -> tr.total("job.plan_count"),
      "job.spark_overhead_s" -> (noop - kernelS),
      "job.run_residual_s" -> (run - noop - write),
      "job.layer_sum_frac" -> (noop + write) / run,
      "self.io_probe_s" -> tr.selfSeconds(tr.named("io.probe").head),
      "io.write_s" -> write,
      "io.write_mb_per_s" -> written / 1e6 / write)
  }

  private def sizeOf(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
