package graft.job

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.pdf.{PdfExtractor, Glyphs}
import graft.html.HtmlExtractor

/** The extraction job (SURVEY.md §2.1, §3.2): the Spark-native
  * re-expression of the reference's worker pool.
  *
  *   SC1 scan → P1 bucket-salt → J2 resume-anti-join →
  *   X1 repartition(bucket) → M1 mapPartitions(extract) →
  *   S1 bucketed write → A1 metrics → S2 lineage append
  *
  * Executed in `waves` (bucket ranges) so a failed wave resumes
  * idempotently from the lineage table (BASELINE.json:14 "resumable
  * from checkpoint with per-partition lineage + metrics").
  */
object ExtractJob {

  final case class Config(
      runId: String,
      inputPath: String,
      outputPath: String,
      lineagePath: String,
      spec: Partitioning.BucketSpec,
      waves: Int = 1,
      /** test hook: fail tasks of this bucket on lineage attempt 1 */
      failBucketOnce: Int = -1)

  /** Per-partition arena (SURVEY.md §4.3 batch amortization): one
    * Inflater + the broadcast lookup tables for the whole partition.
    */
  final class ExtractCtx(tables: BroadcastTables) {
    private val inflater = new java.util.zip.Inflater()

    def extract(row: BucketedRow): ExtractedRow = {
      val t0 = System.nanoTime()
      val bytes = if (row.html == null) Array.empty[Byte] else row.html
      try {
        if (PdfExtractor.isPdf(bytes)) {
          val r = PdfExtractor.extract(bytes, inflater)
          ExtractedRow(row.bucket, row.url, "pdf", r.text, r.spans, r.nPages,
            r.text.length, bytes.length.toLong, ms(t0), None,
            if (r.warns.isEmpty) None else Some(r.warns.mkString(";")))
        } else {
          val r = HtmlExtractor.extract(bytes)
          ExtractedRow(row.bucket, row.url, "html", r.text, r.spans, r.nBlocks,
            r.text.length, bytes.length.toLong, ms(t0), None)
        }
      } catch {
        // NonFatal + StackOverflowError (fuzz-hardening: deep recursion on
        // hostile nesting) become per-row error records; VirtualMachineError
        // (OOM etc.) propagates so Spark fails + retries the task instead of
        // continuing on a possibly corrupted heap.
        case e: Throwable
            if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          ExtractedRow(row.bucket, row.url, "error", "", Nil, 0, 0,
            bytes.length.toLong, ms(t0), Some(msg(e)))
      }
    }

    @inline private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
    private def msg(e: Throwable): String = {
      val m = e.getMessage
      val s = if (m == null) e.getClass.getSimpleName else m
      if (s.length > 200) s.substring(0, 200) else s
    }
  }

  /** The broadcast payload (SURVEY.md §2.1 J1): immutable font/encoding
    * tables shipped to executors once per job.
    */
  final case class BroadcastTables(
      agl: Map[String, String],
      winAnsi: Array[Int],
      macRoman: Array[Int],
      standard: Array[Int])

  def broadcastTables: BroadcastTables =
    BroadcastTables(Glyphs.agl, Glyphs.winAnsi, Glyphs.macRoman, Glyphs.standard)

  /** Build the logical plan: scan → prune → bucket → anti-join done →
    * typed extract (MAP-SIDE) → repartition(bucket). Pure (no side
    * effects) — this is what SparkEntry.entry exposes and what tests
    * assert plans on.
    *
    * Extraction runs BEFORE the shuffle: parquet scan splits are
    * byte-uniform (spark.sql.files.maxPartitionBytes), and extraction
    * cost is ∝ payload bytes, so map-side extraction is naturally
    * skew-balanced; the url-hash bucket shuffle then moves only the
    * EXTRACTED rows (10–20× smaller than raw payloads on real web
    * corpora) to align the partitioned, resumable write. The bucket is
    * a pure function of (url, payload size) computed before extraction,
    * so the resume anti-join still prunes done buckets without paying
    * for their extraction.
    */
  def plan(spark: SparkSession, input: DataFrame, doneBuckets: DataFrame,
           spec: Partitioning.BucketSpec, failBucket: Int = -1): Dataset[ExtractedRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(broadcastTables)
    // prune BEFORE the typed boundary: column pruning does not reach
    // through mapPartitions (SURVEY.md §4.2)
    val pruned = input
      .withColumn("bucket", Partitioning.bucketCol(spec, col("url"), col("html")))
      .select(col("bucket"), col("url"), col("html"))
    val todo =
      if (doneBuckets == null) pruned
      else pruned.join(broadcast(doneBuckets), Seq("bucket"), "left_anti")
    todo
      .as[BucketedRow]
      .mapPartitions { it =>
        val ctx = new ExtractCtx(bc.value)
        it.map { row =>
          if (failBucket >= 0 && row.bucket == failBucket)
            throw new RuntimeException(s"injected failure for bucket ${row.bucket}")
          ctx.extract(row)
        }
      }
      .repartition(spec.totalBuckets, col("bucket"))
      .as[ExtractedRow]
  }

  final case class RunReport(attempt: Int, bucketsDone: Seq[Int], nDocs: Long,
                             nOk: Long, nErr: Long)

  /** Execute with resume + lineage. Each wave writes its buckets via
    * dynamic partition overwrite, then appends `done` lineage rows; a
    * rerun anti-joins those buckets away.
    */
  def run(spark: SparkSession, cfg: Config): RunReport = {
    import spark.implicits._
    val input = Tables.read(spark, cfg.inputPath)

    val lineage: DataFrame =
      if (Tables.exists(spark, cfg.lineagePath)) Tables.read(spark, cfg.lineagePath)
      else spark.emptyDataset[PartitionLineage].toDF()

    val prevDone = lineage
      .filter(col("runId") === cfg.runId && col("status") === "done")
      .select("bucket").distinct()
    val attempt: Int = {
      val row = lineage.filter(col("runId") === cfg.runId)
        .agg(max(col("attempt"))).collect()(0)
      (if (row.isNullAt(0)) 0 else row.getInt(0)) + 1
    }
    val failBucket = if (cfg.failBucketOnce >= 0 && attempt == 1) cfg.failBucketOnce else -1

    var allBuckets = Seq.empty[Int]
    var totDocs = 0L
    var totOk = 0L
    var totErr = 0L
    (0 until cfg.waves).foreach { w =>
      val waveInput = input.filter(
        pmod(Partitioning.bucketCol(cfg.spec, col("url"), col("html")), lit(cfg.waves)) === w)
      // Persist the wave across the two actions (write, then A1 metrics
      // agg) so extraction runs ONCE and the metrics never re-read the
      // output table — at 100 TB a read-back would be a second full
      // decode pass over everything just written (VERDICT r1 §wrong-3).
      // MEMORY_AND_DISK: spilled blocks stay local to the executor that
      // produced them; strictly cheaper than a parquet round-trip.
      val startedAt = System.currentTimeMillis() // lineage brackets extract + write
      val extracted = plan(spark, waveInput, prevDone, cfg.spec, failBucket)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Tables.writeBucketed(extracted.toDF(), cfg.outputPath)

        // A1 metrics from the in-plan wave dataset (cached blocks);
        // prevDone buckets are already anti-joined out inside plan()
        val stats = extracted.toDF()
          .groupBy("bucket")
          .agg(count(lit(1)).as("nDocs"),
            sum(when(col("error").isNull, 1L).otherwise(0L)).as("nOk"),
            sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("nErr"),
            sum(col("bytesIn")).as("bytesIn"),
            sum(col("charCount")).as("charsOut"))
          .collect()
        val rows = stats.map { r =>
          PartitionLineage(cfg.runId, r.getInt(0), "done", r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), startedAt, System.currentTimeMillis(), attempt)
        }.toSeq
        if (rows.nonEmpty) Tables.append(spark.createDataset(rows).toDF(), cfg.lineagePath)
        allBuckets ++= rows.map(_.bucket)
        totDocs += rows.map(_.nDocs).sum
        totOk += rows.map(_.nOk).sum
        totErr += rows.map(_.nErr).sum
      } finally extracted.unpersist(blocking = false)
    }
    RunReport(attempt, allBuckets, totDocs, totOk, totErr)
  }

  /** spark-submit entry point (SURVEY.md §3.2). */
  def main(args: Array[String]): Unit = {
    val Array(runId, in, out, lineagePath) = args.take(4)
    val spark = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // defaultParallelism races executor registration on cluster masters
    // (returns 2 until workers connect); parse the master string instead
    val master = spark.sparkContext.master
    val lc = "local-cluster\\[(\\d+),(\\d+),\\d+\\]".r
    val l = "local\\[(\\d+)\\]".r
    val cores = master match {
      case lc(n, c) => n.toInt * c.toInt
      case l(n) => n.toInt
      case _ => math.max(spark.sparkContext.defaultParallelism, 8)
    }
    val cfg = Config(runId, in, out, lineagePath, Partitioning.defaultSpec(cores),
      waves = args.lift(4).map(_.toInt).getOrElse(1))
    val report = run(spark, cfg)
    println(s"run=$runId attempt=${report.attempt} buckets=${report.bucketsDone.size} " +
      s"docs=${report.nDocs} ok=${report.nOk} err=${report.nErr}")
    spark.stop()
  }
}
