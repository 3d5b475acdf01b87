package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.CorpusTables
import graft.job.{ExtractJob, Partitioning}

/** End-to-end Spark suites (SURVEY.md §5.5): golden byte-equality
  * through the full Catalyst plan, resume idempotency with an injected
  * failure, executed-plan shape assertions, P-independence.
  */
class ExtractJobE2ESpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_e2e").toString

  private lazy val paths: (String, String) = {
    val dir = tmpDir()
    CorpusTables.ensure(spark, dir, 300)
  }

  test("golden e2e: full Spark plan output is byte-identical per url") {
    val (cp, gp) = paths
    val corpus = spark.read.parquet(cp)
    val golden = spark.read.parquet(gp)
    val out = ExtractJob.plan(spark, corpus, null, Partitioning.defaultSpec(4)).toDF()
    val joined = out.join(golden, "url")
    val total = joined.count()
    assert(total == 300)
    val mismatch = joined.filter(col("text") =!= col("expected_text") ||
      col("error").isNotNull).count()
    assert(mismatch == 0, s"$mismatch docs mismatch golden")
    // spans deep-equality
    val spanBad = joined.filter(col("spans") =!= col("expected_spans")).count()
    assert(spanBad == 0, s"$spanBad docs have span mismatches")
  }

  test("resume: injected wave failure -> rerun completes idempotently") {
    import spark.implicits._
    val (cp, _) = paths
    val dir = tmpDir()
    val spec = Partitioning.BucketSpec(buckets = 8, bigDocBytes = 4L << 20, bigBuckets = 2)
    val cfg = ExtractJob.Config("run1", cp, s"$dir/out", s"$dir/lineage", spec,
      waves = 4, failBucketOnce = 6) // bucket 6 is in wave 2 (6 % 4)
    // attempt 1: waves 0 and 1 commit, wave 2 dies on bucket 6
    val failed = intercept[Exception] { ExtractJob.run(spark, cfg) }
    assert(failed != null)
    val lineage1 = spark.read.parquet(s"$dir/lineage")
    val doneBuckets1 = lineage1.filter($"status" === "done")
      .select("bucket").distinct().as[Int].collect().toSet
    assert(doneBuckets1.nonEmpty, "some buckets must have committed before the failure")
    assert(!doneBuckets1.contains(6), "failed bucket must not be marked done")
    // attempt 2: resumes, reruns only the missing buckets
    val report2 = ExtractJob.run(spark, cfg)
    assert(report2.attempt == 2)
    assert(report2.bucketsDone.forall(b => !doneBuckets1.contains(b)),
      "attempt 2 must not redo committed buckets")
    // final output equals a clean single run, byte for byte
    val resumed = spark.read.parquet(s"$dir/out")
      .select("url", "kind", "text").orderBy("url")
    val cleanDir = tmpDir()
    val cleanCfg = ExtractJob.Config("clean", cp, s"$cleanDir/out", s"$cleanDir/lineage", spec)
    ExtractJob.run(spark, cleanCfg)
    val clean = spark.read.parquet(s"$cleanDir/out")
      .select("url", "kind", "text").orderBy("url")
    assert(resumed.except(clean).count() == 0 && clean.except(resumed).count() == 0)
    // lineage bookkeeping: every bucket exactly one `done` row
    val lineage2 = spark.read.parquet(s"$dir/lineage").filter($"status" === "done")
    val dupDone = lineage2.groupBy("bucket").count().filter($"count" > 1).count()
    assert(dupDone == 0, "a bucket must be marked done exactly once")
  }

  test("lineage: startedAt/finishedAt bracket each bucket's extraction and write") {
    import spark.implicits._
    val (cp, _) = paths
    val dir = tmpDir()
    val cfg = ExtractJob.Config("timed", cp, s"$dir/out", s"$dir/lineage",
      Partitioning.BucketSpec(buckets = 4, bigDocBytes = 4L << 20, bigBuckets = 1))
    ExtractJob.run(spark, cfg)
    val lineage = spark.read.parquet(s"$dir/lineage")
      .select("bucket", "startedAt", "finishedAt").as[(Int, Long, Long)].collect()
    assert(lineage.nonEmpty)
    lineage.foreach { case (b, startedAt, finishedAt) =>
      // data files only: skip Spark's hidden .crc and _SUCCESS files
      val files = new java.io.File(s"$dir/out/bucket=$b").listFiles()
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      assert(files.nonEmpty, s"bucket $b has no data files")
      files.foreach { f =>
        val m = f.lastModified()
        assert(startedAt <= m && m <= finishedAt,
          s"bucket $b: ${f.getName} written at $m, outside lineage [$startedAt, $finishedAt]")
      }
    }
  }

  test("plan shape: exactly one exchange on the data path, pruned scan") {
    val (cp, _) = paths
    val corpus = spark.read.parquet(cp)
    val ds = ExtractJob.plan(spark, corpus, null, Partitioning.defaultSpec(4))
    val plan = ds.queryExecution.executedPlan.toString
    // shuffles print as `Exchange hashpartitioning(...)`; broadcast
    // exchanges print as `BroadcastExchange` and don't count
    val exchanges = "(?m)\\bExchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in:\n$plan")
    // column pruning reached the scan: text/lang/warc_ts must not be read
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("url") && scanLine.contains("html"), scanLine)
    assert(!scanLine.contains("warc_ts") && !scanLine.contains("lang"), scanLine)
  }

  test("corrupt payloads become error rows; the job never dies") {
    import spark.implicits._
    val (cp, _) = paths
    val corpus = spark.read.parquet(cp)
    // corrupt every 5th payload: truncate + flip a byte (keeps %PDF- magic)
    val corrupted = corpus.map { r =>
      val url = r.getAs[String]("url")
      val html = r.getAs[Array[Byte]]("html")
      val id = url.substring(url.lastIndexOf('/') + 1).toLong
      val payload =
        if (id % 5 == 0 && html.length > 60) {
          val cut = java.util.Arrays.copyOf(html, html.length / 2)
          cut(40) = 0x7F.toByte
          cut
        } else html
      (url, payload)
    }.toDF("url", "html")
    val out = ExtractJob.plan(spark, corrupted, null, Partitioning.defaultSpec(4)).toDF()
    val total = out.count()
    assert(total == 300, "every row must produce an output row")
    val errs = out.filter(col("kind") === "error")
    assert(errs.count() > 0, "corrupted docs must surface as error rows")
    assert(errs.filter(col("error").isNull).count() == 0)
    // untouched rows still extract
    assert(out.filter(col("kind") =!= "error").count() > 200)
  }

  test("metamorphic: extraction independent of bucket count and input order") {
    import spark.implicits._
    val (cp, _) = paths
    val corpus = spark.read.parquet(cp)
    def runWith(spec: Partitioning.BucketSpec, df: org.apache.spark.sql.DataFrame) =
      ExtractJob.plan(spark, df, null, spec).toDF()
        .select("url", "text").orderBy("url").as[(String, String)].collect().toSeq
    val a = runWith(Partitioning.BucketSpec(8, 4L << 20, 2), corpus)
    val b = runWith(Partitioning.BucketSpec(32, 1L << 10, 8), corpus)
    val c = runWith(Partitioning.BucketSpec(8, 4L << 20, 2),
      corpus.orderBy(rand(seed = 7)))
    assert(a == b, "bucket-count invariance violated")
    assert(a == c, "row-order invariance violated")
  }

  test("readExtracted: pre-warn output files read as warn=null (schema migration)") {
    import spark.implicits._
    val (cp, _) = paths
    val dir = tmpDir()
    val out = s"$dir/out"
    val spec = Partitioning.BucketSpec(4, 4L << 20, 1)
    val full = ExtractJob.plan(spark, spark.read.parquet(cp).limit(40), null, spec).toDF()
    // wave 1 written by a pre-r3 build: same table dir, NO warn column
    graft.io.Tables.append(full.filter(col("bucket") < 2).drop("warn"), out)
    // wave 2 written by the current build (warn present)
    graft.io.Tables.append(full.filter(col("bucket") >= 2), out)
    val back = graft.io.Tables.readExtracted(spark, out)
    assert(back.count() == full.count(), "mixed-schema table lost rows")
    assert(back.columns.contains("warn"), "warn column missing from explicit-schema read")
    // old-wave rows surface warn = null rather than failing the read
    assert(back.filter(col("bucket") < 2).filter(col("warn").isNotNull).count() == 0)
  }
}
