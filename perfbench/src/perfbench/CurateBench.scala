package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.job.CorpusPipeline
import graft.ops.Urls

final case class CurateRow(url: String, text: String)

/** `curate_kb`: `CorpusPipeline.run` over (url, text) rows whose text is
  * the generator's expected extraction output, with the pipeline's own
  * planted republications. No PDF/HTML kernel runs. Each kept set is
  * checked against the dedup invariants.
  */
final class CurateBench(work: Path, offset: Long, n: Int, paraScale: Int) extends Bench {
  private val inputPath = work.resolve("input").toString
  private var base: Seq[(String, String)] = Nil
  private var rows: Seq[(String, String)] = Nil
  private var input = Map.empty[String, String]
  private var planted = Set.empty[String]
  private val results = mutable.Map.empty[Int, CorpusPipeline.Result]
  private val removedFrac = mutable.ArrayBuffer.empty[Double]
  private var lastStages = Map.empty[String, Long]
  private var lastRounds = 0

  def docs: Long = input.size
  def inputMb: Double = input.valuesIterator.map(_.getBytes("UTF-8").length.toLong).sum / 1e6
  def layers: Seq[Seq[String]] = Seq(Main.OpsLayer)
  def facts: Map[String, Any] = Map("docs" -> n, "para_scale" -> paraScale,
    "input_rows" -> input.size, "text_mb" -> inputMb, "planted_rows" -> planted.size)

  def generate(): Unit =
    base = Gen.docs(Gen.ids(offset, n), paraScale).map(d => (d.url, d.expectedText)).toSeq

  /** The input table: the base rows plus the pipeline's own planted
    * republications.
    */
  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    val baseDf = spark.createDataset(base).toDF("url", "text")
    rows = CorpusPipeline.plantRepublications(baseDf).as[(String, String)].collect()
      .sortBy(_._1).toSeq
    input = rows.toMap
    planted = input.keySet -- base.map(_._1)
    Gen.write[CurateRow](spark, rows.map { case (u, t) => CurateRow(u, t) }, _.text.length.toLong,
      inputPath)
  }

  def pass(spark: SparkSession, i: Int, tr: Option[Tracer]): Double = {
    val in = spark.read.parquet(inputPath)
    val t0 = System.nanoTime()
    results(i) = tr match {
      case None => CorpusPipeline.run(in)
      case Some(t) =>
        // each stage boundary is a localCheckpoint, as by default; the
        // span covers it, and the stage counts follow the last one
        t.span("ops.pipeline") {
          val r = CorpusPipeline.run(in,
            checkpoint = df => t.span("ops.checkpoint")(df.localCheckpoint()))
          t.record("ops.counts", t.named("ops.checkpoint").last.endNs, System.nanoTime())
          r
        }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** kept ⊆ input; no two kept rows share a canonical url or a text;
    * stage row counts never rise.
    */
  def check(spark: SparkSession, i: Int, out: Outcome): Unit = {
    import spark.implicits._
    val res = results(i)
    val kept = res.kept.select(col("url"), col("text"), Urls.canonicalize(col("url")))
      .as[(String, String, String)].collect()
    def repeats(keys: Seq[String]): Int = keys.size - keys.distinct.size
    val notInput = kept.collect { case (u, t, _) if !input.get(u).contains(t) => u }.toSeq
    val canonDups = repeats(kept.map(_._3).toSeq)
    val textDups = repeats(kept.map(_._2).toSeq)
    val stageRows = res.stages.as[(String, Long)].collect().sortBy(_._1)
    val rising = stageRows.sliding(2).collect {
      case Array((a, x), (b, y)) if y > x => s"pass $i: stage rows rose $a->$b"
    }.toSeq
    out.add(kept.length, notInput.size + canonDups + textDups + rising.size, notInput ++
      (if (canonDups > 0) Seq(s"pass $i: $canonDups kept rows share a canonical url") else Nil) ++
      (if (textDups > 0) Seq(s"pass $i: $textDups kept rows share a text") else Nil) ++ rising)
    removedFrac += 1.0 - (planted & kept.map(_._1).toSet).size.toDouble / planted.size
    lastStages = stageRows.toMap
    lastRounds = res.neardupRounds
  }

  def release(i: Int): Unit = results.remove(i)

  /** Stage spans of the traced passes, by boundary order: input, gate,
    * url_canon, exact, LSH edges, one per cluster round, anti-join.
    */
  def probe(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val perPass = tr.named("ops.pipeline").map { root =>
      val cps = tr.children(root).filter(_.name == "ops.checkpoint").map(_.seconds)
      Map(
        "ops.input_s" -> cps(0), "ops.gate_s" -> cps(1), "ops.url_canon_s" -> cps(2),
        "ops.exact_s" -> cps(3), "ops.lsh_edges_s" -> cps(4),
        "ops.cluster_round_s" -> cps.slice(5, cps.size - 1).sum,
        "ops.antijoin_s" -> cps.last,
        "ops.counts_s" -> tr.children(root).filter(_.name == "ops.counts").map(_.seconds).sum,
        "self.ops_pipeline_s" -> tr.selfSeconds(root))
    }
    Stats.medians(perPass) ++ Map(
      "ops.runs" -> perPass.size.toDouble,
      "ops.rounds" -> lastRounds.toDouble,
      "ops.rows.input" -> lastStages("1_input").toDouble,
      "ops.rows.quality_kept" -> lastStages("2_quality_kept").toDouble,
      "ops.rows.url_canon" -> lastStages("3_url_canon_dedup").toDouble,
      "ops.rows.exact" -> lastStages("4_exact_dedup").toDouble,
      "ops.rows.neardup_kept" -> lastStages("5_neardup_kept").toDouble,
      "ops.dup_removed_frac" -> Stats.median(removedFrac.toSeq))
  }
}
