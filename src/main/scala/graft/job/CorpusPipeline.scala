package graft.job

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Pii, Sampling, Similarity, TextAnalysis, Urls}

/** The composed LLM-training-data flagship (VERDICT r5 "next" #1):
  * extraction output → URL canonicalization → exact text dedup →
  * near-dup LSH clustering → kept-document set, with per-stage counts.
  *
  * A 100 TB crawl user runs this CHAIN, not the stages in isolation —
  * and composition is exactly where partitioning and lineage mistakes
  * hide (the d9 lazy-cache lesson: an iterative stage whose input plan
  * re-embeds three upstream stages re-executes them every round).
  * Hence the same `checkpoint` seam as `nearDupClusters`: every stage
  * boundary is materialized once; stage counts are scalar actions over
  * the materialized frames (no data to the driver). Cluster callers
  * inject reliable `_.checkpoint()`.
  *
  * Scale shape: each stage is one hash-aggregate or equi-join on a
  * key — `min_by` aggregates pick the canonical row without any window
  * exchange; the LSH stage carries `maxBandBucket` skew caps; the
  * final anti-join shuffles on url (AQE decides the strategy from the
  * loser side's runtime size).
  */
object CorpusPipeline {

  /** kept: one row per retained (url, text); stages: (stage, n_rows)
    * counts in pipeline order, a queryable no-silent-drop record.
    * `neardupConverged`/`neardupRounds` surface the clustering stage's
    * convergence BY VALUE (ADVICE r5: an unconverged propagation means
    * partially-merged labels and must be observable, never a log line
    * a 100 TB job scrolls past).
    */
  final case class Result(kept: DataFrame, stages: DataFrame,
                          neardupConverged: Boolean, neardupRounds: Int)

  /** Deterministic crawl-style republications over an extracted
    * (url, text) table, so every pipeline stage demonstrably fires on
    * synthetic corpora whose urls/texts are otherwise unique: a
    * tracking-param re-crawl (canonical-URL collapse), a mirrored copy
    * (exact-text collapse), and an appended-boilerplate variant
    * (near-dup collapse). Slice membership is url-hash based (stable
    * under repartitioning). Shared by the x7 driver query and the
    * `curate_kb` workload of `perfbench/`.
    */
  def plantRepublications(ext: DataFrame): DataFrame = {
    def slice(m: Int) = ext.filter(pmod(xxhash64(col("url")), lit(m)) === 0)
    ext
      .unionByName(slice(17).select(
        concat(col("url"), lit("?utm_source=rss&fbclid=x")).as("url"), col("text")))
      .unionByName(slice(19).select(
        concat(col("url"), lit(".mirror")).as("url"), col("text")))
      .unionByName(slice(23).select(
        concat(col("url"), lit("~amp")).as("url"),
        concat(col("text"), lit(" via mobile reader")).as("text")))
  }

  // Fixed stage settings; no caller tunes them (the WIDE gate and d12
  // are described on `run`). Word 5-gram minhash, 32 hashes, 8 bands:
  private val (k, numHashes, bands, minEstJaccard) = (5, 32, 8, 0.5)
  private val (maxBandBucket, maxIter) = (Dedup.DefaultMaxBandBucket, 10)
  private val (minTokens, maxTokens, maxPunctRatio, minQuality) = (5L, 10000000L, 0.3, 0.0)
  private val (decontamN, maxContamFrac) = (8, 0.0) // 0.0: any shared gram drops
  private val (semDedupMinCos, semDedupMaxCell) = (0.92, 10000)

  /** `extracted` needs columns (url: string, text: string); rows with
    * NULL text (failed extractions) are dropped as stage 0.
    *
    * Quality-gate thresholds default WIDE (reject only degenerate
    * documents): the gate's job inside the pipeline is dropping empty/
    * garbage extractions before they pay dedup cost, not corpus
    * curation — q20 is the tunable curation surface. Per-row gate
    * arithmetic is the cheapest stage, so it runs FIRST.
    *
    * `maxDupLineFrac` < 1.0 additionally rejects boilerplate-repetitive
    * documents at the gate (Gopher-style duplicate-line fraction from
    * the single-pass `RepetitionStats` expression; 1.0 = disabled since
    * the fraction never exceeds 1). `scrubPii = true` replaces
    * email/IP/phone matches in the KEPT texts with class tokens —
    * scrubbing runs after dedup on purpose: rewriting text earlier
    * would perturb the exact-dedup digests and minhash grams for
    * documents that differ only in their PII spellings.
    *
    * `boilerplateLineMinDocs` (r6, opt-in) runs d10 cross-corpus
    * boilerplate LINE removal right after the gate and BEFORE the
    * dedup stages on purpose: stripping shared banners first lets
    * exact dedup collapse documents that differed ONLY in their
    * boilerplate — running it later would leave them distinct.
    * Document count is unchanged (texts are rewritten, all-boilerplate
    * docs survive empty), so the stage list keeps its shape; the
    * effect is visible in the 4_exact_dedup collapse.
    *
    * `maxDocsPerHost` (r6, opt-in) applies the q23 per-host cap to the
    * SURVIVOR set (after near-dup clustering, before the PII scrub) —
    * duplicates must not count against a host's budget. Uses the
    * codegen'd xxhash64 rank (`Urls.xxRank`); adds a `6_host_cap`
    * stage row when enabled.
    *
    * `repairMojibake` (r6, opt-in) runs the q25 double-encoded-UTF-8
    * repair on input texts BEFORE the gate and the dedup stages on
    * purpose: a page crawled once clean and once through a cp1252
    * mis-decode is the same document, and only repairing FIRST lets
    * exact dedup see the same digest (mirrors the d10-before-dedup
    * rationale). The repair is a per-row codegen'd expression — no
    * extra shuffle, it rides the input projection.
    *
    * `decontamBench` (r6, opt-in) drops SURVIVORS sharing more than
    * `maxContamFrac` of their distinct word `decontamN`-gram windows
    * with the given benchmark/eval table (d12; GPT-3-style eval
    * decontamination). Runs near the END on purpose: the benchmark
    * digest set broadcasts, so the check is cheapest after dedup/caps
    * shrank the corpus side. Adds a `7_decontam` stage row.
    *
    * `sampleByLang` (r6, opt-in) applies the q24 deterministic
    * stratified sampler to the final survivors, stratified by the
    * codegen'd langid of each text and keyed on url with the xxhash64
    * rank — per-language corpus mixing as the last pipeline step.
    * Adds an `8_sample` stage row.
    *
    * `semDedupEmbeddings` (r6c, opt-in) runs s7 SemDeDup over the
    * near-dup survivors given an (url, embedding: array<float>) table:
    * SEMANTIC duplicates — same meaning, different words — that the
    * lexical exact/minhash stages cannot see. Placed AFTER near-dup
    * clustering (the lexical stages already removed cheap duplicates,
    * so the embedding join and pair search run on the smallest set)
    * and BEFORE the host cap (semantic dups must not count against a
    * host's budget, mirroring the near-dup rationale). "Lower id
    * wins" on the url key matches the pipeline's canonical-min-url
    * convention everywhere else. Survivors WITHOUT an embedding row
    * are kept unconditionally — a missing embedding must never delete
    * a document. Adds a `5b_semdedup` stage row.
    */
  def run(extracted: DataFrame,
          maxDupLineFrac: Double = 1.0, scrubPii: Boolean = false,
          boilerplateLineMinDocs: Option[Int] = None,
          maxDocsPerHost: Option[Int] = None,
          repairMojibake: Boolean = false,
          decontamBench: Option[DataFrame] = None,
          sampleByLang: Option[Map[String, Double]] = None,
          semDedupEmbeddings: Option[DataFrame] = None,
          semDedupCells: Int = 16,
          checkpoint: DataFrame => DataFrame = _.localCheckpoint()): Result = {
    val spark = extracted.sparkSession

    val input0 = extracted.select(col("url"), col("text")).filter(col("text").isNotNull)
    val input = checkpoint(
      if (repairMojibake)
        input0.withColumn("text",
          graft.functions.GraftFunctions.fixMojibake(col("text")))
      else input0)

    // cheap per-row quality gate before any shuffle: degenerate
    // documents must not pay canonicalization/minhash cost
    val passQuality = TextAnalysis.qualityReason(col("text"),
      minTokens, maxTokens, maxPunctRatio, minQuality) === "0_kept"
    val passRepetition =
      if (maxDupLineFrac >= 1.0) lit(true)
      else graft.functions.GraftFunctions.repStats(col("text"))
        .getItem(0) <= maxDupLineFrac
    val gated0 = checkpoint(input.filter(passQuality && passRepetition))

    // opt-in d10: strip corpus-frequent lines BEFORE dedup so banner-
    // only differences collapse in the exact stage
    val gated = boilerplateLineMinDocs match {
      case Some(m) =>
        checkpoint(Dedup.dropBoilerplateLines(gated0, m, idCol = "url"))
      case None => gated0
    }

    // one row per canonical URL (tracking params / case / ports / %enc
    // collapse); min_by picks the lexicographically-first raw url as
    // the canonical carrier — a hash-agg, not a window
    val byUrl = checkpoint(
      gated.groupBy(Urls.canonicalize(col("url")).as("url_canon"))
        .agg(min_by(struct(col("url"), col("text")), col("url")).as("r"))
        .select(col("r.url").as("url"), col("r.text").as("text")))

    // exact content dedup on the text digest
    val byText = checkpoint(
      byUrl.groupBy(md5(col("text")).as("content_hash"))
        .agg(min_by(struct(col("url"), col("text")), col("url")).as("r"))
        .select(col("r.url").as("url"), col("r.text").as("text")))

    // near-dup families: LSH candidate pairs → connected components;
    // every non-canonical member is dropped (cluster_id = min url).
    // WORD k-gram minhash: real extracted web text is tens of KB/doc,
    // so char shingles explode ~bytes rows/doc where word grams
    // explode ~words — the order-of-magnitude difference that decides
    // whether the explode is shippable at 100 TB (measured here:
    // 25.7 s → 3 s on the sf-small extraction output)
    // pairs stage runs WITHOUT its own bucket checkpoint (identity):
    // byText is materialized one op upstream, so re-deriving the
    // single-pass word-gram signatures for the cap aggregate + join
    // (ReuseExchange shares the join sides) is cheaper than storing
    // the bands×-signature bucket table — measured at 231k docs:
    // 22.5 s vs 35.6 s dedup chain (r7; see minhashPairs doc)
    val pairs = Dedup.minhashPairs(
      byText.select(col("url").as("doc_id"), col("text")),
      k, numHashes, bands, minEstJaccard, maxBandBucket, wordGrams = true,
      checkpoint = identity)
    val (labels, converged, rounds) =
      Dedup.nearDupClustersStatus(pairs, maxIter, checkpoint)
    val losers = labels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("url"))
    val deduped = checkpoint(byText.join(losers, Seq("url"), "left_anti"))
    // opt-in s7: SEMANTIC dedup over the lexical survivors — docs
    // without an embedding row never enter the prune (inner join),
    // so they are kept unconditionally
    val semDeduped = semDedupEmbeddings match {
      case Some(embTable) =>
        // NULL embedding VALUES are excluded like missing rows (r7,
        // ADVICE): size(NULL) made the dim probe NPE and a null vector
        // would reach the quantizer — such docs are kept
        // unconditionally, the same policy as docs with no embedding
        val emb = deduped.select("url")
          .join(embTable.select(col("url"), col("embedding"))
            .filter(col("embedding").isNotNull), Seq("url"))
        // dim from one bounded row (embeddings are fixed-width)
        emb.select(size(col("embedding"))).limit(1).collect().headOption match {
          case Some(r) =>
            val dim = r.getInt(0)
            // cells is a config seam: nCells must grow with the corpus
            // (cell population ≈ corpus/nCells must stay under maxCell
            // or the skew guard neutralizes the whole stage)
            val drops = Similarity.semDedup(emb, dim,
                minCos = semDedupMinCos, nCells = semDedupCells,
                maxCell = semDedupMaxCell, idCol = "url")
              .filter(!col("kept")).select("url")
            checkpoint(deduped.join(drops, Seq("url"), "left_anti"))
          case None => deduped // no survivor has an embedding
        }
      case None => deduped
    }
    // opt-in q23: per-host budget over the SURVIVORS (dups don't count
    // against a host); xxhash64 rank — deterministic, no window
    val keptRaw = maxDocsPerHost match {
      case Some(cap) =>
        checkpoint(Urls.capPerDomain(semDeduped, cap, rank = Urls.xxRank))
      case None => semDeduped
    }
    // opt-in d12: eval-set decontamination over the survivors — the
    // benchmark gram digests broadcast, survivors' grams never shuffle
    val decontamed = decontamBench match {
      case Some(bench) =>
        val bad = Dedup.contaminationStats(
          keptRaw.select(col("url").as("doc_id"), col("text")), bench, decontamN)
          .filter(col("contam_frac") > maxContamFrac)
          .select(col("doc_id").as("url"))
        checkpoint(keptRaw.join(bad, Seq("url"), "left_anti"))
      case None => keptRaw
    }
    // opt-in q24: per-language mixing rates over the final set — a
    // pure deterministic filter (langid + xxhash64 rank, both codegen'd)
    val sampled = sampleByLang match {
      case Some(rates) =>
        checkpoint(Sampling.stratifiedSample(
          decontamed.withColumn("lang",
            graft.functions.GraftFunctions.langid(col("text"))),
          rates, strataCol = "lang", keyCol = "url", rank = Urls.xxRank)
          .drop("lang"))
      case None => decontamed
    }
    // post-dedup projection: counts below are over the deduped set,
    // the scrub only rewrites the emitted text column
    val kept =
      if (scrubPii) sampled.withColumn("text", Pii.scrub(col("text")))
      else sampled

    // scalar counts over materialized frames — bounded driver data.
    // ONE action for all stages (r7): every frame is checkpointed, so
    // a union of per-stage count aggregates collapses 5–8 count jobs
    // into a single job of trivial branches; values are identical.
    val countFrames: Seq[(String, DataFrame)] = Seq(
      ("1_input", input),
      ("2_quality_kept", gated),
      ("3_url_canon_dedup", byUrl),
      ("4_exact_dedup", byText),
      ("5_neardup_kept", deduped)) ++
      (if (semDedupEmbeddings.isDefined) Seq(("5b_semdedup", semDeduped))
       else Seq.empty) ++
      (if (maxDocsPerHost.isDefined) Seq(("6_host_cap", keptRaw))
       else Seq.empty) ++
      (if (decontamBench.isDefined) Seq(("7_decontam", decontamed))
       else Seq.empty) ++
      (if (sampleByLang.isDefined) Seq(("8_sample", sampled))
       else Seq.empty)
    val collected = countFrames
      .map { case (n, df) =>
        df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("stage"), col("n_rows"))
      }
      .reduce(_.unionByName(_))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = countFrames.map { case (n, _) => (n, collected(n)) }
    import scala.jdk.CollectionConverters._
    val stages = spark.createDataFrame(
      counts.map { case (n, c) => org.apache.spark.sql.Row(n, c) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("stage",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = false))))
    Result(kept, stages, converged, rounds)
  }
}
