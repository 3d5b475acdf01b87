package graft.job

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Salted bucketing (SURVEY.md §2.1 P1/X1, §4.3).
  *
  * `bucket = pmod(xxhash64(url), P)` spreads documents uniformly; rows
  * with payloads above `bigDocBytes` are routed to a dedicated bucket
  * range `[P, P + bigBuckets)` so a handful of 100 MB documents cannot
  * straggle a mixed bucket — the explicit skew defusal of
  * BASELINE.json:6 ("salted repartitioning on url-hash").
  */
object Partitioning {

  final case class BucketSpec(buckets: Int, bigDocBytes: Long, bigBuckets: Int) {
    def totalBuckets: Int = buckets + bigBuckets
  }

  /** Default local spec: P = 2x cores is plenty at test scale; on a
    * 1000-executor cluster P scales with total cores (SURVEY.md §4.3).
    * Big docs get their OWN full bucket range (not a handful): with a
    * heavy tail, few big-buckets re-create the straggler the salt is
    * meant to defuse.
    */
  def defaultSpec(cores: Int): BucketSpec = {
    val p = math.max(cores * 2, 8)
    BucketSpec(buckets = p, bigDocBytes = 1L << 20, bigBuckets = p)
  }

  /** Bucket column over (url, html). `bigBuckets = 0` disables the
    * big-doc range: every doc hashes into the base buckets, unsalted.
    */
  def bucketCol(spec: BucketSpec, url: Column, html: Column): Column = {
    val base = pmod(xxhash64(url), lit(spec.buckets))
    if (spec.bigBuckets <= 0) base.cast("int")
    else {
      val big = lit(spec.buckets) + pmod(xxhash64(url), lit(spec.bigBuckets))
      when(length(html) > spec.bigDocBytes, big).otherwise(base).cast("int")
    }
  }
}
