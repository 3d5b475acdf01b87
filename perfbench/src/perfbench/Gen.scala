package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{Encoder, SparkSession}
import graft.gen.CorpusGen

object Gen {
  /** Generator docs of the given ids, in order, on all cores. */
  def docs(ids: Seq[Long], paraScale: Int): Array[CorpusGen.GoldenDoc] = {
    val id = ids.toArray
    val out = new Array[CorpusGen.GoldenDoc](id.length)
    Par.foreach(id.length, Main.Cores)(i => out(i) = CorpusGen.doc(id(i), paraScale))
    out
  }

  /** n ids from `offset` on: the first n/100 that carry the generator's
    * 1% big-doc flag and the first n - n/100 that do not. Every seed
    * then has the same share of big docs, about a tenth of the bytes.
    * The flag is the first draw of the doc's RNG in `CorpusGen.doc`.
    */
  def ids(offset: Long, n: Int): Seq[Long] = {
    def isBig(id: Long) = new scala.util.Random(CorpusGen.Seed + id).nextInt(100) == 0
    val nBig = n / 100
    val big = Iterator.iterate(offset)(_ + 1).filter(isBig).take(nBig).toSeq
    val small = Iterator.iterate(offset)(_ + 1).filterNot(isBig).take(n - nBig).toSeq
    (big ++ small).sorted
  }

  /** Big PDFs of more than 1 MiB at `paraScale` 20, which go to
    * `ExtractJob`'s salted big-doc bucket range. Ids of that size are
    * about one in 10,000, so the benchmark names two; they lie below
    * every seed's offset.
    */
  val OverOneMiB: Seq[Long] = Seq(138L, 11172L)

  /** Rows as a table of 16 files of about equal bytes (largest row first
    * into the lightest file), as a crawl's input files are. Which file
    * the few large documents land in then does not vary with the seed.
    */
  def write[T: Encoder: ClassTag](spark: SparkSession, rows: Seq[T], bytes: T => Long,
                                  path: String): Unit = {
    val files = Array.fill(4 * Main.Cores)(mutable.ArrayBuffer.empty[T])
    val load = new Array[Long](files.length)
    rows.sortBy(r => -bytes(r)).foreach { r =>
      val f = load.indices.minBy(load(_))
      files(f) += r
      load(f) += bytes(r)
    }
    spark.createDataset(spark.sparkContext.parallelize(files.map(_.toSeq).toSeq, files.length)
      .flatMap(identity)).write.mode("overwrite").parquet(path)
  }
}

object Par {
  /** f(0 until n) on `threads` threads, each taking the next index. */
  def foreach(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val next = new AtomicInteger()
    val failure = new AtomicReference[Throwable]()
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < n && failure.get == null) { f(i); i = next.getAndIncrement() }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    if (failure.get != null) throw failure.get
  }
}
