package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Page
import graft.sources.PageGen

/** The benchmark's seeded page source. Page content comes from the program's
  * public generator (`PageGen.pageFor` / `revisionOf`, pure functions of
  * (page index, snapshot)); the seed only shifts the page-index range, so
  * every seed gives a different corpus (urls, hosts, texts, revisions)
  * with the same statistics:
  *
  *  - snapshot 0 holds pages [offset, offset + n);
  *  - each later snapshot k adds n/20 new pages (5 %), deletes ~5 % of the
  *    live pages (`die:` hash) and changes ~10 % (`PageGen.revisionOf`).
  *
  * With seed 0 this is exactly `PageGen.snapshot(n, k)`.
  */
final case class PageSource(seed: Long, n: Long) {
  val offset: Long = seed * PageSource.Stride
  private val addsPerSnap: Long = n / 20

  def bornAt(j: Long): Int = {
    val i = j - offset
    if (i < n) 0 else ((i - n) / math.max(addsPerSnap, 1) + 1).toInt
  }

  def isLive(j: Long, snap: Int): Boolean = {
    val b = bornAt(j)
    b <= snap && !((b + 1) to snap).exists(k => (PageGen.fnv1a(s"die:$j:$k") >>> 1) % 20 == 0)
  }

  def end(snap: Int): Long = offset + n + snap * addsPerSnap

  def live(snap: Int): Seq[Long] = (offset until end(snap)).filter(isLive(_, snap))

  /** Pages an incremental batch for snapshot `snap` receives: newly born
    * or text revision bumped since snapshot snap-1. */
  def isChanged(j: Long, snap: Int): Boolean =
    isLive(j, snap) &&
      (!isLive(j, snap - 1) || PageGen.revisionOf(j, snap) != PageGen.revisionOf(j, snap - 1))

  def deleted(snap: Int): Seq[Long] =
    (offset until end(snap - 1)).filter(j => isLive(j, snap - 1) && !isLive(j, snap))

  def snapshot(spark: SparkSession, snap: Int): Dataset[Page] = pages(spark, snap)(isLive(_, snap))

  /** The pages an incremental batch for snapshot `snap` receives. */
  def changed(spark: SparkSession, snap: Int): Dataset[Page] = pages(spark, snap)(isChanged(_, snap))

  private def pages(spark: SparkSession, snap: Int)(keep: Long => Boolean): Dataset[Page] = {
    import spark.implicits._
    spark.range(offset, end(snap), 1, spark.sparkContext.defaultParallelism * 4).as[Long]
      .filter(keep).map(j => PageGen.pageFor(j, snap))
  }
}

object PageSource {
  /** Index distance between seeds: far above any corpus size used here. */
  val Stride: Long = 1L << 24
}
