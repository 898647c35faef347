package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offset-paginated feed connector — the reference's EIA fetch loop
  * (data_extraction.py:38-122: `while True` over `offset += length`
  * pages of 5000, stop when `offset + length >= total`) re-expressed
  * as a crash-safe landing pipeline over a sandboxed page source (no
  * network in this environment; the Spark-side plumbing — page
  * contract, landing layout, resume rule, loader — is the real thing).
  *
  * Landing layout: each page is its own partition directory
  * `dir/page=N`, so (a) a resumed run overwrites exactly the pages it
  * refetches — the dynamic-partition-overwrite re-land shape — and
  * (b) the loader gets the page id back for free via partition
  * discovery, with partition pruning available to any page-ranged
  * read.
  *
  * Crash safety: the resume point is the LAST landed page index,
  * refetched unconditionally. A crash can only have torn that final
  * page (earlier writes completed before the loop advanced), and
  * overwriting it in place makes the refetch overlap idempotent — a
  * resume can never duplicate or lose records, which is what lets the
  * landed feed merge into an accumulated table with the plain a5
  * high-water-mark union ([[graft.ingest.Ingest.incrementalIngest]]).
  *
  * Scale shape: the driver loop runs once per page of the FETCH
  * WINDOW (an API-bounded daily increment, thousands of rows), never
  * per page of the accumulated corpus; each page's rows move straight
  * from executors to the sink. The loader is one partitioned-directory
  * scan however many pages have accumulated.
  */
object PagedFeed {

  /** The connector contract: an offset-paginated view of a remote
    * feed. `total` mirrors the record count the reference reads off
    * every page response (its loop-termination signal). */
  trait PageSource {
    /** Up to `length` records starting at `offset`, in feed order. */
    def fetch(offset: Long, length: Int): DataFrame
    /** Total records the feed currently holds. */
    def total: Long
  }

  /** A [[PageSource]] backed by an id-ordered DataFrame — the
    * sandboxed stand-in for the HTTP fetcher. The per-fetch global
    * sort is the SIMULATED API's serving cost (a real endpoint pages
    * an index), not part of the engine's own plan. */
  final class OrderedFramePages(feed: DataFrame, idCol: String) extends PageSource {
    private lazy val n = feed.count()
    override def total: Long = n
    override def fetch(offset: Long, length: Int): DataFrame = {
      require(offset >= 0 && offset <= Int.MaxValue, s"offset $offset out of page-window range")
      feed.orderBy(col(idCol)).offset(offset.toInt).limit(length)
    }
  }

  /** Page size that lands a fetch window in at most `pages` driver
    * iterations: ceil(total / pages). The reference's fixed 5000 is an
    * API contract; deriving from the window count instead keeps the
    * driver loop constant-bounded as the window grows (the e22
    * autoPlanes pattern). Integer rule mirrored verbatim in the a8
    * oracle SQL. */
  def autoPageSize(total: Long, pages: Int): Int =
    math.max(1L, (total + pages - 1) / pages).toInt

  /** Number of the page a resumed landing starts from: the highest
    * landed page index (0 when nothing landed). It is the only page a
    * crash can have torn or cut short; [[land]] refetches and
    * overwrites it unless its landed rows prove it complete. */
  def resumePage(spark: SparkSession, dir: String): Int =
    resumePage(Sources.fileSystem(spark, dir), dir)

  private def resumePage(fs: FileSystem, dir: String): Int =
    Sources.children(fs, new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("page="))
      .map(_.getPath.getName.stripPrefix("page=").toInt)
      .maxOption.getOrElse(0)

  /** Remove a landing directory (fresh-window reset). */
  def reset(spark: SparkSession, dir: String): Unit =
    Sources.deletePath(Sources.fileSystem(spark, dir), new Path(dir), recursive = true)

  /** Land the feed as `dir/page=N` parquet pages, resuming from
    * whatever is already on disk. `maxPages` bounds the pages landed
    * by THIS call (specs use it to simulate a crash between pages).
    * Returns the number of pages written. The loop is
    * data_extraction.py:78-104's: fetch, sink, advance, stop once
    * `offset + pageSize >= total` — so the final page may be short,
    * which the refetch-overwrite resume rule handles the same as any
    * other page.
    *
    * Single-writer contract: the whole call runs under the landing
    * lease (`dir/_LOCK`, [[LandingLease.held]]). A second concurrent
    * lander fails fast with [[LandingLease.ConcurrentLandingException]]
    * instead of interleaving page overwrites; a CRASHED lander's lease
    * goes stale after 15 min, at which point the next run takes the
    * marker over and resumes normally (the resume rule already absorbs
    * whatever the dead writer tore). */
  def land(spark: SparkSession, src: PageSource, dir: String, pageSize: Int,
           maxPages: Int = Int.MaxValue): Int = {
    require(pageSize > 0, "pageSize must be positive")
    val fs = Sources.fileSystem(spark, dir)
    LandingLease.held(fs, dir)(landLocked(spark, fs, src, dir, pageSize, maxPages))
  }

  private def landLocked(spark: SparkSession, fs: FileSystem,
                         src: PageSource, dir: String, pageSize: Int, maxPages: Int): Int = {
    val total = src.total
    var page = resumePage(fs, dir)
    // a COMPLETE last page need not be refetched: completeness is
    // checkable from the landed rows alone (their footer row count ==
    // the page's expected slice of `total`, no Spark job), so
    // re-running a finished window lands nothing — a true idempotent
    // no-op. A torn page (fewer committed rows; mid-write debris under
    // `_temporary` holds none) fails the check and is overwritten; a
    // short-but-complete page that the feed has since GROWN past also
    // fails it and is refetched with its new rows.
    val expected = math.min(pageSize.toLong, total - page.toLong * pageSize)
    val last = s"$dir/page=$page"
    if (expected > 0 && fs.exists(new Path(last)) && ParquetStats.rowCount(spark, last) == expected)
      page += 1
    var landed = 0
    while (page.toLong * pageSize < total && landed < maxPages) {
      src.fetch(page.toLong * pageSize, pageSize)
        .write.mode("overwrite").parquet(s"$dir/page=$page")
      landed += 1
      page += 1
    }
    landed
  }

  /** The landed feed: one partitioned-directory scan; partition
    * discovery restores each record's `page` (int). Pages are disjoint
    * offset ranges by construction, so no dedup pass is needed —
    * downstream accumulation is a5's high-water-mark merge. */
  def load(spark: SparkSession, dir: String): DataFrame =
    Sources.readParquet(spark, dir)
}
