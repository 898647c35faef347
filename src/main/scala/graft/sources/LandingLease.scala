package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** Single-writer lease for a landing/state directory — shared by every
  * directory mutator: the paginated-feed lander (a8), the streaming
  * upsert sink (f8) and version retention, each of which mutates a
  * directory in ways that two live writers would corrupt (interleaved
  * pages; interleaved dynamic-partition overwrites; a sweep racing a
  * publish).
  *
  * The marker file holds `token\nexpiryEpochMs`; a lease whose expiry
  * has passed (its writer crashed without releasing) or whose content
  * is torn (its writer died mid-acquire) is taken over by deleting +
  * re-creating. Creation uses `fs.create(overwrite = false)` — atomic
  * on HDFS; on a plain local FS it is check-then-create and on object
  * stores it needs a conditional put, so the lease is ADVISORY there:
  * it serializes the operational "two schedulers fired the same
  * target" case, not adversarial racers. The takeover path re-races
  * the create after deleting a stale marker, so exactly one of N
  * concurrent takeover attempts wins. */
object LandingLease {

  /** A second writer already holds the lease — fail fast rather than
    * interleave with a live writer. */
  final class ConcurrentLandingException(message: String)
    extends RuntimeException(message)

  /** How long a lease holds before a later writer may take it over: above
    * the worst-case critical section of every guarded writer (a window
    * landing, an upsert merge, a retention sweep), so a live writer never
    * loses its lease, while a crashed one's goes stale after 15 min. */
  private val LeaseMs = 15 * 60 * 1000L

  /** Underscore-prefixed on purpose: Spark's file index treats `_`/`.`
    * names as hidden, so readers and partition discovery never see it. */
  private def lockFile(dir: String): Path = new Path(dir, "_LOCK")

  /** Run `body` holding the lease for `dir`: acquire it or throw
    * [[ConcurrentLandingException]], and release it however `body` ends. */
  def held[A](fs: FileSystem, dir: String)(body: => A): A = {
    val token = acquire(fs, dir)
    try body finally release(fs, dir, token)
  }

  /** Acquire the lease for `dir` or throw
    * [[ConcurrentLandingException]]; returns the token to release with.
    * Only an existing marker means another writer; any other I/O error
    * of the create propagates as itself. */
  private def acquire(fs: FileSystem, dir: String): String = {
    val lp = lockFile(dir)
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        Sources.writeUtf8(fs, lp, s"$token\n${System.currentTimeMillis() + LeaseMs}",
          overwrite = false)
        true
      } catch { case _: FileAlreadyExistsException => false }
    if (!tryCreate()) {
      val expiry: Long =
        try Sources.readUtf8(fs, lp).split("\n")(1).trim.toLong
        catch { case _: Exception => Long.MinValue } // torn/vanished: stale
      if (System.currentTimeMillis() <= expiry)
        throw new ConcurrentLandingException(
          s"another writer holds $lp until epoch-ms $expiry; refusing to interleave")
      Sources.deletePath(fs, lp, recursive = false)
      if (!tryCreate())
        throw new ConcurrentLandingException(
          s"lost the stale-lease takeover race on $lp to another writer")
    }
    token
  }

  /** Release the lease IF still ours: a token mismatch means the lease
    * expired mid-run and another writer took over — leave its marker
    * alone ([[LeaseMs]] sits above the worst-case critical-section time
    * to keep this a non-event). */
  private def release(fs: FileSystem, dir: String, token: String): Unit = {
    val lp = lockFile(dir)
    val ours =
      try Sources.readUtf8(fs, lp).startsWith(token)
      catch { case _: Exception => false }
    if (ours) Sources.deletePath(fs, lp, recursive = false)
  }
}
