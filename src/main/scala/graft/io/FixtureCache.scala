package graft.io

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Jobs.described

/** The one process-wide memo for values derived from a fixture table
  * file: it alone decides how such a value is keyed, which session it
  * belongs to, how it is materialized and when it is evicted. An entry
  * is keyed by its tag plus the file's (absolute path, mtime, size), so
  * regenerating the data under the same path recomputes instead of
  * silently serving a stale value (a plain path-keyed cache would).
  *
  * One lifetime rule, by entry point:
  *  - [[memo]] holds driver-only values that reference no session
  *    (k·d centers, collected rows, temp-dir paths, covariance cells);
  *    they live as long as the process.
  *  - [[session]] holds values that reference a session (index
  *    handles, persisted frames, catalog tables). The session object is
  *    part of the key, so another session computes its own entry, and
  *    the session's entries are dropped when its context stops: an
  *    entry must not outlive its session, or stopped-session frames
  *    would accumulate and pin their sessions against GC.
  *  - [[frame]] is [[session]] for a DataFrame: persisted at the
  *    default level and materialized by one `count()` before any
  *    consumer sees it, so every consumer reads the cached rows. A
  *    frame holds derived rows (pair lists, fingerprints, refined edge
  *    lists), never a copy of a fixture table.
  *
  * Memos nest (a compute may consult other entries, e.g. winnow pairs
  * build on the winnow fingerprint frame), which is why this is a
  * TrieMap with `getOrElseUpdate`: `ConcurrentHashMap.computeIfAbsent`
  * throws on a recursive update. */
object FixtureCache {
  private final case class Key(tag: String, path: String, mtime: Long, size: Long,
                               owner: Option[SparkSession])

  private val cache = scala.collection.concurrent.TrieMap.empty[Key, Any]
  /** Sessions whose context already carries an eviction listener. */
  private val watched = scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  private def key(tag: String, sfDir: String, table: String,
                  owner: Option[SparkSession]): Key = {
    val f = new java.io.File(Tables.path(sfDir, table))
    Key(tag, f.getAbsolutePath, f.lastModified, f.length, owner)
  }

  /** A driver-only value computed once per (tag, fixture file). */
  def memo[T](tag: String, sfDir: String, table: String)(compute: => T): T =
    cache.getOrElseUpdate(key(tag, sfDir, table, None), compute).asInstanceOf[T]

  /** A value bound to `s`, computed once per (tag, fixture file,
    * session) and dropped when `s`'s context stops. The jobs that
    * build it are described `FixtureCache <tag>`; the caller's job
    * description is restored afterwards. */
  def session[T](s: SparkSession, tag: String, sfDir: String, table: String)
                (compute: => T): T = {
    if (watched.putIfAbsent(s, ()).isEmpty)
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = evict(s)
      })
    cache.getOrElseUpdate(key(tag, sfDir, table, Some(s)),
      described(s.sparkContext, s"FixtureCache $tag")(compute)).asInstanceOf[T]
  }

  /** [[session]] for a DataFrame: `build` persisted at the default
    * level and counted once, so the entry is materialized when it is
    * first returned. */
  def frame(s: SparkSession, tag: String, sfDir: String, table: String)
           (build: => DataFrame): DataFrame =
    session(s, tag, sfDir, table) {
      val df = build.persist()
      df.count()
      df
    }

  /** Drop every [[session]]/[[frame]] entry owned by `s` (the frames
    * themselves die with their context; only the references go).
    * Idempotent; the context-stop listener calls it, tests can too. */
  def evict(s: SparkSession): Unit = {
    cache.keys.foreach { k => if (k.owner.contains(s)) cache.remove(k) }
    watched.remove(s)
  }
}
