package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.util.control.NonFatal

/** The one owner of cached frames and process memos: the storage level,
  * the release rule and the memo rules live here and nowhere else.
  *
  *  - [[cached]] scopes a cache to one block and releases it in a
  *    `finally`, so a failing job cannot pin a corpus-sized cache for the
  *    session lifetime;
  *  - [[shared]] memoizes a persisted frame across gates of ONE session;
  *  - [[once]] memoizes a staged value (a dir on disk) for the process.
  *
  * Lineage recovery (D-Streams) needs the code that owns a cache to also
  * release it; keeping every persist in this module is that rule.
  * A bare `localCheckpoint` is a single Spark call that cuts lineage, not
  * a cache with a lifetime, so it stays at its call site. */
object Materialize {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Persist `ds`, run `body` over it, and unpersist it whether `body`
    * returns or throws. `body` must localCheckpoint or collect whatever
    * it returns: a lazy result would re-derive the released cache. */
  def cached[T, A](ds: Dataset[T])(body: Dataset[T] => A): A = {
    val c = ds.persist(Level)
    try body(c) finally { c.unpersist(blocking = false); () }
  }

  private val frames = mutable.HashMap.empty[String, (SparkSession, DataFrame)]

  /** The persisted frame `build` gives, memoized under `key` for the
    * CURRENT session. A hit never evaluates `build`. An entry of another
    * (or a stopped) session is stale: it is dropped and its blocks are
    * released before the rebuild — a session from `newSession` shares the
    * SparkContext, so the old blocks would otherwise live until context
    * stop. A `build` that throws leaves no entry. One lock: two callers
    * racing a cold key must not both build and persist. */
  def shared(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    frames.synchronized {
      frames.get(key) match {
        case Some((owner, df)) if (owner eq s) && !s.sparkContext.isStopped => df
        case stale =>
          stale.foreach { case (owner, df) =>
            frames.remove(key)
            if (!owner.sparkContext.isStopped)
              try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
          }
          val df = build.persist(Level)
          frames.put(key, (s, df))
          df
      }
    }

  private val values = mutable.HashMap.empty[String, AnyRef]

  /** The value `make` gives, computed once per `key` for the process
    * lifetime (staged input dirs, reused across sessions and bench runs).
    * A `make` that throws stores nothing, so the next call retries; it
    * cleans up its own partial output. */
  def once[A <: AnyRef](key: String)(make: => A): A =
    values.synchronized {
      values.getOrElseUpdate(key, make).asInstanceOf[A]
    }
}
