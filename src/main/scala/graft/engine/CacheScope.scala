package graft.engine

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Operator caches, owned by whoever runs the actions. An operator whose
  * returned frame reads one intermediate several times (band join +
  * verify join, a count gate + the caller's join, totals + the per-token
  * table) marks it with [[cache]]; the code that runs the actions — an
  * API request, a recipe job, a micro-batch, one Verify query — wraps
  * them in `CacheScope.run { … }`, and every frame cached inside is
  * unpersisted when the scope closes, or, if scopes on other threads
  * built an equal plan and so share its entry, when the last of them
  * closes. Cached tables are not evicted at
  * action end on their own, so in a long-lived session (the API server,
  * repeated recipe runs) an unowned cache lives until session stop.
  *
  * Outside any scope [[cache]] is a plain `persist`: nothing is
  * released, so nothing is silently recomputed; such callers release
  * with `spark.catalog.clearCache()` (Bench does before every sample).
  * A cache over an artifact's tables stays correct across the artifact's
  * verbs: each one refreshes it ([[LayoutFs.Artifact.write]]). */
object CacheScope {

  /** A cache entry that open scopes own, and how many of them hold it. */
  private final class Entry(val df: DataFrame) { var holders = 1 }

  // every entry an open scope holds, across threads. Spark keeps one
  // entry per plan, so two requests that build an equal plan share it;
  // it is released when the last scope holding it closes
  private val held = ArrayBuffer.empty[Entry]

  // a plain ThreadLocal: an inheritable one would hand the scope's
  // entries to the Spark pool threads started inside it
  private val frames = new ThreadLocal[ArrayBuffer[Entry]]

  /** Run `body`, then release every entry [[cache]]d inside it that no
    * other open scope holds, also when it throws. A nested scope joins
    * the outer one. */
  def run[T](body: => T): T =
    if (frames.get != null) body
    else {
      val own = ArrayBuffer.empty[Entry]
      frames.set(own)
      try body
      finally {
        frames.remove()
        // dependents first: a cache whose plan reads another one is
        // released before it, so no release re-plans a dependent entry.
        // A frame of an already stopped session has nothing left to
        // release, and must not mask the body's own exception
        held.synchronized {
          own.reverseIterator.foreach { e =>
            e.holders -= 1
            if (e.holders == 0) {
              held -= e
              try e.df.unpersist(blocking = false) catch { case NonFatal(_) => }
            }
          }
        }
      }
    }

  /** Persist `df` at MEMORY_AND_DISK and record it with the current
    * scope. An equal plan that another open scope cached is joined; one
    * that an owner outside any scope cached is returned as is: that
    * owner releases it. */
  def cache(df: DataFrame): DataFrame = held.synchronized {
    val own = frames.get
    if (df.storageLevel == StorageLevel.NONE) {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (own != null) { val e = new Entry(cached); held += e; own += e }
      cached
    } else {
      if (own != null) held.find(_.df.sameSemantics(df))
        .filterNot(own.contains)
        .foreach { e => e.holders += 1; own += e }
      df
    }
  }
}
