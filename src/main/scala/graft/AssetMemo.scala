package graft

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one per-(session, corpus) cache for materialized corpus assets:
  * the nested order document, the wire payloads, the landed wire and
  * DLQ feeds, the postings, the pair graph, the cluster labels, the
  * chunks. A production pipeline computes each once per corpus snapshot
  * and every downstream stage reads it; Verify and Bench run the
  * consumers back-to-back in one session.
  *
  * INVARIANT (inherited by every asset cached here): the parquet under
  * a given sfDir is immutable for the lifetime of a session — true for
  * the fixed test corpora. Regenerating files in place would
  * serve a stale asset; key the memo by snapshot path (the production
  * shape) if that ever changes.
  *
  * Single-flight builds: a lookup takes the map lock, the build runs
  * outside it (a pair-graph build is seconds of Spark jobs). Callers
  * asking for a key whose build is running wait for that one build;
  * callers asking for other keys never wait. A build that throws
  * leaves no entry, so the next call rebuilds.
  *
  * Least-recently-used entries beyond [[AssetMemo.MaxEntries]] are
  * evicted. An evicted `DataFrame` is released — unpersisted, and if
  * it is a cut, its blocks dropped or, on the reliable-checkpoint path,
  * its checkpoint files deleted ([[Materialize.release]]); any other
  * value is just dropped. An entry whose build is still running is
  * dropped without waiting. An in-flight reader of an evicted cut
  * fails rather than recomputes (its lineage is truncated), which is
  * why the bound sits
  * above the corpora per session (3 sf dirs plus a few suite-planted
  * ones).
  */
final class AssetMemo[V] {

  private type Key = (SparkSession, String)

  // access order: iteration starts at the least recently used entry
  private val map = new java.util.LinkedHashMap[Key, Promise[V]](
    16, 0.75f, /* accessOrder = */ true)

  def getOrBuild(s: SparkSession, d: String)(build: => V): V = {
    val key = (s, d)
    val (slot, owner, evicted) = map.synchronized {
      Option(map.get(key)) match {
        case Some(p) => (p, false, Nil)
        case None =>
          val p = Promise[V]()
          map.put(key, p)
          (p, true, evictOverflow())
      }
    }
    evicted.foreach(AssetMemo.release)
    if (owner) {
      try slot.success(build)
      catch {
        case t: Throwable =>
          map.synchronized(map.remove(key, slot))
          slot.failure(t)
          throw t
      }
    }
    Await.result(slot.future, Duration.Inf)
  }

  /** Drop the least recently used entries beyond the bound; returns the
    * finished values among them for release outside the lock.
    */
  private def evictOverflow(): List[V] = {
    val it = map.values.iterator
    var done = List.empty[V]
    while (map.size > AssetMemo.MaxEntries) {
      it.next().future.value.foreach(_.foreach(v => done ::= v))
      it.remove()
    }
    done
  }
}

object AssetMemo {

  val MaxEntries = 8

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      try {
        ds.unpersist(blocking = false)
        Materialize.release(ds.toDF())
      } catch { case NonFatal(_) => () }
    case _ => ()
  }
}
