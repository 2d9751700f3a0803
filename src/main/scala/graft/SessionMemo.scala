package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo for shared query artifacts (corpus sketch, dup
  * pair set, staged graph adjacency, harness-table schemas, …) keyed on
  * (session, data dir or file path).
  *
  * One shared implementation replacing the nine hand-rolled
  * `ConcurrentHashMap[(SparkSession, String), _]` fields that had
  * accumulated across ops/Text, ops/Extended and graph/PropertyGraph
  * (r8 advice). Two hygiene fixes over the hand-rolled form:
  *
  *  - the key is path-normalized, so `sf0.1` and `sf0.1/` (or a
  *    relative spelling of the same directory) cannot double-cache the
  *    same artifact;
  *  - on application end each session's entries are evicted from every
  *    registered memo, so stopped sessions are not pinned forever by
  *    memo keys. (The cached blocks themselves die with the context;
  *    eviction is about unpinning the session object graph.)
  *
  * The memo's POINT is unchanged: for genuinely shared artifacts,
  * cross-query reuse must be explicit — one cache() inside
  * computeIfAbsent — not an accident of CacheManager plan
  * canonicalization (see the r6 dedup-drift post-mortem at
  * ops/Text.scala).
  */
object SessionMemo {
  // All live memo instances; walked on application end to evict the
  // stopping session's keys. Weakly bounded: memos are static fields,
  // a handful per JVM.
  private val registry = new ConcurrentHashMap[SessionMemo[_], Unit]
  private val hooked = new ConcurrentHashMap[SparkSession, Boolean]

  private def register(m: SessionMemo[_]): Unit = registry.put(m, ())

  private def hook(s: SparkSession): Unit =
    hooked.computeIfAbsent(s, { _ =>
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          registry.keySet.forEach(_.evict(s))
          hooked.remove(s)
        }
      })
      true
    })

  def apply[V](): SessionMemo[V] = new SessionMemo[V]
}

final class SessionMemo[V] private () {
  SessionMemo.register(this)

  private val map = new ConcurrentHashMap[(SparkSession, String), V]

  private def norm(dir: String): String =
    try Paths.get(dir).toAbsolutePath.normalize.toString
    catch { case _: Throwable => dir }

  /** Memoized value for (session, normalized dir); `f` runs at most once
    * per key (ConcurrentHashMap.computeIfAbsent semantics). */
  def getOrCompute(s: SparkSession, dir: String)(f: => V): V = {
    SessionMemo.hook(s)
    map.computeIfAbsent((s, norm(dir)), _ => f)
  }

  private[graft] def evict(s: SparkSession): Unit = {
    val it = map.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq s) it.remove()
  }
}
