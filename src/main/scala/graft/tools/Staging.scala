package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

/** Lifecycle for staged parquet artifacts under java.io.tmpdir.
  *
  * Two artifact classes with different lifetimes:
  *
  *  - [[dir]] (`graft_pat_*`): write→read roundtrip staging
  *    (graph_pattern_create / _delete / _detach_delete,
  *    sink_graph_roundtrip, src_json_csv_roundtrip). A REAL sink
  *    write, intentionally inside the timed bench pass (the write→read
  *    cycle IS the operator under test) — consumed only by the writing
  *    process, so every dir is registered with a JVM shutdown hook that
  *    removes it on normal exit.
  *  - [[durableDir]] (`graft_idx_*`): persisted index artifacts
  *    (ann_graph_search_persisted's adjacency + meta tables). These must
  *    OUTLIVE the writing JVM: the driver's DuckDB oracle reads the
  *    artifact after the Verify process has exited, which is exactly the
  *    build-once/serve-many separation the operator exists to prove. No
  *    shutdown hook; reclamation is age-based only.
  *
  * Reclamation (first [[dir]]/[[durableDir]] call of a process prunes
  * stale siblings):
  *  - `graft_pat_*`: deleted when the trailing pid is dead, OR when the
  *    dir is older than [[MaxAgeMillis]] regardless of pid (ADVICE r15:
  *    pid-liveness alone keeps an orphan forever if its pid number was
  *    reused by an unrelated live process, and a malformed name with no
  *    parseable pid leaked indefinitely — age is the backstop for both);
  *  - `graft_idx_*`: deleted only past [[MaxAgeMillis]] — never by pid
  *    liveness, because the whole point is surviving the writer (a
  *    bench JVM starting right after Verify exits must not reap the
  *    artifact the oracle is about to read).
  *
  * A live concurrent process's fresh dirs are left alone in both
  * classes — the pid key exists precisely so concurrent sbt test /
  * bench JVMs never clobber each other's in-flight writes.
  */
object Staging {
  /** Age past which any graft staging dir is reclaimable (2 days: far
    * beyond one driver round, so a round's oracle always finds its
    * artifact; short enough that tmpdir never accumulates). */
  val MaxAgeMillis: Long = 48L * 3600 * 1000

  private val registered = ConcurrentHashMap.newKeySet[String]()
  private val hooked = new AtomicBoolean(false)
  private val pruned = new AtomicBoolean(false)

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
      finally s.close()
    }

  private def newDir(prefix: String, kind: String, dataset: String): String = {
    if (pruned.compareAndSet(false, true)) pruneStale()
    s"${System.getProperty("java.io.tmpdir")}/${prefix}${kind}_" +
      s"${dataset.replaceAll("[^a-zA-Z0-9]", "_")}_${ProcessHandle.current().pid()}"
  }

  /** The per-(kind, dataset, pid) staging dir, registered for cleanup. */
  def dir(kind: String, dataset: String): String = {
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        registered.forEach(d =>
          try deleteRecursively(Paths.get(d)) catch { case _: Throwable => () })))
    val d = newDir("graft_pat_", kind, dataset)
    registered.add(d)
    d
  }

  /** The per-(kind, dataset, pid) DURABLE artifact dir: survives this
    * JVM (no shutdown hook), reclaimed by age on a later process start. */
  def durableDir(kind: String, dataset: String): String =
    newDir("graft_idx_", kind, dataset)

  /** Remove stale graft staging dirs: dead-pid or over-age `graft_pat_*`
    * (crash leftovers), over-age `graft_idx_*` (consumed artifacts). */
  private def pruneStale(): Unit =
    try {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val self = ProcessHandle.current().pid()
      val now = System.currentTimeMillis()
      val s = Files.list(tmp)
      try s.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("graft_pat_") || name.startsWith("graft_idx_")) {
          val overAge =
            try now - Files.getLastModifiedTime(p).toMillis > MaxAgeMillis
            catch { case _: Throwable => false }
          val pidDead = name.startsWith("graft_pat_") && {
            val pid = name.substring(name.lastIndexOf('_') + 1)
            try pid.toLong != self && !ProcessHandle.of(pid.toLong)
              .map[Boolean](_.isAlive).orElse(false)
            catch { case _: NumberFormatException => false } // malformed: age decides
          }
          if (overAge || pidDead)
            try deleteRecursively(p) catch { case _: Throwable => () }
        }
      } finally s.close()
    } catch { case _: Throwable => () }
}
