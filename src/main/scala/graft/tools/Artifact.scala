package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Versioned published artifacts under java.io.tmpdir — the lifecycle
  * layer above [[Staging.durableDir]].
  *
  * An artifact FAMILY is keyed by (token, dataset): `token` embeds every
  * BUILD PARAMETER (a parameter change must miss, never serve stale
  * state written under the old parameters) and `dataset` is the
  * normalized data-dir path. Within a family, each publish lands as a
  * new VERSION directory `graft_idx_<token>_<ds>__vNNNNN` — version N is
  * immutable once published (the atomic rename is the only mutation the
  * family ever sees), so version N+1 (a churn batch's re-publish, a
  * regenerated corpus) never touches N's bytes and a reader mid-serve on
  * N is undisturbed. Consumers select a version by CONTENT, not by
  * number: each candidate's 1-row `meta` table (`ak, ds` + the content
  * [[Key]]) is matched against a freshly recomputed corpus fingerprint,
  * newest version first, so
  *
  *  - a dataset regenerated in place under the same path simply misses
  *    every existing version (the fingerprint is re-checked on EVERY
  *    first serve per process, not only at build);
  *  - two processes racing the same publish land v1 and v2 with
  *    identical deterministic content — either serves;
  *  - a repair/churn publish (different fingerprint) coexists with the
  *    base build instead of clobbering it.
  *
  * The lifecycle invariant, owned once by [[Family]]: a serve resolves
  * by meta and only a miss builds, writes the tables plus `meta`, and
  * publishes; the per-process memo caches the resolved dir per dataset
  * and re-resolves one that vanished; a published dir has its cached
  * file listings refreshed, so a re-used version slot never serves the
  * old build's files.
  *
  * Reclamation stays [[Staging]]'s: the `graft_idx_` prefix is
  * age-pruned (48 h) and never pid-pruned. Serving [[touch]]es the
  * version dir's mtime so an artifact in active use keeps renewing its
  * lease instead of being reaped under a long-lived process.
  */
object Artifact {
  /** A content key: the `meta` columns after `ak, ds`, in order — `fp`
    * for the text families, `n, fp` for the vector families. */
  type Key = Seq[(String, Long)]

  /** One artifact family's lifecycle (the invariant in the object doc).
    * A site computes its content key and writes its tables; everything
    * else is here. Each instance has its own memo: two families may
    * share a token under different keys (base index and its repair),
    * and a build may serve another family inside its own build (ingest
    * → pairs), which one shared `computeIfAbsent` map would reject as a
    * recursive update. */
  final class Family(token: => String) {
    /** Spec probe: resolve misses this process built and published. */
    val builds = new AtomicInteger(0)
    private val memo = new ConcurrentHashMap[String, String]()

    /** The version dir serving dataset `d`: the newest whose meta
      * carries `key` (computed once per memo fill), else `write(stage,
      * ak)` fills a new version — every row-level `ak` column gets `ak` —
      * which is published with its meta. */
    def apply(s: SparkSession, d: String)(key: => Key)(
        write: (String, String) => Unit): String = {
      val ds = dsKey(d)
      val cached = memo.get(ds)
      if (cached != null && !exists(cached)) memo.remove(ds, cached)
      memo.computeIfAbsent(ds, _ => {
        val k = key
        resolve(token, ds)(metaMatches(s, _, k)).getOrElse {
          builds.incrementAndGet()
          val out = publish(token, ds) { stage =>
            val ak = newAk(ds)
            write(stage, ak)
            writeMeta(s, stage, ak, ds, k)
          }
          refresh(s, out)
          out
        }
      })
    }
  }

  /** Whether `dir`'s 1-row meta carries exactly `key`. A missing or
    * unreadable meta is a miss; a fatal error (OOM, interrupt) is
    * thrown, not turned into a rebuild. */
  def metaMatches(s: SparkSession, dir: String, key: Key): Boolean =
    try {
      val m = s.read.parquet(s"$dir/meta").select(key.map(k => col(k._1)): _*).head()
      key.indices.forall(i => m.getLong(i) == key(i)._2)
    } catch { case NonFatal(_) => false }

  private def writeMeta(s: SparkSession, stage: String, ak: String, ds: String,
      key: Key): Unit = {
    val schema = StructType(Seq(StructField("ak", StringType), StructField("ds", StringType)) ++
      key.map(k => StructField(k._1, LongType, nullable = false)))
    s.createDataFrame(java.util.List.of(Row.fromSeq(Seq(ak, ds) ++ key.map(_._2))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/meta")
  }

  /** Post-publish cache hygiene: drop the cached data and file listings
    * under the dir, and refresh a [[Bucketed]] table already declared
    * over it — refreshByPath does not reach that relation cache. */
  private def refresh(s: SparkSession, dir: String): Unit = {
    s.catalog.refreshByPath(dir)
    if (s.catalog.tableExists(tableName(dir))) s.catalog.refreshTable(tableName(dir))
  }

  private def tableName(dir: String): String = "graft_" + Paths.get(dir).getFileName.toString

  /** A published table bucketed (and sorted) by one column, so a literal
    * `by IN (...)` lookup reads only the matching buckets: `write` stores
    * it in a version's scratch dir, `table` serves it from a version dir.
    * @param columns the table's DDL column list, as `write` stores it. */
  final case class Bucketed(sub: String, by: String, buckets: Int, columns: String) {
    /** bucketBy needs a catalog table: the write goes through a transient
      * external one, whose name is dropped (the files stay). */
    def write(df: DataFrame, stage: String): Unit = {
      val tmpName = s"graft_pub_${ProcessHandle.current().pid()}_${System.nanoTime().toHexString}"
      df.write.format("parquet").bucketBy(buckets, by).sortBy(by)
        .option("path", s"$stage/$sub").saveAsTable(tmpName)
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $tmpName")
    }

    /** The table as an external catalog table over the version dir,
      * declared once per process (bucket metadata lives in the catalog;
      * the files carry bucket ids in their names). Auto bucketed scan
      * stays off: it weighs join/aggregate interest, not pruning, so a
      * lookup would read every bucket. No per-call REFRESH: it would drop
      * every cached read of the table; publish refreshes a re-used slot. */
    def table(s: SparkSession, dir: String): DataFrame = {
      val name = tableName(dir)
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      s.sql(s"CREATE TABLE IF NOT EXISTS $name ($columns) " +
        s"USING PARQUET CLUSTERED BY ($by) SORTED BY ($by) INTO $buckets BUCKETS " +
        s"LOCATION '$dir/$sub'")
      s.table(name)
    }
  }

  /** Hex signature of a build-parameter list, for a token. */
  def sig(params: Seq[Any]): String =
    (params.mkString(",").hashCode.toLong & 0xffffffffL).toHexString

  /** Normalized dataset key: the path with every non-alphanumeric
    * squashed, embeddable in a dir name and in parquet `ak` columns. */
  def dsKey(dataDir: String): String =
    Paths.get(dataDir).toAbsolutePath.normalize.toString
      .replaceAll("[^a-zA-Z0-9]", "_")

  /** Unique publication key, written into the artifact's `meta` (and any
    * row-level keying column) at stage time — publish-unique so a
    * DuckDB-side glob over the whole family can select exactly one
    * version's rows (`WHERE ak = (SELECT ak FROM meta ... LIMIT 1)`)
    * even when two versions share a fingerprint (identical content). */
  def newAk(ds: String): String =
    s"${ds}__p${ProcessHandle.current().pid()}_${System.nanoTime().toHexString}"

  private def tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  private def familyPrefix(token: String, ds: String): String =
    s"graft_idx_${token}_${ds}__v"

  /** All published versions of the family, newest first: (version, dir). */
  def versions(token: String, ds: String): Seq[(Int, String)] = {
    val pfx = familyPrefix(token, ds)
    if (!Files.exists(tmp)) return Nil
    val s = Files.list(tmp)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(pfx))
        .flatMap { p =>
          val v = p.getFileName.toString.stripPrefix(pfx)
          try Some((v.toInt, p.toString)) catch { case _: NumberFormatException => None }
        }
        .toSeq.sortBy(-_._1)
    } finally s.close()
  }

  def exists(dir: String): Boolean = Files.exists(Paths.get(dir))

  /** Renew the age-based reclamation lease of a version being served. */
  def touch(dir: String): Unit =
    try Files.setLastModifiedTime(Paths.get(dir),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Throwable => () }

  /** First (newest) version whose meta the caller accepts — touched so
    * active artifacts keep their reclamation lease. */
  def resolve(token: String, ds: String)(accept: String => Boolean): Option[String] =
    versions(token, ds).collectFirst {
      case (_, dir) if accept(dir) => touch(dir); dir
    }

  /** Publish a new version: `write` fills a durable scratch dir, which
    * is then atomically renamed to the next free version slot. Losing a
    * rename race (another process landed that slot first) retries the
    * NEXT slot — never discards, because the racer may be publishing
    * different content (a repair vs a base build); content-level dedup
    * is the reader's fingerprint match, not the writer's. Returns the
    * final version dir. */
  def publish(token: String, ds: String)(write: String => Unit): String = {
    val stage = Staging.durableDir(s"${token}stage", ds)
    write(stage)
    var ver = versions(token, ds).headOption.map(_._1).getOrElse(0) + 1
    var out: String = null
    while (out == null) {
      val target = tmp.resolve(f"${familyPrefix(token, ds)}$ver%05d")
      try {
        Files.move(Paths.get(stage), target, StandardCopyOption.ATOMIC_MOVE)
        out = target.toString
      } catch {
        case _: java.io.IOException if Files.exists(target) => ver += 1
        case e: java.io.IOException =>
          // rename failed for a non-collision reason: clean the scratch
          deleteRecursively(Paths.get(stage)); throw e
      }
    }
    out
  }

  /** Retention for a family: delete every version the caller does NOT
    * recognize as serving live corpus state, provided it has also aged
    * past `graceMs` since its last serve (every serve [[touch]]es the
    * version dir, so the mtime IS the serve lease — a version another
    * long-lived process is actively reading keeps renewing itself and
    * is never reaped, the same discipline that protects artifacts from
    * [[Staging]]'s 48 h prune). Returns the reclaimed dirs. This is the
    * lifecycle's REAP step: publish → serve → churn re-publish → retain;
    * without it a 100 TB store accretes one superseded adjacency per
    * corpus regeneration forever. Callers pass the same content check
    * they serve with (fingerprint-match against the live corpus), e.g.
    * {{{ Artifact.retain(token, ds)(dir => keys.exists(metaMatches(s, dir, _))) }}} */
  def retain(token: String, ds: String, graceMs: Long = 3600000L)(
      serving: String => Boolean): Seq[String] = {
    val cutoff = System.currentTimeMillis() - graceMs
    versions(token, ds).collect {
      case (_, dir) if !serving(dir) &&
          (try Files.getLastModifiedTime(Paths.get(dir)).toMillis < cutoff
           catch { case _: Throwable => false }) =>
        deleteRecursively(Paths.get(dir)); dir
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
      finally s.close()
    }
}
