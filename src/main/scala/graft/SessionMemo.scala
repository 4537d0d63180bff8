package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** Session-scoped artifact registry: every expensive derived artifact —
  * resolved table relations, converged near-dup component labels, fitted
  * ANN models, persisted intermediates, staged stream chunks, SQL index
  * layouts, the pair-store read — is built once and shared by every query
  * that consumes it.
  *
  * This is the Spark-session analog of the reference's persistent index
  * (reference: src/storage/index.rs — the EM-tree lives with the table it
  * indexes, so an index can never outlive its data). ONE rule decides
  * whether an entry is still valid:
  *
  *  - an entry is keyed by (session, identity, name). The identity is the
  *    corpus dir ([[of]], [[ofPersisted]]) or the semantic hash of a plan
  *    ([[ofPlan]], [[ofPlanPersisted]]; build parameters ride in the name);
  *  - the entry stores the snapshot of its inputs, [[fingerprint]] over
  *    the dir or over the file roots the plan reads — a listing, no data;
  *  - a lookup whose snapshot moved (a corpus rewritten in place) drops
  *    every entry whose inputs moved — unpersisting persisted relations
  *    first, so the CacheManager cannot substitute the stale data into the
  *    rebuild — then rebuilds;
  *  - entries die with their session's SparkContext.
  *
  * What an entry holds per artifact kind: driver-side models (KMeans
  * codebooks, PQ centroids) hold fitted coefficients; RDD-backed label sets
  * hold the final RDD reference, so later jobs reuse its shuffle files as
  * skipped stages and dropping the entry frees them to the ContextCleaner;
  * persisted DataFrames hold the one cached instance, released on
  * eviction. */
object SessionMemo {

  private final case class Key(session: SparkSession, identity: String, name: String)
  private final case class Entry(roots: Seq[String], snapshot: String,
      value: AnyRef, persisted: Boolean)

  private val memo = new ConcurrentHashMap[Key, Entry]()

  /** Dir-keyed entry: valid while no file under `dir` changes. */
  def of[T <: AnyRef](s: SparkSession, dir: String, name: String)(build: => T): T =
    lookup(s, dir, name, Seq(dir), persisted = false)(build).asInstanceOf[T]

  /** Plan-keyed entry: the identity is `df`'s analyzed-plan semantic hash
    * (in-memory relations carry their data in it); the snapshot covers the
    * files the plan reads. Parameters of the build belong in `name`. */
  def ofPlan[T <: AnyRef](df: DataFrame, name: String)(build: => T): T =
    lookup(df.sparkSession, planIdentity(df), name, inputRoots(df),
      persisted = false)(build).asInstanceOf[T]

  /** Memoized persist: build-and-`persist()` the relation once and hand
    * every later caller the SAME cached instance — a second invocation of
    * the owning query re-reads the cache instead of stacking a duplicate
    * `InMemoryRelation` — released when the entry is dropped. */
  def ofPersisted(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    lookup(s, dir, name, Seq(dir), persisted = true)(persist(build))
      .asInstanceOf[DataFrame]

  /** [[ofPersisted]] under the [[ofPlan]] key. */
  def ofPlanPersisted(df: DataFrame, name: String)(build: => DataFrame): DataFrame =
    lookup(df.sparkSession, planIdentity(df), name, inputRoots(df),
      persisted = true)(persist(build)).asInstanceOf[DataFrame]

  private def persist(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Check-then-put rather than computeIfAbsent: a build may itself
    * consult the registry (components build on the shared postings), and
    * nested computeIfAbsent on one map is not allowed. A racing duplicate
    * build is benign — artifacts are deterministic, last put wins. */
  private def lookup(s: SparkSession, identity: String, name: String,
      roots: Seq[String], persisted: Boolean)(build: => AnyRef): AnyRef = {
    watch(s.sparkContext)
    val k = Key(s, identity, name)
    val snap = fingerprint(s, roots)
    val cur = memo.get(k)
    if (cur != null && cur.snapshot == snap) return cur.value
    if (cur != null) dropMoved()
    val v = build
    val prev = memo.put(k, Entry(roots, snap, v, persisted))
    if (prev != null && prev.snapshot != snap) release(prev)
    v
  }

  /** Drop every entry whose inputs moved since it was built. All sessions:
    * sessions of one SparkContext share its CacheManager, so a stale
    * persisted relation of one session would feed the others' plans. */
  private def dropMoved(): Unit = {
    val now = scala.collection.mutable.Map.empty[Seq[String], String]
    memo.forEach { (k, e) =>
      if (now.getOrElseUpdate(e.roots, fingerprint(k.session, e.roots)) != e.snapshot &&
          memo.remove(k, e)) release(e)
    }
  }

  private def release(e: Entry): Unit =
    if (e.persisted) {
      try e.value.asInstanceOf[DataFrame].unpersist(blocking = false)
      catch { case NonFatal(err) =>
        System.err.println(s"[memo] unpersist failed: ${err.getMessage}") }
    }

  /** Contexts whose stop drops their sessions' entries. */
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        memo.keySet.removeIf(_.session.sparkContext eq sc)
        watched.remove(sc)
      }
    })

  /** Number of live entries held for session `s`. */
  private[graft] def entries(s: SparkSession): Int = memo.keySet.asScala.count(_.session eq s)

  private def planIdentity(df: DataFrame): String =
    df.queryExecution.analyzed.semanticHash().toString

  /** File roots the analyzed plan reads. The analyzed plan, not
    * `inputFiles`: that walks the cache-substituted optimized plan and
    * finds no files once the relation itself has been persisted. */
  private def inputRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .flatMap {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
        case _ => Nil
      }

  /** Snapshot of the files under `roots`: 64-bit FNV-1a over the sorted
    * (path, length, mtime) of every file a RECURSIVE listing of each root
    * finds (a root that is a file lists itself; a missing root folds an
    * `absent` sentinel). Recursion matters for partitioned layouts: an
    * in-place rewrite inside a subdirectory changes no top-level entry.
    * Listing only — no data is read; this is the identity a table-format
    * manifest would carry. */
  def fingerprint(s: SparkSession, roots: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val entries = roots.distinct.flatMap { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      def walk(st: FileStatus): Seq[String] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      try walk(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => Seq(s"$r:absent") }
    }.sorted
    var h = 0xcbf29ce484222325L
    (if (entries.isEmpty) Seq("empty") else entries).foreach { e =>
      e.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h ^= '\n'.toLong; h *= 0x100000001b3L
    }
    java.lang.Long.toHexString(h)
  }

  /** Per-(process, corpus-dir) tag for throwaway layout paths (/tmp and
    * warehouse artifacts the storage/index keys write). The full dir
    * string is digest-hashed — not its 32-bit hashCode, which can collide
    * across dirs — and a per-process component is folded in so two
    * concurrent JVMs over the same corpus never race overwrite-vs-read on
    * a shared path (r11 ADVICE). Stable within a process, so write-once
    * reuse through this registry still holds. */
  def pathTag(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${md}_p${ProcessHandle.current().pid()}"
  }

  /** Drop every registered artifact. The scale-stress harness calls this
    * before each timed run so its measurements price the full BUILD — the
    * registry amortizes steady-state sessions, and letting it amortize a
    * scaling measurement would hide exactly the cost the harness exists to
    * expose. Dropping the RDD references also frees their shuffle files to
    * the ContextCleaner, and persisted relations are unpersisted so the
    * executor-side cache is actually released. */
  def evictAll(): Unit =
    memo.forEach((k, e) => if (memo.remove(k, e)) release(e))
}
