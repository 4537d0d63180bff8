package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent pair-graph store: the clustered embedding pair build written
  * ONCE per corpus version as a partitioned parquet artifact, then read by
  * every consumer — in this session, the next session, or a different
  * process entirely.
  *
  * This closes the gap between [[graft.SessionMemo]] (which amortizes the
  * build WITHIN a session by sharing shuffle files) and the reference's
  * actual thesis (reference: src/storage/index.rs — the index is a
  * PERSISTENT artifact that lives with the table; queries only read it).
  * IvfIndex.writeIndex / PqIndex.writeIvfPq / MetricIndex already follow
  * that pattern for the ANN/metric index family; the (id_a, id_b, sim)
  * similarity graph is the same economics: sub-quadratic but expensive to
  * build, consumed by ~14 downstream operators (near-dup, components,
  * keep-one, kNN-graph degree, mutual-kNN, decontamination, SemDeDup
  * adjacents, …), and exactly reproducible from the corpus — i.e. an
  * INDEX, and a per-session rebuild is the wrong physical plan even when
  * each rebuild's own shape is right (the r8 ×100 receipts: every
  * standalone embed-family run paid the one clustered build its pipeline
  * siblings amortize).
  *
  * Versioning: the artifact directory name embeds the source table's
  * snapshot ([[graft.SessionMemo.fingerprint]]: path, length and mtime of
  * every data file — the identity a table format's manifest provides). A
  * corpus rewrite changes it, so a stale artifact can never serve a new
  * corpus; it simply stops being addressed. (A production deployment
  * would GC superseded snapshots with table-snapshot retention; the
  * sandbox lets them age out of /tmp.) Within a session the read itself
  * is a registry entry, so one session plans one scan lineage and a
  * rewrite re-resolves it under the registry's snapshot rule.
  *
  * Layout: plain parquet, hash-distributed on `id_a` at write time so
  * graph consumers that aggregate per-endpoint start from an even
  * distribution; row-group statistics give id-range pruning for free.
  * Doubles/longs round-trip parquet bit-exactly, so reading the artifact
  * is indistinguishable from re-running the build — which is what keeps
  * every full-replay oracle valid over the persisted path. */
object PairStore {

  /** Root for persisted pair artifacts; overridable for tests. */
  @volatile var root: String =
    sys.env.getOrElse("SPARK_GRAFT_PAIR_STORE", "/tmp/graft_pair_store")

  /** Kill switch: SPARK_GRAFT_PAIR_STORE=off disables persistence (every
    * build runs in-session, the SessionMemo-only r8 behavior) — the knob
    * the stress harness uses to price the raw build. */
  def enabled: Boolean = root != "off"

  /** Build-logic version + parameters token, part of every artifact path:
    * a change to the pair-build semantics (τ, routing, clustering scheme)
    * must bump this, or an existing store root would silently serve
    * pre-change artifacts — the fingerprint only tracks the CORPUS, the
    * tag tracks the CODE that derived the artifact from it. */
  val BuildTag: String = "v2_t04"

  /** Read the persisted artifact for (dir, name), building and writing it
    * first if this corpus version has none. The build output and the
    * reopened artifact are the same relation (parquet round-trips every
    * column bit-exactly); only the physical source differs — a build
    * lineage the first time, a columnar scan ever after. */
  def readOrBuild(s: SparkSession, dir: String, name: String, table: String)
      (build: => DataFrame): DataFrame =
    graft.SessionMemo.of(s, dir, s"pair_store_$name") {
      if (!enabled) build
      else {
        val snap = graft.SessionMemo.fingerprint(s, Seq(s"$dir/$table.parquet"))
        val path = s"$root/${name}_${BuildTag}_$snap"
        val success = new Path(s"$path/_SUCCESS")
        val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(success)) {
          // hash-distribute on the graph key so per-endpoint consumers
          // start balanced; Overwrite makes a racing duplicate build benign
          // (the artifact is deterministic — last writer wins with
          // identical bytes)
          build.repartition(col("id_a"))
            .write.mode(SaveMode.Overwrite).parquet(path)
        }
        s.read.parquet(path)
      }
    }
}
