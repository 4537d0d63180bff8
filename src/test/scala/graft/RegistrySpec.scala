package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{PairStore, Tables}

/** The session registry's one validity rule ([[SessionMemo]]): an entry is
  * served only while its inputs' snapshot is unchanged, and dies with its
  * session's SparkContext. */
class RegistrySpec extends SparkTestBase {

  /** One key per registry kind. */
  private val keys = Seq(
    "q_funnel",            // dir-keyed persisted relations
    "q_dedup_jaccard",     // dir-keyed RDDs
    "q_minhash_lsh",       // plan-keyed persisted relations
    "q_ann_ivfpq",         // dir-keyed model + persisted codes
    "q_stream_dedup",      // staged stream chunks
    "q_sql_metric_search", // SQL index layout (plan-keyed)
    "q_embed_neardup")     // pair-store read

  /** Rewrite `dir/table.parquet` in place: same file name, `edit`ed rows. */
  private def rewrite(dir: Path, table: String)(edit: DataFrame => DataFrame): Unit = {
    val out = Files.createTempDirectory(dir.getParent, "rewrite").resolve("out")
    edit(spark.read.parquet(dir.resolve(s"$table.parquet").toString))
      .coalesce(1).write.parquet(out.toString)
    val st = Files.list(out)
    val part = try st.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally st.close()
    Files.move(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every registry kind rebuilds after an in-place corpus rewrite") {
    GraftSession.prepare(spark)
    val root = Files.createTempDirectory("graft_registry")
    val dir = Files.createDirectory(root.resolve("sf"))
    val src = Paths.get("/root/testdata/sf0.01")
    val ls = Files.list(src)
    try ls.forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    finally ls.close()
    val oldStore = PairStore.root
    PairStore.root = root.resolve("pairs").toString
    // the key's rows; for q_ann_ivfpq, whose row is a recall invariant
    // that a smaller corpus leaves unchanged, also the size of the
    // registered codes relation (the lookup must hit, not rebuild)
    def observe(key: String): Seq[String] = {
      val rows = SparkEntry.queries(key)(spark, dir.toString)
        .collect().map(_.toString).sorted.toSeq
      if (key != "q_ann_ivfpq") rows
      else rows :+ SessionMemo.ofPersisted(spark, dir.toString, "ivfpq_index_codes")(
        fail("q_ann_ivfpq did not register its codes")).count().toString
    }
    try {
      val before = keys.map(observe)
      // a third of every table goes; doc 0, the metric-search probe,
      // takes doc 1's text so the probe gains a neighbour
      val keep = (c: String) => col(c) % 3 =!= 2
      val twin = Tables.documents(spark, dir.toString)
        .filter(col("doc_id") === 1).select(col("text")).head().getString(0)
      rewrite(dir, "documents")(_.filter(keep("doc_id"))
        .withColumn("text", when(col("doc_id") === 0, lit(twin)).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      rewrite(dir, "embeddings")(_.filter(keep("vec_id")))
      rewrite(dir, "events")(_.filter(keep("event_id")))
      assert(Tables.documents(spark, dir.toString).count() < 500)
      val after = keys.map(observe)
      SessionMemo.evictAll()
      val fresh = keys.map(observe)
      val stale = keys.indices.filter(i => after(i) != fresh(i)).map(keys)
      val unchanged = keys.indices.filter(i => after(i) == before(i)).map(keys)
      assert(stale.isEmpty, s"served artifacts of the old corpus: $stale")
      assert(unchanged.isEmpty, s"results did not move with the corpus: $unchanged")
    } finally {
      PairStore.root = oldStore
      SessionMemo.evictAll()
      TempHygiene.deleteRecursively(root)
    }
  }

  test("stopping a session's SparkContext drops its registry entries") {
    val s = spark
    Tables.all.foreach(Tables(s, sfDir, _))
    assert(SessionMemo.entries(s) >= Tables.all.size)
    s.stop()
    assert(SessionMemo.entries(s) == 0, "entries outlived their SparkContext")
    // the suites after this one get a fresh, prepared shared session
    GraftSession.prepare(spark)
  }
}
