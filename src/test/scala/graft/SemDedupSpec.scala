package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup keep-rule algebra on planted duplicates (the query key is
  * rows-only by design — cluster ids are KMeans-partition-specific — so
  * this spec is the behavioral contract: exact duplicates collapse to one
  * survivor, the survivor follows the least-central/lowest-id rule, a
  * duplicate-free corpus is untouched, and the pass is deterministic). */
class SemDedupSpec extends SparkTestBase {

  /** 3 well-separated groups of 60 random vectors, plus exact copies of
    * ids 0-9 as ids 1000-1009 (copies land in their original's cluster:
    * identical vectors score identically, and the cell tie-break is
    * deterministic). */
  private def corpus(): DataFrame = {
    val r = new scala.util.Random(7)
    val session = SparkTestBase.spark
    import session.implicits._
    val base = (0 until 180).map { i =>
      val shift = (i % 3) * 10.0f // group separation
      (i.toLong, Array.fill(8)(r.nextFloat() + shift))
    }
    val dups = (0 until 10).map(i => (1000L + i, base(i)._2.clone()))
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("exact duplicates collapse to the lower-id survivor; rest untouched") {
    GraftSession.prepare(spark)
    val out = Similarity.semDedupCore(corpus(), threshold = 0.999999)
      .select("vec_id", "kept").collect()
      .map(row => row.getLong(0) -> row.getBoolean(1)).toMap
    assert(out.size == 190) // every vector is in the report
    val prunedIds = out.filter(!_._2).keys.toSet
    // exactly the planted copies are pruned: equal centrality falls to the
    // vec_id tie-break, so the 1000+ ids lose to their originals
    assert(prunedIds == (0 until 10).map(1000L + _).toSet, s"pruned: $prunedIds")
  }

  test("duplicate-free corpus is untouched; the pass is deterministic") {
    GraftSession.prepare(spark)
    val session = SparkTestBase.spark
    import session.implicits._
    val r = new scala.util.Random(11)
    val distinctCorpus = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(r.nextFloat() + (i % 2) * 10.0f))
    }.toDF("vec_id", "embedding")
    val a = Similarity.semDedupCore(distinctCorpus, threshold = 0.999999)
    assert(a.filter(!col("kept")).isEmpty)
    // determinism: seeded fit + deterministic tie-breaks → identical output
    val run1 = a.collect().map(_.toString).sorted
    val run2 = Similarity.semDedupCore(distinctCorpus, threshold = 0.999999)
      .collect().map(_.toString).sorted
    assert(run1.sameElements(run2))
  }
}
