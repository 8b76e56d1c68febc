package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IncrementalDedup}

/** Incremental connected components ([[IncrementalDedup.clusterAppend]]):
  * resolved labels must equal the one-shot [[Dedup.clusters]] over the
  * cumulative pair multiset after EVERY batch, replays must be no-ops,
  * and compaction must fold the merge log without changing resolution. */
class IncrementalClusterSpec extends AnyFunSuite {
  import TestSparkSession._
  import spark.implicits._

  private def pairsDF(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("id_a", "id_b")

  private def resolved(dir: String): Map[Long, Long] =
    IncrementalDedup.resolvedClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oneShot(ps: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.clusters(pairsDF(ps)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental clustering equals one-shot components after every batch") {
    val dir = tmpDir("cluster-idx")
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 10L))
    val b2 = Seq((5L, 6L), (2L, 3L)) // merges {1,2} with {3,4}
    val b3 = Seq((4L, 6L), (7L, 8L), (9L, 1L)) // chains everything but {7,8}
    var acc = Seq.empty[(Long, Long)]
    Seq(b1, b2, b3).foreach { b =>
      IncrementalDedup.clusterAppend(spark, dir, pairsDF(b))
      acc ++= b
      assert(resolved(dir) == oneShot(acc))
    }
    // the remap chain resolved end to end: 6 reached {1,2,3,4}'s min
    assert(resolved(dir)(6L) == 1L)
    // self-pair-only node is its own singleton component
    assert(resolved(dir)(10L) == 10L)
  }

  test("replayed batches are no-ops (crash contract)") {
    val dir = tmpDir("cluster-replay")
    val b1 = Seq((1L, 2L), (3L, 4L))
    val b2 = Seq((2L, 3L))
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b1))
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b2))
    val before = resolved(dir)
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b2)) // re-send last
    assert(resolved(dir) == before)
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b1)) // re-send earlier
    assert(resolved(dir) == before)
  }

  test("generated multi-batch property: random edge batches == one-shot") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val dir = tmpDir(s"cluster-prop-$trial")
      val n = 40
      val edges = Seq.fill(60)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      var acc = Seq.empty[(Long, Long)]
      edges.grouped(12).foreach { b =>
        IncrementalDedup.clusterAppend(spark, dir, pairsDF(b))
        acc ++= b
        assert(resolved(dir) == oneShot(acc), s"trial $trial diverged")
      }
    }
  }

  test("clusterSurvivors equals one-shot dropNearDuplicates on the cumulative pairs") {
    val dir = tmpDir("cluster-survivors")
    // docs 1..8; pairs arrive in two batches and chain {1,2,3} + {5,6}
    val docs = (1L to 8L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    val b1 = Seq((1L, 2L), (5L, 6L))
    val b2 = Seq((2L, 3L))
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b1))
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(b2))
    val got = IncrementalDedup.clusterSurvivors(docs, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Dedup.dropNearDuplicates(docs,
      pairsDF(b1 ++ b2).withColumn("jaccard", lit(1.0)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"$got vs $want")
    // cluster minima + never-paired docs survive
    assert(got == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("compactIndex folds the merge log; resolution unchanged, appends continue") {
    val dir = tmpDir("cluster-compact")
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(Seq((1L, 2L), (3L, 4L))))
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(Seq((2L, 3L))))
    val before = resolved(dir)
    val stats = IncrementalDedup.compactIndex(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      indexTable(dir, "clusters", "remaps").get)),
      "merge log survived compaction")
    assert(stats.contains(s"$dir/remaps"), stats)
    assert(resolved(dir) == before)
    // post-compact appends still merge against the folded labels
    IncrementalDedup.clusterAppend(spark, dir, pairsDF(Seq((4L, 5L))))
    assert(resolved(dir)(5L) == 1L)
  }
}
