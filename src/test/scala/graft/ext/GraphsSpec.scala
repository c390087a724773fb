package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------- triangles

  test("triangleCounts: hand graph — K4 plus a pendant edge") {
    // K4 on {1,2,3,4} has 4 triangles, each node in 3 of them; node 5
    // hangs off node 1 and closes nothing.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L)
    ).toDF("src", "dst")
    val got = Graphs.triangleCounts(edges, "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("triangleCounts: direction, duplicates and self-loops are normalized") {
    val messy = Seq(
      (2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (3L, 2L), // one triangle
      (1L, 1L), (2L, 2L)                                 // self-loops
    ).toDF("src", "dst")
    val got = Graphs.triangleCounts(messy, "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("triangleCounts: topK cuts by (count desc, node)") {
    // Two disjoint triangles: {1,2,3} and {10,11,12}; topK=3 keeps the
    // three smallest node ids since all counts tie at 1.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)
    ).toDF("src", "dst")
    val got = Graphs.triangleCounts(edges, "src", "dst", topK = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("triangleCounts: partitioning-independent") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)
    ).toDF("src", "dst")
    val a = Graphs.triangleCounts(edges, "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val b = Graphs.triangleCounts(edges.repartition(7), "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("graph lineage cuts upgrade to RELIABLE checkpoints when the " +
      "context has a checkpoint dir (cluster deployments); results " +
      "identical") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val before = Graphs.triangleCounts(edges, "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    // context-level setting, restored afterwards: every later suite's
    // materializations would otherwise go reliable too
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      assert(Graphs.triangleCounts(edges, "src", "dst")
        .orderBy("node").as[(Long, Long)].collect().toSeq === before)
      assert(Graphs.pageRank(edges, "src", "dst", iters = 3, topK = 3)
        .collect().nonEmpty)
    } finally sc.setCheckpointDir(prior.orNull)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(written > 0, "reliable checkpoint files were written under " +
      "the configured dir")
  }

  // -------------------------------------------------------- pagerank

  test("kCore: pendant chain peels transitively, the triangle core survives " +
      "with in-core degrees") {
    import spark.implicits._
    // triangle 1-2-3 plus chain 3-4-5: at k=2 node 5 (deg 1) peels,
    // which drops 4 to deg 1 and peels it too — the cascade that makes
    // the op iterative. Survivors: the triangle, every degree 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = Graphs.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree: empty core, converges cleanly
    assert(Graphs.kCore(edges, "src", "dst", k = 5).isEmpty)
  }

  test("pageRank: exact fixed-point values on a 3-cycle with a feeder") {
    // 1 → 2 → 3 → 1 plus 4 → 1; replay the integer recurrence in Scala.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val scale = 1000000000000L
    val n = 4L
    val base = 15L * scale / (100L * n)
    var r = Map(1L -> scale / n, 2L -> scale / n, 3L -> scale / n,
      4L -> scale / n)
    for (_ <- 1 to 5) {
      val contrib = Map(2L -> r(1L), 3L -> r(2L), 1L -> (r(3L) + r(4L)))
      r = Map(
        1L -> (base + 85L * contrib(1L) / 100L),
        2L -> (base + 85L * contrib(2L) / 100L),
        3L -> (base + 85L * contrib(3L) / 100L),
        4L -> base)
    }
    val got = Graphs.pageRank(edges, "src", "dst", iters = 5)
      .orderBy("node").as[(Long, Long)].collect().toMap
    assert(got === r)
  }

  test("pageRank: deterministic across partitionings") {
    val edges = (1L to 60L).map(i => (i, i * 7 % 61)).toDF("src", "dst")
    val a = Graphs.pageRank(edges, "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val b = Graphs.pageRank(edges.repartition(11), "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("pageRank: dangling-heavy star — hub drains, leaves hold base") {
    // Star 1 → {2..5}: node 1 has no inflow, leaves split its rank.
    val edges = (2L to 5L).map(d => (1L, d)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toMap
    val scale = 1000000000000L
    val base = 15L * scale / (100L * 5L)
    assert(got(1L) === base)
    val leafIn = 85L * (scale / 5L / 4L) / 100L
    (2L to 5L).foreach(d => assert(got(d) === base + leafIn))
  }

  test("labelPropagation: barbell graph resolves to one community per clique") {
    import spark.implicits._
    // Two K4 cliques {1..4} and {5..8} joined by the bridge 4-5. Hand
    // simulation of 3 synchronous min-tie-break rounds: clique A
    // converges to label 1, clique B to label 5 (the bridge vote never
    // outnumbers the in-clique majority).
    def k4(o: Long) = for {
      a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (o + a, o + b)
    val edges = (k4(1) ++ k4(5) :+ ((4L, 5L))).toDF("s", "d")
    val got = Graphs.labelPropagation(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
    // Deterministic under a different physical layout.
    val again = Graphs.labelPropagation(edges.repartition(7), "s", "d",
        iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }
}
