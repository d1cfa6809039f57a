package graft.operators

import graft.SparkSpec
import scala.util.Random

/** k-core peeling on closed-form graphs and seeded random graphs. */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int) = {
    val und = KCore.symmetrize(edges.toDF("src", "dst"), "src", "dst")
    KCore.run(und, "src", "dst", _ => k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Plain sequential peel: drop every node of degree < k until none
    * is left; the surviving nodes with their in-core degrees. */
  private def referenceCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var live = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.toSet
    var low = Set.empty[Long]
    do {
      live = live.filter { case (a, b) => !low(a) && !low(b) }
      low = live.toSeq.groupBy(_._1).collect {
        case (n, es) if es.size < k => n }.toSet
    } while (low.nonEmpty)
    live.toSeq.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  test("3-core of a 4-clique with a pendant path is exactly the clique") {
    // clique 1-2-3-4 plus path 4-5-6: peeling at k=3 removes 6 (deg 1),
    // then 5 (deg 1 after 6 goes) — multi-round peel
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val got = core(edges, 3)
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got.values.forall(_ === 3L))
  }

  test("k above the max clique degree empties the graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    assert(core(edges, 3).isEmpty)
  }

  test("2-core keeps cycles, drops trees") {
    // triangle + tree hanging off node 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 10L), (10L, 11L),
      (10L, 12L))
    val got = core(edges, 2)
    assert(got.keySet === Set(1L, 2L, 3L))
  }

  test("random graphs: the peel equals a plain sequential peel at every k") {
    // also with AQE off, broadcasts off and an odd partition count: the
    // lazy checkpoints must materialize in the right order without
    // AQE's stage-by-stage execution too
    val plain = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "7")
    for (conf <- Seq(Map.empty[String, String], plain)) {
      val prev = conf.keys.map(c => c -> spark.conf.get(c)).toMap
      conf.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        val rnd = new Random(42)
        var emptied, nonEmpty = 0
        for (_ <- 1 to 6) {
          val n = 6 + rnd.nextInt(20)
          val edges = Seq.fill(n + rnd.nextInt(3 * n))(
            (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          val maxDeg = referenceCore(edges, 0).values.max.toInt
          // k = 1 keeps every non-isolated node; maxDeg + 1 always empties
          for (k <- Seq(1, 2, 3, maxDeg, maxDeg + 1).distinct) {
            val want = referenceCore(edges, k)
            assert(core(edges, k) === want, s"k=$k conf=$conf edges=$edges")
            if (want.isEmpty) emptied += 1 else nonEmpty += 1
          }
        }
        assert(emptied > 0 && nonEmpty > 0)
      } finally prev.foreach { case (c, v) => spark.conf.set(c, v) }
    }
  }

  test("k is derived once, from the exact round-0 degree histogram") {
    // clique 1-2-3-4 plus path 4-5-6: degrees 1:3 2:3 3:3 4:4 5:2 6:1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val und = KCore.symmetrize(edges.toDF("src", "dst"), "src", "dst")
    var seen = Seq.empty[KCore.Histogram]
    val got = KCore.run(und, "src", "dst", h => { seen :+= h; 3 }).collect()
    assert(seen === Seq(Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 1L))))
    assert(got.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("non-convergence within maxRounds throws instead of returning a non-core") {
    // path 1-2-...-12 at k=2: each round peels only the two endpoints,
    // so it takes 6 edge-removing rounds to drain. maxRounds counts
    // only rounds that remove edges (the stop check needs no round of
    // its own), so 2 rounds cannot drain it — the partial live set is
    // not a 2-core
    val path = (1L to 11L).map(i => (i, i + 1))
    val und = KCore.symmetrize(path.toDF("src", "dst"), "src", "dst")
    val e = intercept[IllegalArgumentException] {
      KCore.run(und, "src", "dst", _ => 2, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // exactly the 6 removing rounds suffice, and the 2-core is empty
    assert(KCore.run(und, "src", "dst", _ => 2, maxRounds = 6).collect().isEmpty)
  }

  test("symmetrize drops self-loops and dedups both directions") {
    val und = KCore.symmetrize(
      Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("src", "dst"), "src", "dst")
    assert(und.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 1L)))
  }
}
