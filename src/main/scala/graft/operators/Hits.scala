package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (Kleinberg 1999) hub/authority scoring over a bipartite edge
  * list — the other classic link-analysis signal next to
  * [[PageRank]]: in corpus curation, authority ranks the linked-to
  * side (domains/parts) while hub ranks the linking side
  * (aggregators/suppliers), and the two converge to the principal
  * singular vectors of the adjacency matrix.
  *
  * Numeric discipline (same family as PageRank's 2^-20 quantization,
  * plus a max-normalization step): scores are floor-quantized to
  * multiples of 2^-20 after each normalization, so every SUM input is
  * an exact binary fraction with 20 fractional bits — sums of up to
  * ~2^32 such terms are exact (<= 53 mantissa bits), hence
  * order-independent and identical on any engine/partitioning. The
  * per-side normalization divides by the side's MAX (exact over exact
  * sums) — one IEEE division + one floor per node, the same op
  * sequence the DuckDB oracle replays, making q_hits hash-comparable.
  *
  * Scale shape: the distinct edge list is persisted ONCE, partitioned
  * on the hub key; each half-iteration is one join against a
  * node-sized score table + one shuffle on the opposite key for the
  * sum; the MAX is a broadcast scalar. Score tables are materialized
  * with eager localCheckpoint so lineage never grows with the
  * iteration count. State per node is O(1).
  */
object Hits {

  private val Q = 1048576L // 2^20

  /** HITS over bipartite edges hub→authority. Returns
    * (kind 'hub'|'auth', id, score) with scores in (0, 1], max = 1 per
    * side. Classic update order: authorities from hubs first, then
    * hubs from the NEW authorities. */
  def run(edges: DataFrame, hubCol: String, authCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(hubCol).as("hub_id"), col(authCol).as("auth_id"))
      .distinct()
      .repartition(col("hub_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var hub = e.select(col("hub_id")).distinct().withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    // checkpoint + normalization denominator in ONE action per
    // half-iteration (Checkpoints.trackedWith): the lazy checkpoint's
    // materializing action is the max aggregate itself, and the max
    // rides to the driver as that job's result — a driver-side scalar,
    // exactly the single row the previous
    // crossJoin(broadcast(asum.agg(max))) formulation collected anyway,
    // minus the BroadcastExchange build and the nested-loop-join node
    // per half-iteration. The division is the same IEEE op against the
    // same max, so scores are bit-identical.
    def maxOfS(df: DataFrame): Double = {
      val r = df.agg(max(col("s"))).head()
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0) // empty side
    }
    // deterministic block release: hsum_{t-1} frees once asum_t
    // materializes (hub_t is a lazy view over it); asum_t frees once
    // hsum_t materializes — EXCEPT the final iteration's, whose lazy
    // auth/hub projections feed the output
    var releaseHsum: () => Unit = () => ()
    for (i <- 1 to iterations) {
      // checkpoint the SUM table, not the normalized scores: `asum`
      // feeds both the max scalar and the main select, so an
      // unmaterialized asum would run the edge join + groupBy twice
      // per half-iteration. The normalization itself is a node-sized
      // scan with a literal divisor — cheap to leave lazy.
      val (asum, amax, releaseAsum) = Checkpoints.trackedWith(
        e.join(hub, Seq("hub_id"))
          .groupBy(col("auth_id")).agg(sum(col("hub")).as("s")))(maxOfS)
      releaseHsum()
      // StableScalar, not lit: the max changes every half-iteration, and
      // an inlined double makes each iteration's fused stage a distinct
      // codegen source -> Janino recompile per round (the dominant
      // inter-job driver gap, 2.7 s over 38 jobs at sf0.1). As a codegen
      // reference object the per-iteration sources are byte-identical
      // and hit the compile cache. Same IEEE division, same scores.
      auth = asum.select(col("auth_id"),
        (floor(col("s") / graft.functions.StableScalar.col(amax) * Q)
          / lit(Q.toDouble)).as("auth"))
      val (hsum, hmax, rh) = Checkpoints.trackedWith(
        e.join(auth, Seq("auth_id"))
          .groupBy(col("hub_id")).agg(sum(col("auth")).as("s")))(maxOfS)
      if (i < iterations) releaseAsum()
      releaseHsum = rh
      hub = hsum.select(col("hub_id"),
        (floor(col("s") / graft.functions.StableScalar.col(hmax) * Q)
          / lit(Q.toDouble)).as("hub"))
    }
    val out = auth.select(lit("auth").as("kind"), col("auth_id").as("id"),
        col("auth").as("score"))
      .unionAll(hub.select(lit("hub").as("kind"), col("hub_id").as("id"),
        col("hub").as("score")))
    e.unpersist()
    out
  }

  /** Driver-side reference with identical quantized arithmetic — spec
    * ground truth on small graphs. */
  def reference(edges: Seq[(Long, Long)], iterations: Int)
      : (Map[Long, Double], Map[Long, Double]) = {
    val es = edges.distinct
    def quant(x: Double): Double = math.floor(x * Q) / Q.toDouble
    var hub = es.map(_._1).distinct.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to iterations) {
      val asum = es.groupBy(_._2).map { case (a, g) =>
        a -> g.map(x => hub(x._1)).sum
      }
      val amax = asum.values.max
      auth = asum.map { case (a, s) => a -> quant(s / amax) }
      val hsum = es.groupBy(_._1).map { case (h, g) =>
        h -> g.map(x => auth(x._2)).sum
      }
      val hmax = hsum.values.max
      hub = hsum.map { case (h, s) => h -> quant(s / hmax) }
    }
    (hub, auth)
  }
}
