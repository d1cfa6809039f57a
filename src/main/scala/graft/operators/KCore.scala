package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (public algorithm:
  * Seidman 1983, "Network structure and minimum degree"; the standard
  * distributed formulation peels all sub-k-degree nodes each round) —
  * the graph-curation filter that strips weakly-connected periphery
  * (spam pages, orphan entities) before link-based scoring like
  * PageRank/HITS.
  *
  * Degree-first rounds, barrier-synchronous like every Pregel-style
  * loop here. Round r aggregates the live edge set into the node-degree
  * table and runs ONE action: it collects the table's degree histogram
  * as (degree, nodes) pairs. The live edges and the degree table are
  * lazy tracked checkpoints ([[Checkpoints]]), so that action's job
  * materializes both. k is a function of the round-0 histogram (a
  * fixed k is `_ => k`), so a data-derived k costs no pass of its own.
  *
  * Stop rule: the histogram's smallest degree is >= k, or it is empty.
  * The live set is then the k-core and its degree table IS the result:
  * no round that only confirms convergence, no count, no final
  * re-aggregation. Otherwise a semi-join filter keeps the edges whose
  * endpoints both have degree >= k; that is round r+1's live set. Work
  * per round is linear in the live edge count, which only shrinks.
  * Round r's blocks are released once round r+1 has materialized
  * (relying on the ContextCleaner retained R rounds of edge copies).
  *
  * The k-core is UNIQUE (the maximal subgraph with min degree >= k),
  * which is what lets the gate oracle certify the result exactly:
  * (a) every survivor keeps >= k surviving neighbors, (b) every
  * removed node has < k surviving neighbors — (a)+(b) hold only for
  * the true k-core.
  *
  * Reference has no k-core operator; this rides the same edge tables
  * as [[PageRank]]/[[Hits]] (Gelly, the reference's graph library, is
  * a separate project).
  */
object KCore {

  /** Degree histogram of an edge set: (degree, nodes with that
    * degree), ascending by degree. */
  type Histogram = Seq[(Long, Long)]

  /** Surviving nodes of the k-core with their in-core degree.
    * `edges` must be a SYMMETRIC simple edge list (src, dst) — use
    * [[symmetrize]] for a directed/one-sided input. `k` is applied
    * once, to the input's degree histogram. `maxRounds` bounds the
    * rounds that remove edges. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      k: Histogram => Int, maxRounds: Int = 100): DataFrame = {
    def degrees(liveEdges: DataFrame) = Checkpoints.trackedWith(
      liveEdges.groupBy(col("src")).agg(count(lit(1)).as("deg")))(histogram)
    var (live, _, releaseLive) = Checkpoints.trackedWith(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))(_ => ())
    var (deg, hist, releaseDeg) = degrees(live)
    val kk = k(hist)
    require(kk >= 1, "k must be >= 1")
    var removals = 0
    while (hist.nonEmpty && hist.head._1 < kk) {
      require(removals < maxRounds,
        s"k-core peel did not converge within $maxRounds rounds " +
          s"(${hist.map { case (d, m) => d * m }.sum} live edges remain); " +
          "raise maxRounds — the current live set would NOT be a k-core")
      // both semi-joins read the SAME keep frame, so AQE builds one
      // broadcast for both; no join hint, so it may broadcast at all
      val keep = deg.filter(col("deg") >= kk).select(col("src").as("node"))
      val (next, _, releaseNext) = Checkpoints.trackedWith(live
        .join(keep, col("src") === col("node"), "left_semi")
        .join(keep, col("dst") === col("node"), "left_semi"))(_ => ())
      val (nextDeg, nextHist, releaseNextDeg) = degrees(next)
      releaseLive() // round r+1 is materialized: free round r
      releaseDeg()
      live = next
      releaseLive = releaseNext
      deg = nextDeg
      hist = nextHist
      releaseDeg = releaseNextDeg
      removals += 1
    }
    releaseLive()
    deg.select(col("src").as("node"), col("deg").as("core_deg"))
  }

  private def histogram(deg: DataFrame): Histogram =
    deg.rdd.map(_.getLong(1)).countByValue().toSeq.sortBy(_._1)

  /** Undirected simple view of a directed edge list: both directions,
    * self-loops dropped, duplicates collapsed. */
  def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }
}
