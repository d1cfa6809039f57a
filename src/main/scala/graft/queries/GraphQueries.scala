package graft.queries

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{LabelPropagation, PageRank}
import Q._

/** Graph-analytics surface: PageRank over the bipartite part—supplier
  * graph (who supplies what, from lineitem). The DuckDB oracle replays
  * ALL iterations as generated chained CTEs with the identical 2^-20
  * quantized arithmetic — an end-to-end hash check of an iterative
  * distributed graph computation. (Connected components has its own
  * rows-only query + spec in PipelineQueries — its label-propagation
  * iteration count is data-dependent, so it can't be a fixed CTE chain.)
  */
object GraphQueries {

  private val Iters = 4
  private val LpaIters = 3

  /** Chained-CTE replay: pr_i from pr_{i-1}, same fp op order as
    * PageRank.run (double casts everywhere — bare DuckDB decimals would
    * silently switch the division to decimal arithmetic). */
  private def oracle(iters: Int): String = {
    val base = """
      WITH e0 AS (
        SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
        FROM lineitem),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM und GROUP BY src),
      pr0 AS (SELECT src AS node, CAST(1 AS DOUBLE) AS pr FROM deg)"""
    val its = (1 to iters).map { i =>
      s""",
      pr$i AS (
        SELECT d.src AS node,
          (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
            + CAST(0.85 AS DOUBLE) * COALESCE(
              SUM(FLOOR(p.pr / ed.outdeg * 1048576) / CAST(1048576 AS DOUBLE)),
              CAST(0 AS DOUBLE)) AS pr
        FROM deg d
        LEFT JOIN und u ON u.dst = d.src
        LEFT JOIN pr${i - 1} p ON p.node = u.src
        LEFT JOIN deg ed ON ed.src = u.src
        GROUP BY d.src)"""
    }.mkString
    base + its + s"\n      SELECT node, pr FROM pr$iters"
  }

  val defs: Seq[QueryDef] = Seq(

    // KMV distinct sketch (operators.Sketches): estimate distinct parts
    // per return flag with k=256 — the portable md5 hash makes even the
    // ESTIMATE hash-comparable: the oracle rebuilds the same synopsis
    // (k-th minimum via window rank) and applies the identical formula.
    QueryDef("q_kmv_distinct", (s, dir) => {
      import graft.operators.Sketches
      // fan-out guard (§2.5): the portable-md5 sketch pass is CPU-dense
      // per byte and ran in 3 scan tasks on the single-file bench input
      // (profiled 2.0 s); both aggregates consume the SAME round-robin
      // exchange (identical pruned projection below it), so the scan
      // still happens once. No-op on real multi-file tables.
      val li = fanOut(t(s, dir, "lineitem"))
      // sketch and exact count in SEPARATE aggregates, joined on the
      // 3-row result: mixing a distinct-aggregate into the sketch's
      // Aggregate triggers Spark's Expand rewrite, which doubles the
      // scan rows AND re-keys the sketch's partial aggregation by the
      // distinct key — one sketch buffer per (flag, partkey) instead of
      // per flag. The whole point of the synopsis is to avoid the
      // exact-distinct shuffle, so at scale they never share a plan.
      val kmv = li.groupBy(col("l_returnflag"))
        .agg(Sketches.kmvDistinct(
          Sketches.portableHash32(col("l_partkey")), 256).as("kmv_est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
      kmv.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("kmv_est"), col("exact"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      WITH h AS (
        SELECT DISTINCT l_returnflag,
          ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS hv
        FROM lineitem),
      r AS (
        SELECT l_returnflag, hv,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
          COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM h),
      syn AS (
        SELECT l_returnflag, MAX(n) AS n,
          MAX(CASE WHEN rn = 256 THEN hv END) AS hk
        FROM r GROUP BY l_returnflag)
      SELECT s.l_returnflag,
        CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
             ELSE CAST(1095216660480 AS DOUBLE) / CAST(hk AS DOUBLE)
        END AS kmv_est,
        e.exact
      FROM syn s
      JOIN (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact
            FROM lineitem GROUP BY 1) e USING (l_returnflag)
      ORDER BY l_returnflag""")),

    QueryDef("q_pagerank", (s, dir) => {
      // integral namespaced ids: parts even, suppliers odd
      val e = t(s, dir, "lineitem").select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      PageRank.run(e, "src", "dst", Iters)
    }, Some(oracle(Iters))),

    // KMV set ALGEBRA in-plan — the operation HLL cannot do and the
    // reason operators.Sketches exists: estimate cross-corpus shingle
    // overlap (union, Jaccard, intersection) from two tiny synopses
    // WITHOUT rescanning either corpus. The two halves (source parity)
    // are sketched independently (k smallest portable hashes of word
    // 3-gram shingles); the union synopsis is the k smallest of the
    // merged synopses (exact sketch identity, Beyer et al. 2007 §4) and
    // Jaccard over it estimates the intersection. Exact counts computed
    // alongside as ground truth (the expensive join the sketch path
    // avoids at 100 TB). The oracle replays synopses, algebra, and
    // estimator arithmetic; everything hash-matches including the
    // estimate doubles.
    QueryDef("q_kmv_overlap", (s, dir) => {
      import graft.operators.{Sketches, TextDedup}
      import org.apache.spark.sql.Encoders
      val k = 256
      val docs = fanOut(t(s, dir, "documents")) // shingle explode (§2.5 guard)
      // materialize the deduped (group, hash) table once for its two
      // consumers (synopses; exact counts+intersection) — without it
      // the explode+distinct shuffle re-runs per consumer, which the
      // 10× scale spot-check surfaced as the query's super-linear term
      val dh = docs.select(
          (substring(col("source"), 4, 10).cast("int") % 2).as("g"),
          explode(TextDedup.shingles(col("text"), 3)).as("gram"))
        .select(col("g"), Sketches.portableHash32(col("gram")).as("h"))
        .distinct()
        .localCheckpoint(true)
      val kmv = udaf(new Sketches.KmvSketch(k), Encoders.scalaLong)
      val syn = dh.groupBy(col("g")).agg(kmv(col("h")).as("s"))
      val ab = syn.filter(col("g") === 0).select(col("s").as("sa"))
        .crossJoin(syn.filter(col("g") === 1).select(col("s").as("sb")))
        .select(col("sa"), col("sb"),
          slice(array_sort(array_distinct(concat(col("sa"), col("sb")))),
            1, k).as("u"))
      val est = ab.select(
        when(size(col("u")) < k, size(col("u")).cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) /
            element_at(col("u"), k).cast("double")).as("est_union"),
        (size(filter(col("u"), x =>
            array_contains(col("sa"), x) && array_contains(col("sb"), x)))
          .cast("double") / size(col("u")).cast("double")).as("est_jaccard"))
        .select(col("est_union"), col("est_jaccard"),
          (col("est_jaccard") * col("est_union")).as("est_inter"))
      // exact counts AND exact intersection from ONE per-hash
      // aggregate (presence flags per group, then three sums) —
      // replaces the a⋈b hash join, so dh has two consumers, both
      // combinable aggregations
      val counts = dh
        .groupBy(col("h")).agg(
          max(when(col("g") === 0, 1).otherwise(0)).as("a"),
          max(when(col("g") === 1, 1).otherwise(0)).as("b"))
        .agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
          count(when(col("a") === 1 && col("b") === 1, 1))
            .as("inter_exact"))
      counts.crossJoin(est)
    }, Some("""
      WITH sh AS (
        SELECT CAST(substr(source, 4) AS INT) % 2 AS g,
          array_to_string(ws[i:i+2], ' ') AS gram
        FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) d,
          (SELECT unnest(generate_series(1, 4000)) AS i) gi
        WHERE i <= GREATEST(len(ws) - 2, 1)),
      dh AS (
        SELECT DISTINCT g,
          ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h
        FROM sh),
      r AS (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM dh),
      syn AS (
        SELECT g, LIST(h ORDER BY h) AS s FROM r WHERE rn <= 256 GROUP BY g),
      ab AS (
        SELECT a.s AS sa, b.s AS sb,
          (list_sort(list_distinct(list_concat(a.s, b.s))))[1:256] AS u
        FROM syn a, syn b WHERE a.g = 0 AND b.g = 1),
      est AS (
        SELECT
          CASE WHEN len(u) < 256 THEN CAST(len(u) AS DOUBLE)
               ELSE CAST(1095216660480 AS DOUBLE) / CAST(u[256] AS DOUBLE)
          END AS est_union,
          CAST(len(list_filter(u, x ->
              list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
            / CAST(len(u) AS DOUBLE) AS est_jaccard
        FROM ab)
      SELECT
        (SELECT COUNT(*) FROM dh WHERE g = 0) AS n_a,
        (SELECT COUNT(*) FROM dh WHERE g = 1) AS n_b,
        (SELECT COUNT(*) FROM (SELECT h FROM dh WHERE g = 0) x
           JOIN (SELECT h FROM dh WHERE g = 1) y USING (h)) AS inter_exact,
        est_union, est_jaccard, est_jaccard * est_union AS est_inter
      FROM est""")),

    // HITS hub/authority over the directed supplier→part relation:
    // suppliers are hubs, parts authorities (operators.Hits — quantized
    // max-normalized iterations). Like q_pagerank, the oracle replays
    // EVERY iteration as chained CTEs with the identical 2^-20
    // arithmetic and hash-matches the score doubles.
    QueryDef("q_hits", (s, dir) => {
      val e = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("h"), col("l_partkey").as("a"))
      graft.operators.Hits.run(e, "h", "a", Iters)
        .orderBy(col("kind"), col("id"))
    }, Some(hitsOracle(Iters))),

    // Label-propagation communities (operators.LabelPropagation) over
    // the low-volume slice of the part—supplier graph (thin edges →
    // many small communities instead of one giant bipartite blob).
    // All-integer votes + total tie order make the labels a pure
    // function of the graph: the oracle replays every iteration as a
    // chained-CTE neighbor-majority argmax and hash-matches exactly.
    QueryDef("q_label_prop", (s, dir) => {
      val e = t(s, dir, "lineitem").filter(col("l_quantity") <= 3)
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      LabelPropagation.run(e, "src", "dst", LpaIters)
        .orderBy(col("node"))
    }, Some(lpaOracle(LpaIters))),

    // k-core decomposition (operators.KCore): iterative peel of the
    // part—supplier graph at a DATA-DERIVED k (60th-percentile degree,
    // floored above the min degree so the peel is never a no-op at any
    // SF). The k-core is UNIQUE and all arithmetic is integral, so the
    // oracle replays the peel as a DuckDB recursive CTE (each level =
    // the live edge set after one peel round, window-function degrees,
    // early exit at the fixpoint) and hash-matches (node, core_deg)
    // exactly — same replay discipline as lpaOracle. The gate query
    // below stays as belt-and-suspenders.
    QueryDef("q_kcore", (s, dir) => {
      graft.operators.KCore.run(kcoreEdges(s, dir), "src", "dst", kcoreK)
        .orderBy(col("node"))
    }, Some("""
      WITH RECURSIVE und AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
          SELECT 2*l_partkey AS src, 2*l_suppkey+1 AS dst FROM lineitem
          UNION ALL
          SELECT 2*l_suppkey+1 AS src, 2*l_partkey AS dst FROM lineitem)
        WHERE src <> dst),
      degs AS MATERIALIZED (
        SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
      -- k = max(min_degree + 1, exact 60th-percentile degree), the same
      -- derivation as kcoreK (integer division!)
      kparam AS MATERIALIZED (
        SELECT GREATEST(
          (SELECT MIN(deg) FROM degs) + 1,
          (SELECT deg FROM (
             SELECT deg, ROW_NUMBER() OVER (ORDER BY deg, src) AS rn
             FROM degs)
           WHERE rn = ((SELECT COUNT(*) FROM degs) - 1) * 6 // 10 + 1))
          AS k),
      -- level r+1 = edges whose BOTH endpoints keep degree >= k at
      -- level r (symmetric edge list: partition-by-src counts the src
      -- degree, partition-by-dst the dst degree); mind >= k is the
      -- fixpoint — emit nothing and stop
      peel(src, dst, r) AS (
        SELECT src, dst, 0 FROM und
        UNION ALL
        SELECT src, dst, r + 1 FROM (
          SELECT src, dst, r, ds, dd, MIN(ds) OVER () AS mind FROM (
            SELECT src, dst, r,
              COUNT(*) OVER (PARTITION BY src) AS ds,
              COUNT(*) OVER (PARTITION BY dst) AS dd
            FROM peel))
        WHERE mind < (SELECT k FROM kparam)
          AND ds >= (SELECT k FROM kparam)
          AND dd >= (SELECT k FROM kparam)),
      last AS (SELECT src, dst FROM peel
               WHERE r = (SELECT MAX(r) FROM peel)),
      cdeg AS (SELECT src AS node, COUNT(*) AS core_deg
               FROM last GROUP BY src)
      -- empty-core guard: if the last non-empty level is not itself a
      -- k-core (its successor was empty), the true core is empty
      SELECT node, core_deg FROM cdeg
      WHERE (SELECT MIN(core_deg) FROM cdeg) >= (SELECT k FROM kparam)""")),

    // k-core gate oracle: (a) every survivor keeps >= k surviving
    // neighbors, (b) the reported core degrees match a recount over
    // the surviving subgraph, (c) every REMOVED node has < k surviving
    // neighbors, (d) the peel removed something (guaranteed by the
    // k > min-degree floor). (a)+(c) hold only for the true k-core —
    // together they pin the unique maximal min-degree->=k subgraph.
    QueryDef("q_kcore_gate", (s, dir) => {
      import s.implicits._
      // checkpointed: the peel and the checks below all read it
      val und = kcoreEdges(s, dir).localCheckpoint(true)
      var k = 0 // the k the peel derived, certified below
      val core = graft.operators.KCore.run(und, "src", "dst",
        h => { k = kcoreK(h); k })
      val survivors = core.select(col("node"))
      val coreEdges = und
        .join(survivors.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
      val recount = coreEdges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val nSurv = core.count()
      val survivorsOk = nSurv == 0 ||
        recount.agg(min(col("d"))).head().getLong(0) >= k
      val consistent = nSurv == recount.count() &&
        core.join(recount, col("node") === col("src"))
          .filter(col("core_deg") =!= col("d")).count() == 0
      val allNodes = und.select(col("src").as("node")).distinct()
      val removed = allNodes.join(survivors, Seq("node"), "left_anti")
      val removedOverK = und
        .select(col("src").as("node"), col("dst"))
        .join(removed, Seq("node"), "left_semi")
        .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).count()
      Seq(("survivors_have_core_degree", survivorsOk),
        ("core_degrees_consistent", consistent),
        ("removed_below_k", removedOverK == 0L),
        ("peel_removed_something", removed.count() > 0))
        .toDF("variant", "ok")
    }, Some("""
      SELECT * FROM (VALUES
        ('survivors_have_core_degree', true),
        ('core_degrees_consistent', true),
        ('removed_below_k', true),
        ('peel_removed_something', true)) AS t(variant, ok)"""),
      bench = false)
  )

  /** Symmetrized part—supplier graph, the k-core queries' input. */
  private def kcoreEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.KCore.symmetrize(t(s, dir, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")), "src", "dst")

  /** The data-derived peel threshold, read off the round-0 degree
    * histogram: k = max(min_degree + 1, exact 60th-percentile degree).
    * The percentile is the degree at index (n-1)*6/10 of the nodes
    * sorted by degree — the oracle breaks ties by src, which cannot
    * change the degree found there. */
  private def kcoreK(h: graft.operators.KCore.Histogram): Int = {
    val idx = (h.map(_._2).sum - 1) * 6 / 10
    val below = h.scanLeft(0L)(_ + _._2) // nodes of lower degree
    val p60 = h.zip(below).collectFirst {
      case ((d, m), lo) if idx < lo + m => d }.getOrElse(0L)
    math.max(h.headOption.fold(0L)(_._1) + 1, p60).toInt
  }

  /** Chained-CTE LPA replay: l_i votes from l_{i-1}, argmax via
    * ROW_NUMBER ordered (cnt DESC, label ASC) — the same total order as
    * LabelPropagation.run's max(struct(cnt, -label)). MATERIALIZED so
    * DuckDB derives each level once instead of inlining the chain. */
  private def lpaOracle(iters: Int): String = {
    val base = """
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
        FROM lineitem WHERE l_quantity <= 3),
      und AS MATERIALIZED (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM und)"""
    val its = (1 to iters).map { i =>
      s""",
      l$i AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT u.dst AS node, l.label,
            ROW_NUMBER() OVER (PARTITION BY u.dst
              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
          FROM und u JOIN l${i - 1} l ON l.node = u.src
          GROUP BY u.dst, l.label)
        WHERE rn = 1)"""
    }.mkString
    base + its + s"\n      SELECT node, label FROM l$iters ORDER BY node"
  }

  /** Chained-CTE HITS replay: a_i from h_{i-1}, h_i from a_i, each side
    * max-normalized then floor-quantized — same fp op order as
    * Hits.run. Every CTE is MATERIALIZED: each level is referenced
    * twice (the FROM and the MAX scalar subquery), so DuckDB's default
    * inlining re-derives the whole chain per reference — 2^iters
    * blowup that turns a sub-second replay into minutes. */
  private def hitsOracle(iters: Int): String = {
    val base = """
      WITH e AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS hub_id, l_partkey AS auth_id
        FROM lineitem),
      h0 AS MATERIALIZED (
        SELECT DISTINCT hub_id, CAST(1 AS DOUBLE) AS hub FROM e)"""
    val its = (1 to iters).map { i =>
      s""",
      a${i}s AS MATERIALIZED (
        SELECT auth_id, SUM(hub) AS s
        FROM e JOIN h${i - 1} USING (hub_id) GROUP BY 1),
      a$i AS MATERIALIZED (
        SELECT auth_id,
          FLOOR(s / (SELECT MAX(s) FROM a${i}s) * 1048576)
            / CAST(1048576 AS DOUBLE) AS hub
        FROM a${i}s),
      h${i}s AS MATERIALIZED (
        SELECT hub_id, SUM(a$i.hub) AS s
        FROM e JOIN a$i USING (auth_id) GROUP BY 1),
      h$i AS MATERIALIZED (
        SELECT hub_id,
          FLOOR(s / (SELECT MAX(s) FROM h${i}s) * 1048576)
            / CAST(1048576 AS DOUBLE) AS hub
        FROM h${i}s)"""
    }.mkString
    base + its + s"""
      SELECT kind, id, score FROM (
        SELECT 'auth' AS kind, auth_id AS id, hub AS score FROM a$iters
        UNION ALL
        SELECT 'hub' AS kind, hub_id AS id, hub AS score FROM h$iters)
      ORDER BY kind, id"""
  }
}
