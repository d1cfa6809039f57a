package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{QueryDef, Registry}
import graft.core.Tables

/** Batch workloads: timed passes over a list of Registry queries, each
  * constructed through `QueryDef.run` and executed into the noop sink
  * (as the program's Bench main does). One untimed pass first writes
  * every result to parquet for run.py's output checks; it also fills
  * the JIT and codegen caches before timing. */
object Batch {

  /** Driver-bound board at the sf0.01 shape: one query per operator
    * family that fits the run (aggregate, OVER, projection, string
    * functions, CDC decoding, MATCH_RECOGNIZE), plus q_kcore, an
    * iterative graph query that runs Spark jobs while it is constructed. */
  val Sf001Queries: Seq[String] = Seq(
    "q1_agg", "q_over_rows", "q_calc", "q_func_string",
    "q_cdc_debezium", "q_match_recognize", "q_kcore")

  /** Data-bound board on the x10 copy: the queries whose time grows
    * most with rows (scan, shuffle, sort and aggregation work). */
  val X10Queries: Seq[String] = Seq(
    "q1_agg", "q_agg_percentile", "q_tpch_q21", "q_udagg_weighted_avg")

  /** The median of three passes stands one slow pass off. */
  val MinPasses = 3

  def run(cfg: Main.Cfg, names: Seq[String]): Map[String, Any] = {
    val queries = names.map(Registry.byName)
    val (spark, setupTimes) = Main.repeatedSetup[SparkSession](_.stop()) { _ =>
      val s = Main.session(cfg.cores, cfg.work)
      Tables.names.foreach(n => Tables.load(s, cfg.data, n).count())
      s
    }
    val rec = new Recorder
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val spans = new Spans
    val root = spans.open(s"run:${cfg.workload}", "run", -1)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // untimed check pass: results go to parquet for run.py
    val outDir = s"${cfg.work}/out"
    val checks = queries.map { q =>
      attempted += 1
      val path = s"$outDir/${q.name}"
      try q.run(spark, cfg.data).write.mode("overwrite").parquet(path)
      catch { case e: Throwable => failures += s"${q.name}: ${e.getMessage}" }
      resetState(spark)
      Map("query" -> q.name, "oracle" -> q.oracle.map(_.trim).orNull, "out" -> path)
    }

    Main.mark("check pass done")
    // timed passes, each over a seeded order of the query list
    val passes = mutable.ArrayBuffer.empty[Span]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val codegen = mutable.ArrayBuffer.empty[(Long, Long)]
    val heap = new LiveHeap(spark)
    heap.sample()
    val t0 = Clock.now
    val runMs = cfg.seconds * 1000
    while (passes.size < MinPasses || Clock.now - t0 < runMs) {
      val order = new Random(cfg.seed * 1000 + passes.size).shuffle(queries)
      val (c0, n0) = Layers.codegen()
      val (_, pass) = spans.time(s"pass:${passes.size}", "pass", root.id) { p =>
        order.foreach(q => runTimed(spark, cfg.data, q, spans, p, perQuery, failures))
      }
      val (c1, n1) = Layers.codegen()
      codegen += ((c1 - c0, n1 - n0))
      passes += pass
      heap.sample()
      attempted += order.size
    }
    spans.close(root)
    Main.mark(s"${passes.size} timed passes done")

    // A query's latency is its median over the passes. The central value
    // over the list is their geometric mean, which weighs every query the
    // same so fixed-cost cuts show; the median of a few unlike queries
    // jumps between neighbours (31% spread over ten runs).
    val queryMs = perQuery.values.map(v => Layers.median(v.toSeq)).toSeq
    val e2e = Map(
      "setup_s" -> Layers.median(setupTimes),
      "pass_s" -> Layers.median(passes.map(_.ms / 1000).toSeq),
      "latency_ms" -> Main.geomean(queryMs),
      "latency_tail_ms" -> (if (queryMs.isEmpty) 0.0 else queryMs.max),
      "live_heap_mb" -> heap.mb)

    var selfMs = Map.empty[String, Double]
    val layers: Map[String, Double] = if (!cfg.trace) Map.empty else {
      rec.drain()
      val per = passes.size.toDouble
      val querySpans = passes.flatMap(spans.children).toSeq
      val construct = querySpans.flatMap(spans.children).filter(_.kind == "construct")
      val gap = Layers.driverGap(rec, querySpans)
      val constructJobs = rec.jobs.count(j =>
        construct.exists(c => j.start >= c.start && j.start <= c.end))
      val zeros = Layers.names.map(_ -> 0.0).toMap
      selfMs = Layers.selfTimes(spans, rec).map { case (k, v) => k -> v / per }
      Layers.writeTrace(s"${cfg.work}/trace.jsonl", s"${cfg.workload}-${cfg.seed}", spans, rec, selfMs)
      zeros ++ Layers.spark(rec, passes.toSeq, cfg.cores, per) ++ Map(
        "queries.construct_ms" -> construct.map(_.ms).sum / per,
        "queries.construct_jobs" -> constructJobs / per,
        "codegen.compiles" -> codegen.map(_._1).sum / per,
        "codegen.compile_ms" -> codegen.map(_._2).sum / 1e6 / per,
        "driver.gap_ms" -> gap / per,
        "driver.gap_share" -> gap / querySpans.map(_.ms).sum)
    }
    spark.stop()
    Map("kind" -> "batch", "e2e" -> e2e, "layers" -> layers, "self_ms" -> selfMs,
      "samples" -> Map("setup_s" -> setupTimes.size, "pass_s" -> passes.size,
        "latency" -> queryMs.size, "live_heap_mb" -> (passes.size + 1)),
      "latency_tail_pct" -> 100.0, "query_ms" -> perQuery.map { case (k, v) => k -> v.toSeq },
      "pass_ms" -> passes.map(_.ms).toSeq,
      "attempted" -> attempted, "failures" -> failures.toSeq, "checks" -> checks,
      "state_store" -> "none", "valid" -> true)
  }

  /** One timed query: construct (QueryDef.run, which may itself run jobs)
    * then execute into the noop sink. A failure is recorded, not timed. */
  private def runTimed(spark: SparkSession, dir: String, q: QueryDef,
      spans: Spans, pass: Span, perQuery: mutable.Map[String, mutable.ArrayBuffer[Double]],
      failures: mutable.ArrayBuffer[String]): Unit = {
    val qs = spans.open(q.name, "query", pass.id)
    try {
      val (df, _) = spans.time("construct", "construct", qs.id)(_ => q.run(spark, dir))
      spans.time("execute", "execute", qs.id) { _ =>
        df.write.format("noop").mode("overwrite").save()
      }
      spans.close(qs)
      perQuery.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += qs.ms
    } catch {
      case e: Throwable =>
        spans.close(qs)
        failures += s"${q.name}: ${e.getMessage}"
    } finally resetState(spark)
  }

  /** As the program's Bench main does between queries: iterative queries
    * leave checkpointed and cached RDDs that would crowd later ones. */
  private def resetState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
