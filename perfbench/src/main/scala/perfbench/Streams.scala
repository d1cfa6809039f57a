package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, Trigger}

import graft.api.TableEnv

/** Yahoo Streaming Benchmark ad event (Structured Streaming, SIGMOD 2018). */
final case class AdEvent(user_id: Long, ad_id: Long, event_type: String, ts: Timestamp)

/** The stream workload, Yahoo Streaming Benchmark shaped: a Flink SQL
  * statement run through `TableEnv.executeSql` over a seeded ad-event
  * stream, on the default (HDFS-backed) state store. After setup, one
  * stream (one source, one checkpoint) goes through three phases:
  *
  *  1. open loop: the query runs on a fixed processing-time trigger and a
  *     generator thread adds events on schedule, each stamped with its
  *     due time. A window result's latency is its emit time minus the
  *     due time of the last event it counts. The first second is not
  *     sampled.
  *  2. drains: the query restarts from its checkpoint with the default
  *     trigger; a pre-generated backlog is added in chunks of a fixed
  *     size, each processed as one micro-batch. `pass_s` is the median
  *     drain time.
  *  3. check: the sink's final contents are compared with a plain Scala
  *     recomputation over every event the stream was fed.
  */
object Streams {

  /** Open-loop offered rate (events/s) and trigger interval. A run whose
    * generator falls further behind its schedule than one trigger
    * interval is invalid. */
  val Rate = 2000
  val TriggerMs = 2000L
  val MinDrains = 5
  val DrainEvents = 20000
  val ChunkCap = 10000
  val Campaigns = 1000
  val AdsPerCampaign = 10

  /** Filter, stream-static join, 2 s tumbling count per campaign, in
    * group-window syntax, which keeps the watermark on the grouping key
    * so closed windows are emitted in append mode. The window equals the
    * trigger interval, so every window closes at the same phase of the
    * trigger and latency reads the batch cost, not where a run started. */
  private val WindowSql =
    """SELECT c.campaign_id, TUMBLE_START(e.ts, INTERVAL '2' SECOND) AS window_start,
      |       COUNT(*) AS views, MAX(e.ts) AS last_ts
      |FROM ad_events e
      |JOIN campaigns c ON e.ad_id = c.ad_id
      |WHERE e.event_type = 'view'
      |GROUP BY c.campaign_id, TUMBLE(e.ts, INTERVAL '2' SECOND)""".stripMargin

  private val EventTypes = Array("view", "click", "purchase")

  private def campaign(adId: Long): Long = adId / AdsPerCampaign

  /** Window results by (campaign, window start): (views, last event ms),
    * plus the latency of each result emitted while `sampling`. */
  private final class Sink {
    val results = mutable.Map.empty[(Long, Long), (Long, Long)]
    val latencies = mutable.ArrayBuffer.empty[Double]
    @volatile var sampling = false
    val write: (Dataset[Row], Long) => Unit = (batch, _) => {
      val rows = batch.collect()
      val emit = System.currentTimeMillis().toDouble
      synchronized {
        rows.foreach { r =>
          val last = r.getAs[Timestamp]("last_ts").getTime
          results((r.getAs[Long]("campaign_id"), r.getAs[Timestamp]("window_start").getTime)) =
            (r.getAs[Long]("views"), last)
          if (sampling) latencies += emit - last
        }
      }
    }
  }

  /** A fresh source read as `partitions` splits per batch, as from a log
    * with that many partitions however often events arrive, plus the
    * static campaigns table. */
  private def source(spark: SparkSession, partitions: Int): MemoryStream[AdEvent] = {
    import spark.implicits._
    (0L until Campaigns.toLong * AdsPerCampaign)
      .map(a => (a, campaign(a))).toDF("ad_id", "campaign_id")
      .createOrReplaceTempView("campaigns")
    val mem = MemoryStream[AdEvent](spark, partitions)(Encoders.product[AdEvent])
    mem.toDF().withWatermark("ts", "200 milliseconds").createOrReplaceTempView("ad_events")
    mem
  }

  private def start(spark: SparkSession, sink: Sink, ckpt: String, trigger: Trigger): StreamingQuery =
    TableEnv(spark).executeSql(WindowSql).writeStream.outputMode("append")
      .foreachBatch(sink.write).trigger(trigger)
      .option("checkpointLocation", ckpt).start()

  def run(cfg: Main.Cfg): Map[String, Any] = {
    val rnd = new Random(cfg.seed)
    val all = mutable.ArrayBuffer.empty[AdEvent]
    /** The next `n` events of the run, the first stamped `firstTsMs`
      * and the rest following at the offered rate. */
    def take(n: Int, firstTsMs: Double): Seq[AdEvent] = {
      val es = (0 until n).map { i =>
        AdEvent(rnd.nextInt(100000).toLong,
          rnd.nextInt(Campaigns * AdsPerCampaign).toLong, EventTypes(rnd.nextInt(3)),
          new Timestamp((firstTsMs + i * 1000.0 / Rate).toLong))
      }
      all ++= es
      es
    }
    val asFastAsPossible = Trigger.ProcessingTime(0L)

    // setup: session, tables, stream start and its first micro-batch
    val (started, setupTimes) =
      Main.repeatedSetup[(SparkSession, MemoryStream[AdEvent], Sink, StreamingQuery, String, Int)] {
        case (s, _, _, q, ckpt, _) => q.stop(); s.stop(); Main.deleteTree(new java.io.File(ckpt))
      } { i =>
        val s = Main.session(cfg.cores, cfg.work)
        val ckpt = s"${cfg.work}/checkpoint-$i"
        Main.deleteTree(new java.io.File(ckpt))
        val mem = source(s, cfg.cores)
        val sink = new Sink
        val q = start(s, sink, ckpt, asFastAsPossible)
        val from = all.size
        mem.addData(take(1000, System.currentTimeMillis() - 1000.0 * 1000 / Rate))
        q.processAllAvailable()
        (s, mem, sink, q, ckpt, from)
      }
    // events fed to the stopped setup streams are not part of this one
    val (spark, mem, sink, setupQuery, ckpt, streamFrom) = started
    setupQuery.stop()
    val rec = new Recorder
    val progress = new ProgressLog
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      spark.streams.addListener(progress)
    }
    val spans = new Spans
    val root = spans.open(s"run:${cfg.workload}", "run", -1)
    val failures = mutable.ArrayBuffer.empty[String]

    // 1. open loop, on the trigger interval
    val openQuery = start(spark, sink, ckpt, Trigger.ProcessingTime(TriggerMs))
    val openMs = 1000 + cfg.seconds * 600
    var maxLag = 0.0
    val (_, open) = spans.time("open_loop", "open_loop", root.id) { _ =>
      val t0 = System.currentTimeMillis().toDouble
      var sent = 0L
      val gen = new Thread(() => {
        var now = System.currentTimeMillis().toDouble
        while (now - t0 < openMs) {
          val due = ((now - t0) * Rate / 1000).toLong
          if (due > sent) {
            val es = take((due - sent).toInt, t0 + sent * 1000.0 / Rate)
            maxLag = math.max(maxLag, now - es.head.ts.getTime)
            mem.addData(es)
            sent = due
          }
          sink.sampling = now - t0 >= 1000
          Thread.sleep(10)
          now = System.currentTimeMillis().toDouble
        }
      })
      gen.start()
      gen.join()
      openQuery.processAllAvailable()
      sink.sampling = false
    }
    openQuery.stop()
    Main.mark("open loop done")
    val heap = new LiveHeap(spark)
    heap.sample()

    // 2. drains of a pre-generated backlog, chunk by chunk, after one
    // untimed chunk that absorbs the restart's first-batch cost
    val q = start(spark, sink, ckpt, asFastAsPossible)
    var nextTs = all.last.ts.getTime + 1.0
    def chunk(): Seq[AdEvent] = {
      val es = take(ChunkCap, nextTs)
      nextTs = es.last.ts.getTime + 1.0
      es
    }
    mem.addData(chunk())
    q.processAllAvailable()
    val drains = mutable.ArrayBuffer.empty[Span]
    while (drains.size < MinDrains || open.ms + drains.map(_.ms).sum < cfg.seconds * 1000) {
      val chunks = Seq.fill(DrainEvents / ChunkCap)(chunk())
      val (_, d) = spans.time(s"drain:${drains.size}", "drain", root.id) { ds =>
        chunks.foreach { c =>
          spans.time("micro_batch", "micro_batch", ds.id) { _ =>
            mem.addData(c)
            q.processAllAvailable()
          }
        }
      }
      drains += d
      heap.sample()
    }
    spans.close(root)
    Main.mark(s"${drains.size} drains done")

    // 3. check. Two views a minute later move the watermark past every
    // window still open; the second batch runs with the first one's
    // watermark and emits them. (Spark pushes the event_type filter below
    // the watermark, so filtered-out events would not move it.) Windows
    // from `flushFrom` on hold only these and are not checked.
    val flushFrom = nextTs.toLong + 58000
    Seq(60000L, 62000L).foreach { d =>
      mem.addData(AdEvent(0L, 0L, "view", new Timestamp(nextTs.toLong + d)))
      q.processAllAvailable()
    }
    val threw = (q.exception ++ openQuery.exception).toSeq
    failures ++= threw.map(_.getMessage)
    val want = mutable.Map.empty[(Long, Long), (Long, Long)]
    all.iterator.drop(streamFrom).filter(_.event_type == "view").foreach { e =>
      val k = (campaign(e.ad_id), e.ts.getTime / 2000 * 2000)
      val (n, m) = want.getOrElse(k, (0L, Long.MinValue))
      want(k) = (n + 1, math.max(m, e.ts.getTime))
    }
    val got = sink.synchronized(sink.results.toMap).filter(_._1._2 < flushFrom)
    val keys = want.keySet ++ got.keySet
    val differ = keys.filter(k => want.get(k) != got.get(k)).toSeq
    failures ++= differ.take(5).map(k => s"window $k: got ${got.get(k)} want ${want.get(k)}")
    if (differ.nonEmpty) failures += s"${differ.size} window results differ"

    val dist = Main.distribution(sink.latencies.toSeq)
    val drainS = drains.map(_.ms / 1000).toSeq
    val e2e = Map(
      "setup_s" -> Layers.median(setupTimes),
      "pass_s" -> Layers.median(drainS),
      "latency_ms" -> dist.getOrElse("p50", 0.0),
      "latency_tail_ms" -> dist.getOrElse("tail", 0.0),
      "live_heap_mb" -> heap.mb)

    var selfMs = Map.empty[String, Double]
    val layers: Map[String, Double] = if (!cfg.trace) Map.empty else {
      rec.drain()
      val ps = progress.in(open.start, root.end)
      def med(k: String) = Layers.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val ops = ps.map(_.stateOperators.toSeq)
      def opSum(p: Seq[StateOperatorProgress], f: StateOperatorProgress => Long) =
        p.map(f).sum.toDouble
      val lastOps = ops.lastOption.getOrElse(Seq.empty)
      val windows = Seq(open) ++ drains
      val gap = Layers.driverGap(rec, windows)
      selfMs = Layers.selfTimes(spans, rec)
      Layers.writeTrace(s"${cfg.work}/trace.jsonl", s"${cfg.workload}-${cfg.seed}", spans, rec, selfMs)
      Layers.names.map(_ -> 0.0).toMap ++ Layers.spark(rec, windows, cfg.cores, 1.0) ++ Map(
        "driver.gap_ms" -> gap,
        "driver.gap_share" -> gap / windows.map(_.ms).sum,
        "stream.batches" -> ps.size.toDouble,
        "stream.batch_ms" -> med("triggerExecution"),
        "stream.add_batch_ms" -> med("addBatch"),
        "stream.query_planning_ms" -> med("queryPlanning"),
        "stream.wal_commit_ms" -> med("walCommit"),
        "stream.commit_offsets_ms" -> med("commitOffsets"),
        "stream.latest_offset_ms" -> med("latestOffset"),
        "stream.rows_per_batch" ->
          (if (ps.isEmpty) 0.0 else ps.map(_.numInputRows.toDouble).sum / ps.size),
        "stream.nonempty_batch_ratio" ->
          (if (ps.isEmpty) 0.0 else ps.count(_.numInputRows > 0).toDouble / ps.size),
        "state.rows_total" -> opSum(lastOps, _.numRowsTotal),
        "state.memory_bytes" -> opSum(lastOps, _.memoryUsedBytes),
        "state.rows_updated" -> ops.map(opSum(_, _.numRowsUpdated)).sum,
        "state.rows_removed" -> ops.map(opSum(_, _.numRowsRemoved)).sum,
        "state.commit_ms" -> Layers.median(ops.map(opSum(_, _.commitTimeMs))),
        "state.update_ms" -> Layers.median(ops.map(opSum(_, _.allUpdatesTimeMs))),
        "state.removal_ms" -> Layers.median(ops.map(opSum(_, _.allRemovalsTimeMs))),
        "state.checkpoint_bytes" -> Main.treeBytes(new java.io.File(s"$ckpt/state")).toDouble,
        "state.late_rows_dropped" -> ops.map(opSum(_, _.numRowsDroppedByWatermark)).sum,
        "source.lag_ms" -> maxLag)
    }
    q.stop()
    spark.stop()
    Map("kind" -> "stream", "e2e" -> e2e, "layers" -> layers, "self_ms" -> selfMs,
      "samples" -> Map("setup_s" -> setupTimes.size, "pass_s" -> drains.size,
        "latency" -> dist("n"), "live_heap_mb" -> (drains.size + 1)),
      "latency_tail_pct" -> dist.getOrElse("tail_pct", 0.0),
      "events_per_s" -> DrainEvents / Layers.median(drainS),
      "offered_rate" -> Rate, "trigger_ms" -> TriggerMs,
      "source_lag_ms" -> maxLag, "valid" -> (maxLag <= TriggerMs),
      "attempted" -> (keys.size + threw.size), "failed" -> (differ.size + threw.size),
      "failures" -> failures.toSeq, "state_store" -> "hdfs", "checks" -> Seq.empty)
  }
}
