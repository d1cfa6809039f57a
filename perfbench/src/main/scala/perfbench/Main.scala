package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by run.py on the classpath the build
  * exports. One JVM runs one workload:
  *
  *   perfbench.Main --workload W --seed N --seconds T --trace 0|1
  *                  --data DIR --work DIR --cores C
  *   perfbench.Main --make-x10 BASE_DIR OUT_DIR
  *   perfbench.Main --train DATA_DIR WORK_DIR CORES
  *
  * A workload run sets the session up three times (setup_s is their
  * median), runs the workload, and writes `result.json` to the work
  * directory: the end-to-end measurements, the outputs run.py checks,
  * and, with --trace 1, the per-layer metrics plus `trace.jsonl`.
  *
  * `--train` runs each workload once, briefly and traced, so that a JVM
  * started with -XX:ArchiveClassesAtExit archives every class a run loads.
  */
object Main {
  final case class Cfg(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cores: Int)

  val Setups = 3

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--make-x10")) {
      val spark = session(math.min(4, Runtime.getRuntime.availableProcessors),
        args(2) + ".tmp")
      try graft.ScaleData.write(spark, args(1), args(2), 10)
      finally spark.stop()
      sys.exit(0)
    }
    if (args.headOption.contains("--train")) {
      val cfg = Cfg("train", 1L, 0.0, trace = true, args(1), args(2), args(3).toInt)
      Batch.run(cfg, Batch.Sf001Queries)
      Streams.run(cfg)
      sys.exit(0)
    }
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("cores").toInt)
    val result: Map[String, Any] = cfg.workload match {
      case "batch_sf001" => Batch.run(cfg, Batch.Sf001Queries)
      case "batch_x10" => Batch.run(cfg, Batch.X10Queries)
      case "stream_window" => Streams.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val env = Map("seed" -> cfg.seed, "cores" -> cfg.cores,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "java" -> System.getProperty("java.version"))
    val out = new java.io.PrintWriter(s"${cfg.work}/result.json", "UTF-8")
    try out.println(Json(result ++ env)) finally out.close()
    mark("result written")
    sys.exit(0)
  }

  /** The same session settings as the program's Bench main, with every
    * scratch directory inside the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `setup` [[Setups]] times, stopping all but the last session;
    * returns the last one's value and the setup durations in seconds. */
  def repeatedSetup[T](stop: T => Unit)(setup: Int => T): (T, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until Setups).foreach { i =>
      last.foreach(stop)
      val t0 = System.nanoTime()
      last = Some(setup(i))
      times += (System.nanoTime() - t0) / 1e9
      mark(s"setup $i took ${times.last} s")
    }
    (last.get, times.toSeq)
  }

  /** Median and the highest percentile (at most p99) that leaves at
    * least ten samples beyond it; the maximum when fewer than twenty
    * samples put that percentile below the median. */
  def distribution(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return Map("n" -> 0)
    val pct = if (n < 20) 1.0 else math.min(0.99, math.floor((1.0 - 10.0 / n) * 100) / 100)
    val tail = s(math.max(0, math.ceil(pct * n).toInt - 1))
    Map("n" -> n, "p50" -> Layers.median(s), "tail" -> tail, "tail_pct" -> pct * 100)
  }

  /** Phase marks in the harness log, with seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1000.0}%.2f s: $what")

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length else 0L
}
