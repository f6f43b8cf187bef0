package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Parameters of one benchmark JVM, passed by run.py as `--key value`. */
final case class Conf(workload: String, workDir: Path, seed: Long,
                      seconds: Int, trace: Boolean, launchUs: Long,
                      cores: Int)

/** What a workload hands back: end-to-end metrics (by the names in
  * BENCHMARK.json), how many operations it attempted and how many failed,
  * and the outcome of every correctness check. */
final case class Outcome(metrics: Map[String, Double], attempted: Long,
                         failed: Long, checks: Seq[(String, Boolean, String)],
                         windowUs: (Long, Long))

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val conf = Conf(
      workload = kv("workload"),
      workDir = Paths.get(kv("work")),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv("trace") == "1",
      launchUs = kv("launch-us").toLong,
      cores = kv("cores").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(conf.trace)
    tracer.install(spark)
    val out = conf.workload match {
      case "stream_steady"   => Steady.run(spark, conf, tracer)
      case "stream_backlog"  => Backlog.run(spark, conf, tracer)
      case "batch_analytics" => Batch.run(spark, conf, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span("workload", "", "workload", conf.workload, conf.launchUs,
      Clock.nowUs(), "window_start_us" -> out.windowUs._1.toDouble,
      "window_end_us" -> out.windowUs._2.toDouble)
    tracer.finish()
    if (conf.trace) tracer.write(conf.workDir.resolve("spans.jsonl"))
    Files.writeString(conf.workDir.resolve("result.json"), Json.outcome(out))
    spark.stop()
  }
}

object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Sleeps to within a millisecond of `targetUs`, then spins to it. */
  def sleepUntilUs(targetUs: Long): Unit = {
    val ms = (targetUs - nowUs()) / 1000 - 1
    if (ms > 0) Thread.sleep(ms)
    while (nowUs() < targetUs) Thread.onSpinWait()
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Array[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50)

  /** Used heap once it has settled after explicit full collections, in
    * MB. Spark's ContextCleaner frees blocks of collected RDDs only after a
    * collection, so collect until two readings agree within 1%. */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 0.01 * prev && n < 6) {
      prev = cur; cur = used(); n += 1
    }
    cur
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def outcome(o: Outcome): String = obj(Seq(
    "metrics" -> obj(o.metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "checks" -> o.checks.map { case (n, ok, msg) =>
      obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(msg)))
    }.mkString("[", ",", "]")))
}
