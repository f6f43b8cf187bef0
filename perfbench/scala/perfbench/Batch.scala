package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry, Stage, Verify}

/** `batch_analytics`: one client running passes over eight gated queries
  * on seeded `events` and `documents` tables drawn like sf0.1's
  * (`EventRows`, `DocumentRows`). Writing them is not the program's
  * set-up, so its time is left out of `setup_s`.
  *
  *  - iterative, job-latency bound: `hits_scores`, `pagerank_events`,
  *    `textrank_terms`;
  *  - single-pass, shuffle bound: `rfm_segments`, `tfidf_sim`,
  *    `winnow_fingerprints`, `session_summary`;
  *  - `logstash_v1_json`, the producer's projection over all 100k rows in
  *    one action.
  *
  * Set-up runs one checked pass: every query is written the way
  * `graft.Verify` writes it, for run.py to compare against its DuckDB twin
  * (`SparkEntry.oracleSql`), and its row count and content hash are kept.
  * That pass also builds the `Stage` artifacts and warms the JIT; its
  * queries run concurrently, one per task thread. Timed
  * passes then follow `graft.Bench`'s cold-cache discipline — drain
  * `Caches`, clear the cache, build the frame, `count()` — until the
  * timed work reaches the run length; after each timed query, outside
  * the timing, its row count and hash must match the checked ones. */
object Batch {
  val Queries: Seq[String] = Seq("hits_scores", "pagerank_events",
    "textrank_terms", "rfm_segments", "tfidf_sim", "winnow_fingerprints",
    "session_summary", "logstash_v1_json")
  val OnDocuments = Set("textrank_terms", "tfidf_sim", "winnow_fingerprints")

  /** Row count plus an order-free sum of per-row hashes. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val EventCount = 100000
  val DocumentCount = 5000

  def run(spark: SparkSession, conf: Conf, tracer: Tracer): Outcome = {
    val genStart = Clock.nowUs()
    val sfDir = Files.createDirectories(conf.workDir.resolve("sf"))
    val rng = new SplittableRandom(conf.seed)
    EventRows.writeFile(sfDir.resolve("events.parquet"), 0L,
      EventRows.monthTs(EventCount, rng), rng)
    DocumentRows.writeFile(sfDir.resolve("documents.parquet"), DocumentCount, rng)
    val genUs = Clock.nowUs() - genStart
    val sf = sfDir.toString
    val out = Files.createDirectories(conf.workDir.resolve("verify"))
    def rowsIn(q: String) = if (OnDocuments(q)) DocumentCount else EventCount
    val checks = Seq.newBuilder[(String, Boolean, String)]
    var failed = 0L
    var attempted = 0L

    def fresh(): Unit = { Caches.releaseAll(); spark.catalog.clearCache() }

    // the checked pass is set-up, so it runs the queries side by side: cold
    // and one at a time it takes about 50 s on four cores, side by side 35 s
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cores)
    val checked = Queries.map { q =>
      q -> pool.submit[Either[String, (Long, Long, Long)]] { () =>
        try {
          val df = tracer.within(spark, s"check:$q")(SparkEntry.queries(q)(spark, sf))
          val dir = out.resolve(q).toString
          tracer.within(spark, s"check:$q") {
            Verify.orderedSingleFile(df)._1.write.mode("overwrite").parquet(dir)
          }
          Right(fingerprint(spark.read.parquet(dir)))
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      }
    }.map { case (q, f) => q -> f.get() }
    pool.shutdown()
    attempted += Queries.size
    val reference = checked.collect { case (q, Right(fp)) => q -> fp }.toMap
    checked.collect { case (q, Left(err)) =>
      failed += 1
      checks += ((s"$q.runs", false, err))
    }
    val oracle = Json.obj(Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q))))
    Files.writeString(out.resolve("oracle_sql.json"), oracle)

    val ws = Clock.nowUs()
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val passes = Seq.newBuilder[Double]
    var timedUs = 0L
    var pass = 0
    while (pass == 0 || timedUs < conf.seconds * 1000000L) {
      var passUs = 0L
      Queries.filter(reference.contains).foreach { q =>
        fresh()
        attempted += 1
        val id = s"q:$pass:$q"
        val t0 = Clock.nowUs()
        try {
          val df = tracer.within(spark, s"$id:build")(SparkEntry.queries(q)(spark, sf))
          val t1 = Clock.nowUs()
          tracer.within(spark, s"$id:action")(df.count())
          val t2 = Clock.nowUs()
          passUs += t2 - t0
          times(q) = times(q) :+ (t2 - t0) / 1000.0
          tracer.span(id, "workload", "query", q, t0, t2,
            "pass" -> pass.toDouble, "input_rows" -> rowsIn(q).toDouble)
          tracer.span(s"$id:build", id, "query", "build", t0, t1)
          tracer.span(s"$id:action", id, "query", "action", t1, t2)
          if (tracer.within(spark, s"$id:verify")(fingerprint(df)) != reference(q)) {
            failed += 1
            checks += ((s"$q.pass$pass", false, "row count or hash differs from the checked pass"))
          }
        } catch { case e: Throwable =>
          failed += 1
          checks += ((s"$q.pass$pass", false, s"${e.getClass.getName}: ${e.getMessage}"))
        }
      }
      timedUs += passUs
      passes += passUs / 1e6
      pass += 1
    }
    val we = Clock.nowUs()
    Caches.releaseAll(blocking = true)
    spark.catalog.clearCache()
    val heapMb = Stats.liveHeapMb()
    checks += (("timed_passes_reproduce_checked_results",
      !checks.result().exists(!_._2), s"$pass timed passes over ${reference.size} queries"))

    val stage = Stage.builds
    tracer.span("stage", "workload", "stage", "builds", conf.launchUs, ws,
      "builds" -> stage.size.toDouble,
      "build_s" -> stage.map(_._2.buildSec).sum,
      "bytes" -> stage.map(_._2.bytes.toDouble).sum)

    val perQuery = times.toSeq.map { case (_, ts) => Stats.median(ts) }.toArray
    val rowsDone = times.toSeq.map { case (q, ts) => rowsIn(q).toDouble * ts.size }.sum
    val secsDone = times.values.flatten.sum / 1000.0
    Outcome(
      metrics = Map(
        "records_per_s" -> (if (secsDone > 0) rowsDone / secsDone else 0.0),
        "latency_p50_ms" -> Stats.pct(perQuery, 50),
        "latency_p90_ms" -> Stats.pct(perQuery, 90),
        "latency_p99_ms" -> Stats.pct(perQuery, 99),
        "batch_s" -> Stats.median(passes.result()),
        "live_heap_mb" -> heapMb,
        "setup_s" -> (ws - conf.launchUs - genUs) / 1e6),
      attempted = attempted,
      failed = failed,
      checks = checks.result(),
      windowUs = (ws, we))
  }
}
