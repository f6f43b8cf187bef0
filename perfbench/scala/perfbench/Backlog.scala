package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.KinesisSinkConfig
import graft.operators.{Logstash, Routing}
import graft.sources.LogSource
import graft.streaming.{InMemoryKinesis, ProducerPipeline}

/** `stream_backlog`: catch-up after consumer downtime. Set-up pre-loads a
  * backlog of serialized Logstash V1 records through
  * `ProducerPipeline.deliverBatch`, keyed by sixteen docker hosts chosen so
  * that each of the eight shards gets two, into a store without a
  * capacity limit. The DSv2 consumer then drains it with the 500-record
  * fetch cap and no trigger interval, so fixed per-batch costs (planning,
  * offset log, commit, the gap between triggers) bound the rate.
  *
  * A record is due when the trigger that admits it starts, so its latency
  * is the time from that trigger's start to the end of the batch that
  * emitted it. */
object Backlog {
  val Shards = 8
  val WarmUs = 2000000L
  /** Records pre-loaded per second of warm-up and window: the drain ran
    * near 24,000 records/s at the seed commit on four cores, so the
    * backlog outlasts the window with room for a faster drain. */
  val RecordsPerSecond = 40000L

  def run(spark: SparkSession, conf: Conf, tracer: Tracer): Outcome = {
    val name = "perfbench-backlog"
    val store = InMemoryKinesis.create(name, Shards, Int.MaxValue)
    val cfg = KinesisSinkConfig(streamName = name, numShards = Shards)
    val n = RecordsPerSecond * (conf.seconds + WarmUs / 1000000L)

    // the backlog's events, one file per task thread; writing them is not
    // the program's set-up, so its time is left out of setup_s
    val genStart = Clock.nowUs()
    val dir = Files.createDirectories(conf.workDir.resolve("backlog"))
    val rng = new SplittableRandom(conf.seed)
    val ts = EventRows.monthTs(n.toInt, rng)
    val per = (ts.length + conf.cores - 1) / conf.cores
    ts.grouped(per).zipWithIndex.foreach { case (part, i) =>
      EventRows.writeFile(dir.resolve(f"part-$i%02d.parquet"), i.toLong * per, part, rng)
    }
    val genUs = Clock.nowUs() - genStart
    val events = spark.read.schema(LogSource.eventsSchema).parquet(dir.toString)
      .withColumn("ts", timestamp_micros(col("ts")))

    val hosts = perShardKeys(spark, 2)
    val msgs = LogSource.asRouterMessages(events)
    val payload = msgs.select(col("event_id"),
      Logstash.jsonize(Logstash.v1Doc(msgs, cfg.dockerHost)).as("log_json"),
      element_at(array(hosts.map(lit): _*),
        (pmod(col("event_id"), lit(hosts.size.toLong)) + 1).cast("int"))
        .as("partition_key"))
    val loadStart = Clock.nowUs()
    tracer.within(spark, "preload")(ProducerPipeline.deliverBatch(payload, cfg))
    tracer.span("preload", "workload", "producer", "deliverBatch", loadStart,
      Clock.nowUs(), "rows" -> n.toDouble)

    val sink = new StreamSink(name)
    val tc = Clock.nowUs()
    val consumer = sink.start(spark,
      conf.workDir.resolve("ckpt-consumer").toString, None)
    tracer.watch(consumer, "consumer")
    StreamSink.await(60000)(sink.batches.exists(_.endUs >= tc + WarmUs) ||
      sink.consumed.get() >= n)
    val ws = sink.batches.map(_.endUs).filter(_ >= tc + WarmUs).headOption
      .getOrElse(Clock.nowUs())
    val we = ws + conf.seconds * 1000000L
    StreamSink.await(conf.seconds * 1000L + 60000)(
      Clock.nowUs() >= we || sink.consumed.get() >= n)
    val heapMb = Stats.liveHeapMb()
    consumer.stop()
    val lastId = sink.batches.lastOption.map(_.batchId).getOrElse(-1L)
    StreamSink.await(5000)(tracer.batches("consumer").exists(_.batchId >= lastId))

    val inWin = sink.batches.filter(g => g.endUs >= ws && g.endUs < we)
    val starts = tracer.batches("consumer").map(b => b.batchId -> b).toMap
    val latMs = inWin.flatMap { g =>
      starts.get(g.batchId).map(b => (g.endUs - b.startUs) / 1000.0)
        .map(Seq.fill(g.eid.length)(_)).getOrElse(Nil)
    }.toArray
    val trig = tracer.batches("consumer")
      .filter(b => b.endUs >= ws && b.endUs < we).map(_.triggerMs / 1000.0)

    // correctness: the consumed prefix of every shard, and its payloads
    val top = sink.batches.flatMap(g => g.shard.indices.map(i => g.shard(i) -> g.seq(i)))
      .groupBy(_._1).map { case (s, xs) => s -> (xs.map(_._2).max + 1) }
    val (delivery, deliveryBad) =
      sink.deliveryChecks(s => top.getOrElse(s, 0L), Shards)
    val expected = payload.select(col("event_id"), xxhash64(col("log_json")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (payloadOk, payloadBad) = sink.payloadCheck(expected)
    val preloadOk = store.delivered.get() == n && store.dropped.get() == 0
    val checks = delivery ++ Seq(
      ("preload_complete", preloadOk,
        s"delivered=${store.delivered.get()} dropped=${store.dropped.get()} of $n"),
      payloadOk)

    StreamSink.storeSpan(tracer, store, name)
    sink.emitSpans(tracer)
    InMemoryKinesis.delete(name)

    Outcome(
      metrics = Map(
        "records_per_s" -> sink.ratePerS(ws, we),
        "latency_p50_ms" -> Stats.pct(latMs, 50),
        "latency_p90_ms" -> Stats.pct(latMs, 90),
        "latency_p99_ms" -> Stats.pct(latMs, 99),
        "batch_s" -> Stats.median(trig),
        "live_heap_mb" -> heapMb,
        "setup_s" -> (ws - conf.launchUs - genUs) / 1e6),
      attempted = math.max(1L, sink.consumed.get()),
      failed = deliveryBad + payloadBad + (if (preloadOk) 0 else 1),
      checks = checks,
      windowUs = (ws, we))
  }

  /** `perShard` docker-host names for each shard, found by routing
    * candidate names with the producer's own `Routing.shardFor`. */
  def perShardKeys(spark: SparkSession, perShard: Int): Seq[String] = {
    import spark.implicits._
    val cand = (0 until 400).map(i => f"dockerhost-$i%03d").toDF("k")
    val routed = cand.select(col("k"), Routing.shardFor(col("k"), Shards))
      .collect().map(r => r.getInt(1) -> r.getString(0))
    val keys = (0 until Shards).flatMap(s =>
      routed.filter(_._1 == s).map(_._2).sorted.take(perShard))
    require(keys.size == Shards * perShard, s"could not key every shard: $keys")
    keys
  }
}
