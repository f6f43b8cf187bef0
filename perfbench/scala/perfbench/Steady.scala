package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.KinesisSinkConfig
import graft.operators.Logstash
import graft.sources.LogSource
import graft.streaming.{InMemoryKinesis, ProducerPipeline}

/** `stream_steady`: one docker host's log stream at a steady open-loop
  * rate. A single generator thread releases one parquet file of events
  * every 200 ms (1,000 records/s, 40% of the reference's 2,500 records/s
  * per-shard read ceiling) into the directory `ProducerPipeline.start`
  * watches. At 80% of the ceiling a co-tenant slowing the host pushed the
  * consumer's batches past its 200 ms trigger, the backlog outgrew the
  * store and records were dropped; at 40% the loop keeps up through a
  * host running at half speed. The producer runs with the reference defaults (1 s flush,
  * batches of 10, 10 attempts, constant docker-host key, so one of four
  * shards takes every record) into a 10,000-record store, and the
  * consumer reads it back on a 200 ms trigger.
  *
  * Every file is written during set-up with `ts` equal to its due time,
  * so a record's latency runs from when it was due — not from when the
  * generator got to it — to the end of the consumer batch that emitted
  * it. The producer's 1 s and the consumer's 200 ms triggers sit on fixed
  * epoch grids. Slots start on whole seconds, so every producer batch
  * takes the five files of the second before it, and each file is due at
  * a seeded random point of its slot: files phase-locked to the grids
  * would make latency a staircase of 200 ms steps whose percentiles jump
  * between runs. */
object Steady {
  val RowsPerTick = 200
  val TickUs = 200000L
  val WarmTicks = 40

  def run(spark: SparkSession, conf: Conf, tracer: Tracer): Outcome = {
    val name = "perfbench-steady"
    val store = InMemoryKinesis.create(name, 4, 10000)
    val cfg = KinesisSinkConfig(streamName = name)
    val staging = Files.createDirectories(conf.workDir.resolve("staging"))
    val src = Files.createDirectories(conf.workDir.resolve("src"))
    val rng = new SplittableRandom(conf.seed)
    val ticks = WarmTicks + conf.seconds * 5
    val offered = RowsPerTick.toLong * (ticks + 1)
    def file(k: Int) = f"tick-$k%05d.parquet"
    def stamp(tsUs: Long) = Array.fill(RowsPerTick)(tsUs)
    def release(k: Int): Unit = Files.move(staging.resolve(file(k)),
      src.resolve(file(k)), StandardCopyOption.ATOMIC_MOVE)

    // tick 0 primes the source directory: LogSource reads the ts unit
    // from the first file when the stream starts
    val primeUs = Clock.nowUs()
    EventRows.writeFile(staging.resolve(file(0)), 0L, stamp(primeUs), rng)
    release(0)
    // every later file carries its due time, so the schedule is fixed
    // before they are written: time a few throwaway files first, and start
    // the schedule once all of them will be on disk
    val calib = Files.createDirectories(conf.workDir.resolve("calibrate"))
    val perFileUs = (1 to 4).map { i =>
      val t = Clock.nowUs()
      EventRows.writeFile(calib.resolve(file(i)), 0L, stamp(primeUs),
        new SplittableRandom(i))
      Clock.nowUs() - t
    }.drop(1).max
    val t0 = ((Clock.nowUs() + 2 * ticks * perFileUs) / 1000000L + 2L) * 1000000L
    val offsetUs = {
      val r = new SplittableRandom(~conf.seed)
      Array.fill(ticks + 1)(r.nextLong(TickUs))
    }
    def due(k: Int): Long =
      if (k == 0) primeUs else t0 + (k - 1) * TickUs + offsetUs(k)
    (1 to ticks).foreach(k => EventRows.writeFile(staging.resolve(file(k)),
      k.toLong * RowsPerTick, stamp(due(k)), rng))

    val producer = ProducerPipeline.start(spark, src.toString, cfg,
      conf.workDir.resolve("ckpt-producer").toString)
    tracer.watch(producer, "producer")
    val sink = new StreamSink(name)
    val consumer = sink.start(spark,
      conf.workDir.resolve("ckpt-consumer").toString, Some(200L))
    tracer.watch(consumer, "consumer")

    val releasedUs = new Array[Long](ticks + 1)
    releasedUs(0) = primeUs
    val gen = new Thread(() => (1 to ticks).foreach { k =>
      Clock.sleepUntilUs(due(k))
      release(k)
      releasedUs(k) = Clock.nowUs()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val ws = t0 + WarmTicks * TickUs
    val we = ws + conf.seconds * 1000000L

    StreamSink.await(60000)(sink.consumed.get() + store.dropped.get() >= offered)
    val heapMb = Stats.liveHeapMb()
    producer.stop(); consumer.stop()
    StreamSink.await(5000)(tracer.batches("consumer").nonEmpty)

    // latency over the records due in the window
    val latMs = Seq.newBuilder[Double]
    sink.batches.foreach { g =>
      g.eid.foreach { e =>
        val d = due((e / RowsPerTick).toInt)
        if (d >= ws && d < we) latMs += (g.endUs - d) / 1000.0
      }
    }
    val lat = latMs.result().toArray
    val trig = tracer.batches("consumer")
      .filter(b => b.startUs >= ws && b.startUs < we).map(_.triggerMs / 1000.0)

    // correctness: delivery, accounting and payloads
    val counts = InMemoryKinesis.shardCounts(name)
    val (delivery, deliveryBad) = sink.deliveryChecks(s => counts(s), 4)
    val consumedIds = sink.batches.flatMap(_.eid).distinct
    val lost = offered - consumedIds.size - store.dropped.get()
    val foreign = consumedIds.count(e => e < 0 || e >= offered)
    val released = spark.read.schema(LogSource.eventsSchema).parquet(src.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val msgs = LogSource.asRouterMessages(released)
    val expected = msgs.select(col("event_id"),
        xxhash64(Logstash.jsonize(Logstash.v1Doc(msgs, cfg.dockerHost))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (payload, payloadBad) = sink.payloadCheck(expected)
    val checks = delivery ++ Seq(
      ("offered_consumed_or_dropped", lost == 0 && foreign == 0,
        s"offered=$offered consumed=${consumedIds.size} dropped=${store.dropped.get()} foreign=$foreign"),
      ("all_files_released", expected.size == offered,
        s"${expected.size} of $offered generated rows found in the source directory"),
      payload)

    val lateMs = (1 to ticks).map(k => (releasedUs(k) - due(k)) / 1000.0).toArray
    tracer.span("generator", "workload", "generator", "generator", t0,
      releasedUs(ticks), "offered" -> offered.toDouble,
      "late_ms_p99" -> Stats.pct(lateMs, 99))
    (1 to ticks).foreach(k => tracer.span(s"tick:$k", "generator",
      "generator", "tick", due(k), releasedUs(k), "rows" -> RowsPerTick.toDouble))
    StreamSink.storeSpan(tracer, store, name)
    sink.emitSpans(tracer)
    InMemoryKinesis.delete(name)

    Outcome(
      metrics = Map(
        "records_per_s" -> sink.ratePerS(ws, we),
        "latency_p50_ms" -> Stats.pct(lat, 50),
        "latency_p90_ms" -> Stats.pct(lat, 90),
        "latency_p99_ms" -> Stats.pct(lat, 99),
        "batch_s" -> Stats.median(trig),
        "live_heap_mb" -> heapMb,
        "setup_s" -> (ws - conf.launchUs) / 1e6),
      attempted = offered,
      failed = store.dropped.get() + math.abs(lost) + foreign + deliveryBad + payloadBad,
      checks = checks,
      windowUs = (ws, we))
  }
}
