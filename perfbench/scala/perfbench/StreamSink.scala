package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.InMemoryKinesis

/** Records one consumer micro-batch collected by the benchmark: when it ended,
  * and per record its shard, per-shard sequence number, event id and
  * payload hash. `lag` is the store's records not yet consumed once the
  * batch is in; `backlog` the store's un-acked size seen at its start. */
final case class Got(batchId: Long, endUs: Long, shard: Array[Int],
                     seq: Array[Long], eid: Array[Long], hash: Array[Long],
                     lag: Long, backlog: Long)

/** The consumer both stream workloads run: the DSv2 `graft-kinesis`
  * source with the reference's 500-record fetch cap, into a sink that
  * collects what each batch emitted. Payloads are hashed on the executors
  * so the benchmark holds a few longs per record, not the documents. */
final class StreamSink(stream: String) {
  val got = new ConcurrentLinkedQueue[Got]()
  val consumed = new AtomicLong()

  def start(spark: SparkSession, checkpoint: String,
            triggerMs: Option[Long]): StreamingQuery = {
    val w = spark.readStream.format("graft-kinesis")
      .option("stream", stream)
      .option("maxRecordsPerFetch", "500")
      .load()
      .select(col("shard"), col("seq"),
        EventRows.idOfPayload(col("data")).as("eid"),
        xxhash64(col("data")).as("h"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) => take(df, id) }
    triggerMs.fold(w)(ms => w.trigger(Trigger.ProcessingTime(ms))).start()
  }

  private def take(df: DataFrame, id: Long): Unit = {
    val backlog = InMemoryKinesis.get(stream).size.get().toLong
    val rows = df.collect()
    val total = consumed.addAndGet(rows.length)
    val end = Clock.nowUs()
    got.add(Got(id, end, rows.map(_.getInt(0)), rows.map(_.getLong(1)),
      rows.map(_.getLong(2)), rows.map(_.getLong(3)),
      InMemoryKinesis.shardCounts(stream).sum - total, backlog))
  }

  def batches: Seq[Got] = got.asScala.toSeq.sortBy(_.batchId)

  /** Records of the batches that ended in [ws, we), per second from the end
    * of the batch before them to the end of the last of them. */
  def ratePerS(ws: Long, we: Long): Double = {
    val bs = batches
    val in = bs.filter(g => g.endUs >= ws && g.endUs < we)
    val from = bs.filter(_.endUs < ws).lastOption.map(_.endUs).getOrElse(ws)
    if (in.isEmpty) 0.0
    else in.map(_.eid.length).sum / ((in.last.endUs - from) / 1e6)
  }

  def emitSpans(tracer: Tracer): Unit = batches.foreach { g =>
    tracer.span(s"sink:${g.batchId}", "workload", "sink", "batch", g.endUs,
      g.endUs, "rows" -> g.shard.length.toDouble, "lag" -> g.lag.toDouble,
      "backlog" -> g.backlog.toDouble)
  }

  /** Delivery checks over everything consumed: each (shard, seq) at most
    * once, and each shard's consumed sequence numbers a gap-free run from
    * 0 to `upTo(shard)` (exclusive). Returns the checks and how many
    * records broke them. */
  def deliveryChecks(upTo: Int => Long, shards: Int)
      : (Seq[(String, Boolean, String)], Long) = {
    val bs = batches
    val perShard = Array.fill(shards)(new scala.collection.mutable.BitSet())
    var dups = 0L
    bs.foreach(g => g.shard.indices.foreach { i =>
      val s = g.shard(i); val q = g.seq(i).toInt
      if (perShard(s)(q)) dups += 1 else perShard(s) += q
    })
    val gaps = (0 until shards).map { s =>
      val want = upTo(s)
      val have = perShard(s)
      val inRange = have.count(_ < want)
      (want - inRange) + (have.size - inRange)
    }.sum
    (Seq(
      ("exactly_once_per_shard_seq", dups == 0, s"$dups duplicate (shard, seq) records"),
      ("contiguous_shard_seqs", gaps == 0, s"$gaps sequence numbers missing or out of range")),
      dups + gaps)
  }

  /** Payload check: every consumed record's hash equals `expected(eid)`;
    * unknown ids count as mismatches. */
  def payloadCheck(expected: scala.collection.Map[Long, Long])
      : ((String, Boolean, String), Long) = {
    var bad = 0L
    batches.foreach(g => g.eid.indices.foreach { i =>
      if (!expected.get(g.eid(i)).contains(g.hash(i))) bad += 1
    })
    (("payloads_match_logstash_v1", bad == 0,
      s"$bad consumed payloads differ from jsonize(v1Doc(...)) of their rows"), bad)
  }
}

object StreamSink {
  /** Polls until `cond` holds or `timeoutMs` passes; returns `cond`. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  /** The store's counters at the end of the run, as one span. */
  def storeSpan(tracer: Tracer, store: InMemoryKinesis.Stream,
                name: String): Unit = {
    val counts = InMemoryKinesis.shardCounts(name)
    val mean = counts.sum.toDouble / counts.size
    val now = Clock.nowUs()
    tracer.span("store", "workload", "store", "counters", now, now,
      "put_attempts" -> store.putAttempts.get.toDouble,
      "delivered" -> store.delivered.get.toDouble,
      "dropped" -> store.dropped.get.toDouble,
      "retained_records" -> InMemoryKinesis.shardSizes(name).sum.toDouble,
      "shard_skew" -> (if (mean > 0) counts.max / mean else 0.0))
  }
}
