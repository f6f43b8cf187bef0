package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The benchmark's one generator of seeded `events` rows, the table that
  * `LogSource` turns into docker log messages. Every column is drawn the
  * way it is distributed in the sf0.1 `events` table the gated queries are
  * benchmarked on (README.md, "Inputs"): user ids uniform over 1,500 users,
  * five event types uniformly, values exponential with mean 50 rounded to
  * cents, props `{"k": n}` with n uniform over 0..99. Only `ts` is the
  * caller's: the stream workloads stamp each row with its due time. The
  * file layout is that of sf0.1 too: optional columns, `ts` as
  * TIMESTAMP(MICROS) not adjusted to UTC, snappy, one row group. */
object EventRows {
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val Jan2024Us = 1704067200000000L
  val MonthUs: Long = 30L * 86400L * 1000000L

  val schema: MessageType = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,false));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Writes one parquet file with a row per entry of `tsUs`, ids counting
    * up from `firstId`. */
  def writeFile(file: Path, firstId: Long, tsUs: Array[Long],
                rng: SplittableRandom): Unit = {
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try {
      tsUs.indices.foreach { j =>
        val value = math.rint(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100
        w.write(f.newGroup()
          .append("event_id", firstId + j)
          .append("ts", tsUs(j))
          .append("user_id", rng.nextLong(1500L))
          .append("event_type", eventTypes(rng.nextInt(eventTypes.size)))
          .append("value", value)
          .append("props", s"""{"k": ${rng.nextInt(100)}}"""))
      }
    } finally w.close()
  }

  /** `n` times uniform over the 30 days from 2024-01-01, in order: the
    * span and spacing of sf0.1's `ts`. */
  def monthTs(n: Int, rng: SplittableRandom): Array[Long] = {
    val ts = Array.fill(n)(Jan2024Us + rng.nextLong(MonthUs))
    java.util.Arrays.sort(ts)
    ts
  }

  /** The event id `LogSource.asRouterMessages` writes into each message,
    * read back out of a serialized Logstash document. */
  def idOfPayload(json: Column): Column =
    regexp_extract(json, "\"message\":\"[a-z]+ #(\\d+)\"", 1).cast("long")
}
