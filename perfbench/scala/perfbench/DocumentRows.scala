package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded `documents` rows drawn the way the sf0.1 `documents` table is
  * (README.md, "Inputs"): texts of 10 to 99 words, uniformly, from the
  * table's 30-word vocabulary; 5% of them near duplicates, another
  * document's text with " dup" appended, made one after another so a few
  * copy a copy; 0.15% exact copies; languages en 40% and es, zh, de, fr
  * 15% each; sources src0..src19 in turn; `n_chars` the text's length.
  * The file layout is sf0.1's: optional columns, snappy, one row group. */
object DocumentRows {
  val Vocab: IndexedSeq[String] = ("a the data row column table key value join " +
    "group sort scan filter hash merge window stream batch query spark agg " +
    "part line order customer vector big small fast slow").split(" ").toIndexedSeq
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.40, "es" -> 0.15, "zh" -> 0.15, "de" -> 0.15, "fr" -> 0.15)

  val schema: MessageType = MessageTypeParser.parseMessageType(
    """message documents {
      |  optional int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional int64 n_chars;
      |}""".stripMargin)

  def texts(n: Int, rng: SplittableRandom): Array[String] = {
    val t = Array.fill(n)(
      Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.size))).mkString(" "))
    val near = n / 20
    val exact = n * 3 / 2000
    // distinct positions for the copies: a partial Fisher-Yates shuffle
    val pos = Array.range(0, n)
    (0 until near + exact).foreach { k =>
      val j = k + rng.nextInt(n - k)
      val p = pos(j); pos(j) = pos(k); pos(k) = p
    }
    pos.take(near).foreach(i => t(i) = t(rng.nextInt(n)) + " dup")
    pos.slice(near, near + exact).foreach(i => t(i) = t(rng.nextInt(n)))
    t
  }

  def lang(rng: SplittableRandom): String = {
    var u = rng.nextDouble()
    Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.last)._1
  }

  /** Writes `n` documents with ids `0 until n` to one parquet file. */
  def writeFile(file: Path, n: Int, rng: SplittableRandom): Unit = {
    val text = texts(n, rng)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try {
      (0 until n).foreach { i =>
        w.write(f.newGroup()
          .append("doc_id", i.toLong)
          .append("text", text(i))
          .append("lang", lang(rng))
          .append("source", s"src${i % 20}")
          .append("n_chars", text(i).length.toLong))
      }
    } finally w.close()
  }
}
