package etlbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `documents`, `embeddings` and `events` parquet tables in the
  * schema `graft.Tables` reads, sized like the sf0.01 scale the query lanes
  * are checked at: 500 documents over a small vocabulary (with exact and
  * near duplicates, so the dedup and connected-component stages find
  * work), 500 unit vectors of 64 floats, and 10k events from 150 users over
  * 30 days.
  */
object TableGen {

  final case class Spec(docs: Int = 500, vectors: Int = 500, dim: Int = 64,
                        events: Int = 10000, users: Int = 150)

  private val vocab = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window data column join small customer query order group stream filter " +
    "big vector index shard cache plan").split(' ')
  private val langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val eventTypes = Array("signup", "error", "click", "view", "purchase")

  def write(spark: SparkSession, dir: String, spec: Spec, seed: Long): Unit = {
    val master = new SplittableRandom(seed)
    save(spark, s"$dir/documents.parquet", documents(spec, master.split()), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    save(spark, s"$dir/embeddings.parquet", embeddings(spec, master.split()), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
    save(spark, s"$dir/events.parquet", events(spec, master.split()), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
  }

  private def save(spark: SparkSession, path: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Every document from position 10 on whose index is 4 mod 33 is an exact
    * duplicate and every one at 0, 8, 16 or 24 mod 33 a near duplicate (one
    * word replaced), each of a different earlier original of 40 to 87
    * words, so the near-duplicate graph has the same shape on every seed:
    * disjoint pairs that the LSH stage finds. Chains of duplicates would
    * make the connected-component rounds, and with them the lane's job
    * count, depend on the seed.
    */
  private def documents(spec: Spec, rnd: SplittableRandom): Seq[Row] = {
    val texts = new Array[String](spec.docs)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    def copyOf(): String = texts(originals.remove(rnd.nextInt(originals.size)))
    for (i <- 0 until spec.docs) {
      texts(i) =
        if (i >= 10 && i % 33 == 4) copyOf()
        else if (i >= 10 && i % 33 % 8 == 0 && i % 33 < 32) {
          val w = copyOf().split(' ')
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
          w.mkString(" ")
        } else {
          originals += i
          Seq.fill(40 + rnd.nextInt(48))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
    }
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
    }
  }

  private def embeddings(spec: Spec, rnd: SplittableRandom): Seq[Row] =
    (0 until spec.vectors).map { i =>
      val v = Array.fill(spec.dim)(gaussian(rnd))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }

  private def events(spec: Spec, rnd: SplittableRandom): Seq[Row] = {
    val start = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val step = 30L * 86400 * 1000 / spec.events
    (0 until spec.events).map { i =>
      Row(i.toLong, new Timestamp(start + i * step + rnd.nextLong(step)),
        rnd.nextInt(spec.users).toLong, eventTypes(rnd.nextInt(eventTypes.length)),
        rnd.nextInt(2000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  private def gaussian(rnd: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - rnd.nextDouble())) * math.cos(2 * math.Pi * rnd.nextDouble())
}
