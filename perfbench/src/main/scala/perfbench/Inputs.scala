package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs in the layout `graft.sources.Tables` reads
  * (`<dir>/<table>.parquet`), with the schema, encoding and value shapes
  * of the engine's sf0.1 test tables as `profile_inputs.py` measures them
  * (the figures are in README.md, "Inputs"). The same seed and sizes give
  * the same rows. Sizes are fixed per workload; the seed moves only values,
  * so every seed asks the same amount of work. */
object Inputs {
  val Days = 30
  private val EventTypes = IndexedSeq("view", "click", "purchase", "signup", "error")
  /** Distinct users per event: 1,500 users over 100,000 events. */
  private val UsersPerEvent = 0.015
  private val MeanValue = 50.0
  private val ItemKeys = 100

  /** A SQL literal for a day of the generated month. */
  def sqlDate(day: Int): String = f"DATE '2024-01-$day%02d'"

  private val jan1 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val spanMicros = Days * 86400L * 1000000L

  /** `n` events: timestamps uniform over the 30 days and ascending with
    * `event_id`, in microseconds; users, event types and item keys
    * uniform; values exponential with mean 50, in cents. `ts` is written
    * as TIMESTAMP(MICROS) without UTC adjustment, as the test tables carry
    * it, so `Tables.events` converts it on the same branch. */
  def events(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new java.util.Random(seed * 31 + 1)
    val users = math.round(n * UsersPerEvent).toInt
    val micros = Array.fill(n)((rnd.nextDouble() * spanMicros).toLong).sorted
    val rows = (0 until n).map { i =>
      val value = math.round(-MeanValue * math.log(1 - rnd.nextDouble()) * 100) / 100.0
      Row(i.toLong, jan1.plusNanos(micros(i) * 1000), rnd.nextInt(users).toLong,
        EventTypes(rnd.nextInt(EventTypes.size)), value, s"""{"k": ${rnd.nextInt(ItemKeys)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    write(spark, rows, schema, s"$dir/events.parquet")
  }

  /** The test tables' 31-word vocabulary. */
  private val vocab: IndexedSeq[String] = ("a agg batch big column customer data dup fast filter " +
    "group hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(' ').toIndexedSeq
  private val langs: IndexedSeq[String] =
    Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14).flatMap { case (l, w) => Seq.fill(w)(l) }.toIndexedSeq

  /** Documents of 10 to 100 uniform words. One in twenty copies an earlier
    * document with one word appended or its last word dropped (one such
    * copy in forty is exact), so the dedup operators find pairs at Jaccard
    * 0.8 to 1. Sources rotate over twenty; languages are 41 % `en`. */
  def documents(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new java.util.Random(seed * 31 + 2)
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      texts(i) =
        if (i > 0 && rnd.nextInt(20) == 0) {
          val words = texts(rnd.nextInt(i)).split(' ')
          rnd.nextInt(40) match {
            case 0 => words.mkString(" ")
            case e if e % 2 == 1 && words.length > 10 => words.init.mkString(" ")
            case _ => (words :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")
          }
        } else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val rows = texts.indices.map { i =>
      Row(i.toLong, texts(i), langs(rnd.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(spark, rows, schema, s"$dir/documents.parquet")
  }

  /** Unit 64-dimensional vectors in uniformly random directions, each with
    * one of ten labels drawn independently of the vector. In the test
    * tables a label's mean vector has the norm that independent vectors
    * give, 1/√(vectors per label): the labels carry no cluster structure. */
  def embeddings(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new java.util.Random(seed * 31 + 3)
    val dim = 64
    val rows = (0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    write(spark, rows, schema, s"$dir/embeddings.parquet")
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
}
