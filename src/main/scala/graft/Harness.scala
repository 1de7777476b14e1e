package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The measurement harness every engine main runs on (Bench, Profile,
  * Verify, Explain, PlanDump, ScaleProbe, ScaleUpMain): one session
  * factory, one materialization rule, and one timed warm-stage wrapper
  * over the [[SparkEntry.warmRegistry]]. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one local session: `cores` task slots and as many shuffle
    * partitions, UI off, WARN logging, and the UTC instant regime of
    * the oracle — the TIMESTAMP_NTZ→TimestampType normalization in
    * `Tables.events` is session-tz-dependent, so an unpinned session on
    * a non-UTC host would shift every event instant. */
  def session(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drain full InternalRows: a bare `.count()` lets column pruning
    * skip computing the aggregate output columns. */
  def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Time one warm stage. `None` when an input table is missing under
    * `dir` (the body does not run); otherwise the elapsed seconds,
    * NEGATED when the body threw, so an artifact alone distinguishes
    * completed staging from aborted staging. NonFatal only: an OOM or
    * interrupt aborts the run instead of timing everything after it in
    * a corrupted JVM. */
  def warm(dir: String, stage: String, inputs: Seq[String] = Nil)(body: => Unit): Option[Double] = {
    val missing = inputs.filterNot(t => new java.io.File(s"$dir/$t.parquet").exists())
    if (missing.nonEmpty) {
      System.err.println(s"[harness] warm stage $stage skipped: no ${missing.mkString(", ")} under $dir")
      None
    } else {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case NonFatal(e) =>
        System.err.println(s"[harness] warm stage $stage FAILED: ${e.getMessage}")
        false }
      val sec = (System.nanoTime() - t0) / 1e9
      Some(if (ok) sec else -sec)
    }
  }

  /** Warm `stages` at `dir` in order: (stage, seconds) per stage that
    * ran, in the [[warm]] sign convention. */
  def warmAll(spark: SparkSession, dir: String,
              stages: Seq[SparkEntry.WarmStage]): Seq[(String, Double)] = {
    val done = stages.flatMap(w => warm(dir, w.name, w.inputs)(w.run(spark, dir)).map(w.name -> _))
    // abs: a failed stage still spent its (negated) time
    System.err.println(f"[harness] warmed ${done.size} stages at $dir in ${done.map(d => math.abs(d._2)).sum}%.2f s (amortized, not billed to queries)")
    done
  }
}
