package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (guide: one session per JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // CacheManager matches caches by canonicalized PLAN, so two public
    // entry points that each (correctly) cache the same input in one
    // shared-session JVM — e.g. Pipeline.runAll and SparkEntry's
    // silver — warn "already cached" when exercised back to back.
    // That overlap is intentional in the suites; drop the cosmetic
    // warning (real cache bugs surface through PlanContractSpec and
    // the Bench timings, not this log line).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Corpus frames shared across suites — cached ONCE here so suites
    * stop re-caching the same canonical plan in whichever order they
    * run. */
  lazy val docs = graft.sources.Tables.documents(spark, sf).cache()
  lazy val embs = graft.sources.Tables.embeddings(spark, sf).cache()
}

/** Core pipeline invariants — encodes the reference's dbt data tests
  * (SURVEY §5: unique/not_null keys, accepted_values domains, ranges). */
class CoreSpec extends AnyFunSuite {
  import TestSession._

  // silver_events already returns SparkEntry's shared cached frame
  lazy val silver = SparkEntry.queries("silver_events")(spark, sf)
  lazy val daily  = SparkEntry.queries("gold_daily_sales")(spark, sf).cache()

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has rows and every oracle key exists") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("warm registry: each stage creates exactly the keys it declares; failures negate, fatals propagate") {
    // a private copy of the tables: its dir key keeps the stages this
    // test builds and evicts apart from the ones other suites share
    val dir = java.nio.file.Files.createTempDirectory("warm_registry_")
    new java.io.File(sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    val d = dir.toString
    try {
      SparkEntry.warmRegistry.foreach { w =>
        val before = SparkEntry.stageNames(spark, d)
        assert(Harness.warm(d, w.name, w.inputs)(w.run(spark, d)).exists(_ >= 0), w.name)
        assert(SparkEntry.stageNames(spark, d) -- before === w.creates, w.name)
      }
      assert(Harness.warm(d, "boom")(throw new RuntimeException("boom")).exists(_ < 0))
      assert(Harness.warm(d, "absent", Seq("no_such_table"))(fail("must not run")) === None)
      intercept[InterruptedException](Harness.warm(d, "fatal")(throw new InterruptedException()))
    } finally SparkEntry.evictStages(spark, d, SparkEntry.stageNames(spark, d))
  }

  test("silver: event_unique_id unique + not null (dbt unique/not_null analog)") {
    val n = silver.count()
    assert(n > 0)
    assert(silver.filter(col("event_unique_id").isNull).count() === 0)
    assert(silver.select("event_unique_id").distinct().count() === n)
  }

  test("silver: dedup idempotence") {
    val again = graft.ops.Dedup.latestPerKey(silver, Seq("event_unique_id"),
      Seq(col("event_id").asc))
    assert(again.count() === silver.count())
  }

  test("silver: bucket domains (dbt accepted_values analog)") {
    val buckets = silver.select("price_bucket").distinct().collect().map(_.getString(0)).toSet
    assert(buckets.subsetOf(Set("UNKNOWN", "0-50", "50-100", "100-200", "200-500", "500+")))
    val tod = silver.select("time_of_day").distinct().collect().map(_.getString(0)).toSet
    assert(tod.subsetOf(Set("MORNING", "AFTERNOON", "EVENING", "NIGHT")))
    val types = silver.select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("view", "click", "purchase", "signup", "error")))
  }

  test("silver: price non-negative where present (dbt accepted_range analog)") {
    assert(silver.filter(col("price") < 0).count() === 0)
  }

  test("daily: sale_date unique, rates bounded, counts consistent") {
    val n = daily.count()
    assert(n > 0)
    assert(daily.select("event_date").distinct().count() === n)
    assert(daily.filter(col("unique_buyers") > col("unique_users")).count() === 0)
    assert(daily.filter(col("purchase_count") > col("total_events")).count() === 0)
    assert(daily.filter(col("total_revenue") < 0).count() === 0)
  }

  test("q1: groups present with positive counts") {
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    assert(q1.count() > 0)
    assert(q1.filter(col("count_order") <= 0).count() === 0)
  }
}
