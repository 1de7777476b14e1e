package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.BucketedTables
import graft.sources.Tables

/** Scale-architecture operators: mergeable sketch rollups, bucketed
  * co-located joins (no exchange), AQE skew-join splitting. */
class ScaleOpsSpec extends AnyFunSuite {
  import TestSession._

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // a fresh session catalog can leave orphan locations behind
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  test("sketch rollup: partials merge exactly, estimates track exact counts") {
    import graft.ops.SketchRollup
    val ev = Tables.events(spark, sf)
    // THE mergeability contract: sketching two disjoint halves and
    // union-merging equals sketching everything at once — estimate
    // EQUALITY (register max-merge is exact), not mere closeness
    val base = ev.filter(col("user_id").isNotNull)
    val whole = base.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(SketchRollup.LgK)))
        .as("est"))
      .head().getLong(0)
    val halves = base
      .withColumn("half", pmod(col("event_id"), lit(2)))
      .groupBy(col("half"))
      .agg(hll_sketch_agg(col("user_id"), lit(SketchRollup.LgK)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("est"))
      .head().getLong(0)
    assert(halves === whole, "split-merge must equal direct sketch exactly")
    // rolling estimates: one row per active day, windows nested,
    // and within the lgK=14 envelope of the exact rolling distincts
    val rolling = SketchRollup.rollingDistinctUsers(ev).cache()
    val days = base.select(to_date(col("ts"))).distinct().count()
    assert(rolling.count() === days)
    assert(rolling.filter(col("users_7d") > col("users_28d")).count() === 0)
    val exact7 = base.select(to_date(col("ts")).as("d"), col("user_id"))
      .as("a").join(base.select(to_date(col("ts")).as("d2"), col("user_id").as("u2")).as("b"),
        datediff(col("d"), col("d2")).between(0, 6))
      .groupBy(col("d").as("event_date"))
      .agg(countDistinct(col("u2")).as("ex7"))
    val bad = rolling.join(exact7, "event_date")
      .filter(abs(col("users_7d") - col("ex7")) > col("ex7") * 0.05 + 3)
    assert(bad.count() === 0, "7d estimates outside the 5% + 3 envelope")
  }

  test("bucketed tables join without any shuffle exchange") {
    dropTable("b_lineitem"); dropTable("b_orders")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    BucketedTables.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 8)
    BucketedTables.writeBucketed(o, "b_orders", Seq("l_orderkey"), 8)

    // disable broadcast so the planner must consider the shuffle it
    // would otherwise need — bucketing should elide it entirely
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketedTables.colocatedJoin(spark, "b_lineitem", "b_orders", Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle, got:\n$plan")
      // correctness: same result as the plain join
      val expected = li.join(o, "l_orderkey")
      assert(joined.count() === expected.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    // 100k-row left side where one key owns 90% of the rows — the
    // classic hot-key join AQE must repair by splitting the skewed
    // partition into subpartitions (thresholds lowered to trigger at
    // test scale; at 100 TB the defaults fire on real skew)
    val left = spark.range(1000000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val right = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("attr"))
    val c = spark.conf
    val savedB = c.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val joined = left.join(right, "k").agg(count(lit(1)))
      // collect() (not head(): head wraps a NEW limit-query whose
      // execution never touches this plan) so AQE finalizes the plan
      val n = joined.collect()(0).getLong(0)
      // 900k hot-key rows match k=7; of the 100k spread rows (k = id,
      // multiples of 10) only those < 2000 match: 200
      assert(n === 900000L + 200L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      c.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      c.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      c.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      c.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }
}
