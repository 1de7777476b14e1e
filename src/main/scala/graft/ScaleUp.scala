package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic 10× scale-up of the driver testdata, used ONLY for
  * the scale-curve benchmark (never for oracle checks — correctness
  * always runs on the driver's own parquet).
  *
  * Each replica i remaps keys by fixed strides (event/user/doc ids),
  * so per-key cardinalities scale with the data: 10× users, 10× docs,
  * same 30-day time range at 10× density — the way TPC-H scale
  * factors grow.
  *
  * Document text goes through a per-replica letter rotation
  * (`translate` over [[Alphabet]]): intra-replica duplicate structure
  * is preserved EXACTLY (identical docs stay identical, near-dups stay
  * near-dups), while cross-replica shingles become disjoint — naive
  * 10-copy replication would instead inflate every duplicate group
  * 10-fold and make the exact-dedup path quadratically heavier than a
  * genuine sf1 corpus.
  */
object ScaleUp {

  /** Letters rotated per replica; 10 distinct rotations for factor 10. */
  val Alphabet = "aeiourstln"

  /** Second, disjoint letter set for factors beyond [[Alphabet]]'s 10
    * rotations: replica i composes rotation i%10 of [[Alphabet]] with
    * rotation i/10 of this set — 100 distinct text transforms for the
    * 100× probe, with intra-replica duplicate structure preserved
    * exactly. Cross-replica shingle disjointness is QUANTITATIVE, not
    * absolute: replicas sharing i%10 differ only on these letters, so
    * a shingle containing none of them is identical across those 10
    * replicas (no letter map can avoid this — a pure-digit span is
    * invariant under every letter map). ScaleUpSpec pins the bound:
    * worst per-doc second-alphabet-free shingle fraction 0.31 on the
    * sf0.1 corpus → cross-replica Jaccard ≤ 0.19, far below the 0.8
    * near-dup verification threshold, so no spurious pair survives
    * and LSH candidate volume stays linear-honest. */
  val Alphabet2 = "bcdfghmpvw"

  private def rotated(s: String, i: Int): String = {
    val k = i % s.length
    s.drop(k) + s.take(k)
  }

  private def perReplicaTranslate(text: Column, replica: Column, factor: Int): Column = {
    // for factor <= 10 this compiles to the historical single-rotation
    // expression, so existing sf1 corpora stay valid without regeneration
    def xform(i: Int): Column = {
      val first =
        if (i % Alphabet.length == 0) text
        else translate(text, Alphabet, rotated(Alphabet, i))
      if (i / Alphabet.length == 0) first
      else translate(first, Alphabet2, rotated(Alphabet2, i / Alphabet.length))
    }
    (1 until factor).foldLeft(when(replica === 0, text)) { (acc, i) =>
      acc.when(replica === i, xform(i))
    }
  }

  /** Generate (once) the scaled `events` + `documents` tables under
    * `destDir`; subsequent calls see the marker and return
    * immediately. Only the tables the heavy-query subset reads are
    * scaled. */
  def ensure(spark: SparkSession, srcDir: String, destDir: String,
             factor: Int = 10): String = {
    // v3: multi-file layout (older sf1 dirs regenerate). The driver's
    // base parquet is one small file, so a 10× table written as ONE
    // file caps every pre-shuffle map segment at ONE task — the r8
    // probe measured the sampled all-pairs audit at 122 s purely from
    // a 1-partition scan fanning out through 1-partition joins. A real
    // 10× corpus is many files; 32 matches the session's parallelism.
    // v4: + orders (the EWMA agreement gate joined the 10× subset).
    // v5: + lineitem (maintenance_zorder joined the scale curve — the
    // r10 verdict's named coverage gap; keys strided consistently
    // with orders so a future fact⋈fact 10× measurement stays valid).
    val marker = new java.io.File(destDir,
      if (factor == 10) "_GRAFT_SCALED_V5" else s"_GRAFT_SCALED_V5_F$factor")
    if (marker.exists()) return destDir
    new java.io.File(destDir).mkdirs()
    val files = 32

    def replicas(df: DataFrame): DataFrame =
      df.select(col("*"),
        explode(typedLit((0 until factor).toArray)).as("__r"))

    replicas(Tables.events(spark, srcDir))
      .select(
        (col("event_id") + col("__r") * lit(1000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("__r") * lit(10000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$destDir/events.parquet")

    // orders: strided keys, same date range at 10× density (the
    // calendar-bounded EWMA panels keep their size; only the rows
    // feeding them multiply — the TPC-H growth model)
    replicas(Tables.orders(spark, srcDir))
      .select(
        (col("o_orderkey") + col("__r") * lit(1000000L)).as("o_orderkey"),
        (col("o_custkey") + col("__r") * lit(100000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$destDir/orders.parquet")

    // lineitem: order keys stride in lockstep with orders (1M) so the
    // scaled fact⋈fact join keys still resolve; part/supplier keys
    // stride by their own cardinality decade so per-key fan-in scales
    // like a real sf1 corpus instead of 10× hotter keys
    replicas(Tables.lineitem(spark, srcDir))
      .select(
        (col("l_orderkey") + col("__r") * lit(1000000L)).as("l_orderkey"),
        (col("l_partkey") + col("__r") * lit(100000L)).as("l_partkey"),
        (col("l_suppkey") + col("__r") * lit(10000L)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$destDir/lineitem.parquet")

    replicas(Tables.documents(spark, srcDir))
      .select(
        (col("doc_id") + col("__r") * lit(100000L)).as("doc_id"),
        perReplicaTranslate(col("text"), col("__r"), factor).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")

    // embeddings: replicas are dimension-ROTATED (norm-preserving, so
    // per-replica cluster structure survives) rather than copied —
    // verbatim copies would make every cross-replica pair an exact
    // duplicate and blow the near-dup pair volume quadratically in
    // `factor`; rotation keeps cross-replica cosines unstructured and
    // the pair volume ~linear, which is the honest 10× corpus model
    // rotation amount wraps at the embedding dim (pmod) so factor > dim
    // stays a valid rotation instead of a negative-length slice crash
    // beyond the rotation period (factor > dim, e.g. the 100× probe's
    // 100 replicas over dim-64 vectors) replicas i and i+dim would
    // collide on the same rotation and re-create the verbatim-copy
    // problem; compose with a sign flip of the odd indices keyed on
    // i/dim — norm-preserving (cosine structure inside a replica
    // survives exactly), and (rotation, flip) stays distinct for every
    // i < 2*dim. For factor <= dim the flip branch is never taken and
    // the output is byte-identical to the historical sf1 corpus.
    replicas(Tables.embeddings(spark, srcDir))
      .withColumn("__rot", pmod(col("__r"), size(col("embedding"))).cast("int"))
      .withColumn("__flip",
        pmod((col("__r") / size(col("embedding"))).cast("int"), lit(2)))
      .withColumn("__rotated",
        when(col("__rot") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), col("__rot") + 1, size(col("embedding")) - col("__rot")),
          slice(col("embedding"), lit(1), col("__rot")))))
      .select(
        (col("vec_id") + col("__r") * lit(1000000L)).as("vec_id"),
        when(col("__flip") === 0, col("__rotated"))
          .otherwise(transform(col("__rotated"),
            (x, j) => when(j % 2 === 1, -x).otherwise(x))).as("embedding"),
        col("label"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")

    marker.createNewFile()
    destDir
  }
}

/** Standalone generator for the scaled tables (the bench calls
  * [[ScaleUp.ensure]] itself; this main exists so the sf1
  * spot-oracle tool can materialize the corpus without a full bench
  * run): `runMain graft.ScaleUpMain [srcDir] [destDir]`. */
object ScaleUpMain {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val destDir = args.drop(1).headOption
      .getOrElse(new java.io.File("target/scale/sf1").getAbsolutePath)
    val spark = Harness.session()
    println(s"[scaleup] ensured: ${ScaleUp.ensure(spark, srcDir, destDir)}")
    spark.stop()
  }
}
