package graft

import org.apache.spark.sql.DataFrame

/** Construction-plan dump utility (r18): the ANN/audit queries are
  * served from staged localCheckpoint frames, so `graft.Explain` on
  * the query surface shows only the checkpoint scan — this main dumps
  * `explain("formatted")` of the UNDERLYING construction DataFrames
  * (the plans the stage build actually runs), which is where the
  * optimization evidence lives. Usage:
  *   runMain graft.PlanDump <outDir> <tag> [sfDir]
  * writes <name>_construction_<tag>.txt per entry. Runs on 4 cores
  * so the committed `plans/` dumps are reproducible across hosts. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "pq" -> (() => graft.sim.ProductQuantAnn.pqTopK(emb)),
      "ivfpq" -> (() => graft.sim.IvfPqAnn.ivfPqTopK(emb)),
      "neardup" -> (() => graft.sim.EmbeddingSim.nearDupPairs(emb)),
      "lsh" -> (() => graft.sim.EmbeddingSim.lshTopK(emb)),
      "ewma_audit" -> (() => graft.ops.EwmaScan.auditMaxima(spark, dir)),
      // r18 batch 2: the minhash signature/banding and the 2-gram
      // repetition constructions (their query-surface dumps are
      // staged-checkpoint scans)
      "minhash_pairs" -> (() => graft.dedup.NearDup.minhashPairs(
        graft.sources.Tables.documents(spark, dir))),
      "repetition" -> (() => graft.text.QualityFilters.repetitionProfileQuery(spark, dir)),
      "bigram_lm" -> (() => graft.text.QualityFilters.bigramLmScoresQuery(spark, dir)),
      // r19: the z-order WRITE pipeline (the query surface only shows
      // the post-write read-back sort). `zorder_native` is the live
      // path (one z_morton expression); `zorder_case_chain` rebuilds
      // the pre-r19 staged-CASE-chain + interleave formulation (kept
      // in ZOrder as the spec's reference) so the plan diff is
      // auditable without running the old commit.
      "zorder_native" -> (() => {
        val li = graft.sources.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        val width = spark.sessionState.conf.numShufflePartitions
        graft.sink.ZOrder.withZValue(li.repartition(width),
            Seq("l_partkey", "l_suppkey"), quantileSource = Some(li))
          .repartitionByRange(width, org.apache.spark.sql.functions.col("_z"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("_z"))
          .drop("_z")
      }),
      "zorder_case_chain" -> (() => {
        import org.apache.spark.sql.functions._
        val li = graft.sources.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        val width = spark.sessionState.conf.numShufflePartitions
        val zcols = Seq("l_partkey", "l_suppkey")
        val asDouble = zcols.map(c => s"__zd_$c" -> col(c).cast("double"))
        val typed = asDouble.foldLeft(li.repartition(width)) {
          case (d, (n, e)) => d.withColumn(n, e) }
        val probs = (1 until 64).map(_.toDouble / 64).toArray
        val cuts = li.select(zcols.map(c => col(c).cast("double").as(c)): _*)
          .stat.approxQuantile(zcols.toArray, probs, 0.001)
        val staged = asDouble.zip(cuts).zipWithIndex.foldLeft(typed) {
          case (d, (((n, _), cut), i)) =>
            d.withColumn(s"__zb_$i", graft.sink.ZOrder.bucketOf(col(n), cut.distinct.sorted))
        }
        staged
          .withColumn("_z", graft.sink.ZOrder.interleave(
            zcols.indices.map(i => col(s"__zb_$i"))))
          .drop(asDouble.map(_._1) ++ zcols.indices.map(i => s"__zb_$i"): _*)
          .repartitionByRange(width, col("_z"))
          .sortWithinPartitions(col("_z"))
          .drop("_z")
      }))
    entries.foreach { case (name, f) =>
      val df = f()
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) { df.explain("formatted") }
      val w = new java.io.PrintWriter(s"$outDir/${name}_construction_$tag.txt")
      try w.write(bos.toString) finally w.close()
      System.err.println(s"[plandump] $name -> ${bos.size()} bytes")
    }
    spark.stop()
  }
}
