package graft

import org.apache.spark.sql.SparkSession

/** Two-decade scale probe: times an operator-spanning query subset at
  * base (the bench SF dir), 10× (`target/scale/sf1`) and 100×
  * (`target/scale/sf10`, generated once via [[ScaleUp]] factor=100),
  * all in ONE session — so the decade slopes are measured under
  * identical session warmth and JIT state, immune to the
  * board-to-board epoch drift that makes cross-file ratio reads
  * arguable (boards on identical code have run 1.3–1.7× apart since
  * r7).
  *
  * `slope10` = sf1/base and `slope100` = sf10/sf1; ~10 per decade is
  * linear-in-bytes. The probe exists to answer the 100 TB question
  * with a measurement instead of an extrapolation: a plan that is
  * secretly super-linear (a shuffle whose pair volume grows
  * quadratically, a broadcast that stops fitting, a single-partition
  * fold) shows a second-decade slope well above the first.
  *
  * Measurement discipline mirrors the bench sf1 curve exactly: per
  * scale, a staging pass first runs every probe query once (staged
  * frames — silver, codebooks, banded indexes — are built outside the
  * timing window at every scale, so slopes compare query work to
  * query work); then each query is timed twice full-work (the stages
  * it created are evicted between repeats) with [[Bench.robustSec]]
  * arbitration. Caches are dropped between scales so a smaller
  * scale's blocks never pressure a larger scale's heap.
  *
  * Output: one JSON line on stdout
  * `{"metric":"scale100","queries":{name:{"base":s,"sf1":s,"sf10":s,
  * "slope10":r,"slope100":r,"cold":{...,"slope100":r}}},...}` —
  * mirrored to `docs/SCALE100.json` when writable. `cold` is the
  * staging pass (full work incl. stage builds), so index-heavy
  * queries carry their build slope next to the warm one.
  */
object ScaleProbe {

  /** Chosen to span the operator space, one per family: scan + window
    * dedup + derive (silver), the reference join mart, hash-groupBy
    * dedup, MinHash band join, IVF ANN (trained quantizer + bucket
    * join), mergeable-sketch rolling agg, codegen'd map-only container
    * probe, the heaviest text-stats pass, the distributed NTILE path
    * (range-repartition + offset ranks), the stateful 2-delivery
    * incremental replay, and the catalog DDL lifecycle (fast-append
    * slope). All read only the five ScaleUp-scaled tables.
    * Deliberately absent: maintenance_zorder and pipeline_serving_sink
    * — both write-bandwidth-bound full-table rewrites (adjudicated in
    * docs/SCALE.md), measured at 10× on the bench sf1 curve; a 100×
    * rewrite would spend ~15 min re-measuring disk, not plans. */
  private[graft] val probeQueries: Seq[String] = Seq(
    "silver_events", "gold_category_performance", "dedup_exact",
    "dedup_minhash_lsh", "sim_embed_topk_ivf", "q_sketch_rolling_topk",
    "mm_container_probe_audio", "text_repetition_profile",
    "gold_user_rfm_segments", "incremental_rebuild_diff",
    // r12: the catalog lifecycle (CTAS + fast-append INSERT +
    // overwrite + 3 VERSION AS OF reads) — the O(delta) fast-append
    // claim as a measured slope, not an adjudication
    "meta_catalog_time_travel",
    // r13: the file-pruned CoW DML lifecycle (UPDATE/metadata-DELETE/
    // partial-DELETE — the rewrite cost must track the TOUCHED band)
    // and the storage-partitioned join (per-user marts grow with the
    // corpus; rows scale but ZERO shuffles move) as measured slopes
    "meta_catalog_cow_dml", "q_catalog_colocated_join",
    // r14: the merge-on-read DML lifecycle (positional-delete sidecar
    // + merged reads + UPDATE over the sidecar + compaction — the
    // zero-rewrite claim as a measured slope) and the days() layout
    // (structural date pruning + the date-aligned zero-shuffle join)
    "meta_catalog_mor_dml", "meta_catalog_days_layout",
    // r15: the three new storage verbs as measured slopes — the
    // delta-based MoR UPDATE/MERGE (sidecar + fast-append commit
    // scales with the CHANGE SET, not the table), the era-split
    // rename lifecycle (metadata-plane ALTERs + era-union reads),
    // and the keyed upsert (O(batch) blind writes + key-set merge)
    "meta_catalog_mor_upsert", "meta_catalog_rename",
    "meta_catalog_eq_upsert",
    // r15 (second batch): layout evolution (the metadata-only era
    // append + per-era pruned probes + the realigning compaction —
    // the verb must stay O(marker) while the probes track the BAND)
    // and the ref-aware retention lifecycle through the SQL CALL
    // surface (tag + compact + rollback + expiry walks are
    // manifest-plane; only the compaction moves data)
    "meta_catalog_layout_evolution", "meta_catalog_procedures",
    // r15: the write-audit-publish branch lifecycle — branch appends
    // are O(delta), the publish is O(manifest); only the audit read
    // scales with the corpus
    "meta_catalog_branch_wap",
    // r16: the COMPOSED delete-flavor chain (upsert + positional
    // point-DML stacking with zero rewrites — every write stays
    // O(change set); only the merged reads scale with the corpus)
    // and the audit-fix-publish loop (branch DML is bounds-pruned
    // CoW over the STAGED band; main untouched; publish O(manifest))
    "meta_catalog_delete_compose", "meta_catalog_branch_fix",
    "meta_catalog_branch_wap_compose", "stream_changelog_cdc",
    // r17: bloom file skipping — the point SELECT / point DELETE costs
    // are O(one band file) by construction; only the 3-band staging
    // CTAS+INSERTs scale with the corpus
    "meta_catalog_bloom_skip",
    // r17: incremental view maintenance — refreshes are O(delta)
    // changelog reads + O(one band) mart rewrites; only the base
    // staging and the initialize full-aggregate scale with the corpus
    "meta_catalog_ivm_refresh",
    // r18: the reference's own gold shapes maintained incrementally —
    // distinct-measure side state and the decomposed flagship join
    // mart; refreshes stay O(delta)+O(touched bands), serve layers
    // run over mart-sized data only
    "meta_catalog_ivm_gold", "meta_catalog_ivm_flagship")

  /** Per-query (warm seconds, staging seconds) at one scale. Staging
    * runs each query once COLD (stage-build + query, full work) — its
    * slope answers "does the end-to-end cost stay linear"; the warm
    * repeats then measure post-staging query work under the bench
    * contract. Both ride the JSON so a staged-frame-heavy query (e.g.
    * the MinHash bucket join over its banded index) cannot read as
    * misleadingly flat: the index-build slope is right next to it.
    * Caveat carried into the artifact: the base staging pass is also
    * the session's first exercise of each plan, so base staging
    * absorbs one-time JIT — staging slope10 is conservative (reads
    * low); staging slope100 compares two warm-JIT scales and is the
    * trustworthy decade. */
  private def timeAt(spark: SparkSession, dir: String,
                     label: String): (Map[String, Double], Map[String, Double]) = {
    // a failed staging run (negated seconds) leaves the query out
    val staging = probeQueries.flatMap { name =>
      Harness.warm(dir, name)(Harness.materialize(SparkEntry.queries(name)(spark, dir)))
        .filter(_ >= 0).map { sec =>
          System.err.println(f"[probe] $label staging $name%-28s $sec%7.2f s")
          name -> sec
        }
    }.toMap
    val warm = probeQueries.flatMap { name =>
      try {
        // the ONE shared measurement block (Bench.robustQueryTime) —
        // the sf1 curve and this probe must stay in measurement
        // lockstep or their numbers are not comparable
        val (sec, runs) = Bench.robustQueryTime(spark, dir, name)
        System.err.println(
          f"[probe] $label $name%-28s runs ${runs.head}%7.2f/${runs(1)}%7.2f -> $sec%7.2f")
        Seq(name -> sec)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[probe] $label $name FAILED: ${e.getMessage}")
        Seq.empty
      }
    }.toMap
    (warm, staging)
  }

  private def dropScaleState(spark: SparkSession): Unit = {
    // evictSilver drops BOTH the silver cache and every stagedCache
    // entry of the session (all dirs — see SparkEntry.evictSilver's
    // second loop), so a smaller scale's banded indexes / codebooks /
    // checkpoint blocks cannot pressure a larger scale's heap
    SparkEntry.evictSilver(spark)
    System.gc()
  }

  /** Pure renderer for the probe's one-line JSON (spec-pinned like
    * Bench.benchJson): a query joins the output only when ALL six
    * measurements exist, so a failed scale never ships a partial
    * slope. */
  private[graft] def renderJson(sfDir: String,
                                base: Map[String, Double], sf1: Map[String, Double],
                                sf10: Map[String, Double], baseStg: Map[String, Double],
                                sf1Stg: Map[String, Double], sf10Stg: Map[String, Double],
                                names: Seq[String] = probeQueries): String = {
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val rows = names.filter(q =>
      base.contains(q) && sf1.contains(q) && sf10.contains(q) &&
        baseStg.contains(q) && sf1Stg.contains(q) && sf10Stg.contains(q))
    val body = rows.map { q =>
      val (b, s1, s10) = (base(q), sf1(q), sf10(q))
      val (cb, c1, c10) = (baseStg(q), sf1Stg(q), sf10Stg(q))
      val slope10 = if (b > 0) s1 / b else 0.0
      val slope100 = if (s1 > 0) s10 / s1 else 0.0
      val coldSlope100 = if (c1 > 0) c10 / c1 else 0.0
      s""""$q":{"base":${fmt(b)},"sf1":${fmt(s1)},"sf10":${fmt(s10)},""" +
        s""""slope10":${fmt(slope10)},"slope100":${fmt(slope100)},""" +
        s""""cold":{"base":${fmt(cb)},"sf1":${fmt(c1)},"sf10":${fmt(c10)},""" +
        s""""slope100":${fmt(coldSlope100)}}}"""
    }.mkString(",")
    s"""{"metric":"scale100","unit":"sec","sf":"$sfDir",""" +
      s""""note":"cold = staging pass (stage-build + query, full work); base cold absorbs first-plan JIT so cold slope100 (two warm-JIT scales) is the trustworthy decade",""" +
      s""""queries":{$body}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    val sf1Dir = ScaleUp.ensure(spark, sfDir,
      new java.io.File("target/scale/sf1").getAbsolutePath)
    val sf10Dir = ScaleUp.ensure(spark, sfDir,
      new java.io.File("target/scale/sf10").getAbsolutePath, factor = 100)

    val (base, baseStg) = timeAt(spark, sfDir, "base")
    dropScaleState(spark)
    val (sf1, sf1Stg) = timeAt(spark, sf1Dir, "sf1 ")
    dropScaleState(spark)
    val (sf10, sf10Stg) = timeAt(spark, sf10Dir, "sf10")

    val json = renderJson(sfDir, base, sf1, sf10, baseStg, sf1Stg, sf10Stg)
    println(json)
    try {
      val w = new java.io.PrintWriter("docs/SCALE100.json")
      try w.println(json) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => }
    spark.stop()
  }
}
