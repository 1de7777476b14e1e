package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard rails for the 100 TB anti-pattern inventory: the
  * data plane must stay declarative. Every exception is listed HERE
  * with its reason — adding a new `.collect()`/UDF means consciously
  * extending the allowlist, not silently regressing the scale story. */
class ArchitectureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  private def offenders(needle: String, allow: Map[String, Int]): Seq[String] =
    scalaFiles.flatMap { p =>
      val name = p.getFileName.toString
      val n = new String(Files.readAllBytes(p))
        .linesIterator.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
        .count(_.contains(needle))
      val allowed = allow.getOrElse(name, 0)
      if (n > allowed) Some(s"$name: $n×'$needle' (allowed $allowed)") else None
    }

  test("collect() only where the result is metadata-sized") {
    // GlobalRank: <= numPartitions (pid, count) longs — the zipWithIndex offset map
    // ConnectedComponents: one 3-long convergence fingerprint per round
    // ScalarQuantAnn: 64 per-dimension (min, max) training bounds
    // ProductQuantAnn: the M×K×SubDim trained codebooks (1 024 doubles)
    // LmBatchScorer: the fitted model, ≤ vocabCap rows by the top-K
    //   fit (bounded regardless of corpus size — NOT vocabulary-sized)
    // Snapshots: expireSnapshots reads the (version, row_count) manifest
    //   listing — one row per snapshot VERSION, metadata-plane by design
    // EwmaScan: (a) ONE 1-row crossJoin of the gate report's three
    //   audit maxima — fixed-size scalars regardless of series length;
    //   (b) the daily audit panel re-planted as a local relation —
    //   |priorities|×|dates| rows, calendar-bounded at any corpus
    //   scale, and the re-plant is what caps the raw-table scan at
    //   ONE across the report's ten audit branches
    // BinaryQuantAnn: 64 per-dimension mean thresholds (packed-code training)
    // JsonlShards: the per-source round-trip manifest (one row per
    //   corpus source) is materialized so the corpus-sized JSONL
    //   scratch dir can be deleted eagerly — metadata-sized by design
    // DataChecks: gatedWrite reads the report — one row per check —
    //   to gate the write and re-plant the report as a local frame
    //   that survives the staging unpersist — |checks|-bounded metadata
    // FileStats: collectFor's distributed footer-read job collects the
    //   KB-sized per-file FileStats back to the driver for the
    //   manifest — one small record per data file, manifest-plane by
    //   design (the alternative IS a serial driver footer walk)
    // MorDeletes: (a) the positional-delete sidecar rides into scan
    //   planning (KB–MB by policy — merge-on-read is for point
    //   deletes; large deletes take the copy-on-write path), (b) the
    //   per-target count readback that lands in the manifest — both
    //   metadata-plane; the read-time merge itself is distributed
    //   (broadcast anti-join / per-partition position skip)
    // GraftCatalog: (a) collectAndCountFiles collects a 1-row aggregate
    //   before walking the AQE-final plan for scanned-file counts;
    //   (b) rewriteFilesOver reads the expire report — one row per
    //   snapshot version; (c) cowDmlOver collects two 1-row
    //   count/sum aggregates (current + AS OF), (d) mergePruneOver
    //   one, (e) colocatedJoinOver one (the join's 1-row
    //   aggregate, collected before the plan walk), and
    //   (f) statsPlaneOver one (the manifest-answered 1-row count
    //   the oracle replays), (g) morUpsertOver four 1-row
    //   count/sum aggregates (AS OF v3/v4, current, post-compact —
    //   the oracle replays each from silver), and (h) renameOver
    //   three 1-row count/sum aggregates (AS OF v2 under the old
    //   name, current, post-compact), and (i) eqUpsertOver four
    //   (current SQL + library, AS OF v2, post-compact), and
    //   (j) tagsOver four: two expire reports (one row per snapshot
    //   version) and three 1-row count/sum aggregates routed through
    //   two call sites (tagRead ×2, current), (k) proceduresOver
    //   six: five CALL report relations (1 row each, |versions| for
    //   expire) plus two 1-row count/sum aggregates, and
    //   (l) branchWapOver six: two CALL reports and four 1-row
    //   count/sum aggregates (staged main, audit frame, published,
    //   pinned), and (m) deleteComposeOver five 1-row count/sum
    //   aggregates (current SQL + library, AS OF v3/v5, post-compact
    //   — the composed-delete-flavor oracle replays each from
    //   silver), and (n) branchFixOver five: two CALL report relations
    //   (the branch-DML fix verbs, 1 row each) and three 1-row
    //   count/sum aggregates (main-during-fix, published, pinned),
    //   and (o) branchWapComposeOver five: one CALL report relation
    //   (merge_into_branch, 1 row) and four 1-row count/sum
    //   aggregates (SQL branch-read probe, main-during-fix,
    //   published, pinned-base — the composed-WAP oracle replays
    //   each from silver), and (p) changelogStreamOver one: the
    //   foreachBatch per-change-type count/sum aggregate — one row
    //   per change TYPE (≤4) per micro-batch, the accumulator the
    //   DuckDB oracle replays — all metadata-plane by design, and
    //   (q) bloomSkipOver one 1-row count/sum aggregate (post-delete
    //   state — the bloom-skip oracle replays it from documents), and
    //   (r) ivmRefreshOver two 1-row collects: the deterministic
    //   point-fix fingerprints (one min-CASE row for both) and the
    //   final mart totals the oracle replays from silver, and
    //   (s) ivmGoldDailyOver two 1-row collects: the deterministic
    //   delete/flip fingerprints (one min/min-struct row) and the
    //   final mart totals (dates, cents, orders, audiences) the
    //   oracle replays from silver, and
    //   (t) ivmFlagshipOver two 1-row collects: the deterministic
    //   min/max purchase fingerprints and the served join-view
    //   totals (groups, cents, buyers) the oracle replays from silver
    // Snapshots (3rd site, r17): mergeIntoBranch's bounds-pruning
    //   envelope — ONE 1-row min/max aggregate over the update set's
    //   key columns (2×|keys| scalars), the metadata that lets the
    //   merge carry every out-of-range file by reference
    // Snapshots (3rd site, r19): keyStats' ONE-row planning collect —
    //   per-key min/max/null-flag scalars plus exact key sets bounded
    //   in EXECUTOR memory by BoundedCollectSet (≤ maxInValues values
    //   per key, default 1024 — KBs of driver memory), replacing the
    //   r17 two-job envelope (min/max agg + approx-gated collect_set)
    // IncrementalMart (r19): distinctDelta's side-state consistency
    //   check — ONE 1-row min(__new) scalar over the multiplicity
    //   transitions (replaces a multi-job incremental-limit probe;
    //   also materializes tr's cache for the downstream dcd fold)
    // EqDeletes: the equality-delete KEY SET rides into scan planning
    //   driver-side (small by the upsert policy — the retraction keys
    //   of recent deliveries; compaction clears them), cached per
    //   commit identity like the positional cache
    // GraftProcedures: reportOf materializes a maintenance verb's
    //   report relation (one row per snapshot / orphan tree) into the
    //   CALL result LocalScan — metadata-sized by construction
    // BloomSkip (r18): the distributed planning probe past
    //   maxPlanningChecks collects only the PROVEN-ABSENT file paths
    //   (a path per pruned file — strictly smaller than the candidate
    //   list the driver already holds; the FileStats.collectFor shape
    //   the r17 verdict prescribed for >cap candidate sets)
    val allow = Map("GlobalRank.scala" -> 1,
      "ConnectedComponents.scala" -> 1, "ScalarQuantAnn.scala" -> 1,
      "ProductQuantAnn.scala" -> 1, "EwmaScan.scala" -> 2,
      // Snapshots: (a) one |checks|-bounded audit-report read in
      // wapPublish (same contract as DataChecks.gatedWrite), plus the
      // pre-existing metadata-plane read
      "LmBatchScorer.scala" -> 1, "Snapshots.scala" -> 3,
      "IncrementalMart.scala" -> 1,
      "BinaryQuantAnn.scala" -> 1, "JsonlShards.scala" -> 1,
      "DataChecks.scala" -> 1, "GraftCatalog.scala" -> 57,
      "FileStats.scala" -> 1, "MorDeletes.scala" -> 2,
      "EqDeletes.scala" -> 1, "GraftProcedures.scala" -> 1,
      "BloomSkip.scala" -> 1)
    assert(offenders(".collect()", allow).isEmpty,
      offenders(".collect()", allow).mkString("; "))
  }

  test("no Scala UDFs anywhere — native expressions or built-ins only") {
    assert(offenders("functions.udf", Map.empty).isEmpty)
    assert(offenders("spark.udf.register", Map.empty).isEmpty)
  }

  test("RDD drops only in the whole-operator exec and partition-batched codec") {
    // AsOfJoinExec: custom SparkPlan must produce RDD[InternalRow]
    // Multimodal: partition-batched codec boundaries — container encode
    //   in mediaTable, the decode-once pass in decodeAll, and the JPEG
    //   envelope round trip (3)
    // ServingSink: JDBC writer iterates partitions for connection batching
    // LmBatchScorer: broadcast-model batch inference (the KenLM shape)
    // FileStats: the distributed commit-time footer-read job — per-task
    //   Hadoop conf + ParquetFileReader over a file-name RDD (there is
    //   no DataFrame shape for "open this footer")
    // EqDeletes: the key-set loader collects INTERNAL row values
    //   (UTF8String/days-int/micros — what the scan reader compares
    //   against); df.collect() would hand back EXTERNAL values and
    //   force a second conversion layer per key type
    val allow = Map("AsOfJoinExec.scala" -> 3,
      "Multimodal.scala" -> 3, "ServingSink.scala" -> 2,
      "LmBatchScorer.scala" -> 1, "FileStats.scala" -> 1,
      "EqDeletes.scala" -> 1)
    val hits = offenders("mapPartitions", allow) ++
      offenders(".toRdd",
        // Harness: full-InternalRow materialization for honest timing
        // (a bare count() lets pruning skip the output)
        // EqDeletes: internal-value key collection (reason above)
        Map("Harness.scala" -> 1, "EqDeletes.scala" -> 1))
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("no driver-side row loops: first()/head() absent from the data plane") {
    // Incremental reads its watermark via a broadcast 1-row join, not first()
    // ServingSink: one 4-double min/max stats row for the z-order key bounds
    // BloomJoin: the serialized Bloom sketch (optimalNumBits/8 bytes —
    //   broadcast state, same class as trained ANN codebooks)
    // The needle is `.head(` (not `.head()`): the N-ary form
    // `.head(1)` is the same driver-side read by another arity —
    // upsertBatch once sniffed sidecar emptiness with it; that probe
    // now runs on footer arithmetic (FileStats.footerRowCount)
    assert(offenders(".first()", Map.empty).isEmpty)
    assert(offenders(".head(",
      Map("ServingSink.scala" -> 1, "BloomJoin.scala" -> 1)).isEmpty)
  }

  test("silver cache is evictable per session (no unbounded growth)") {
    import TestSession._
    SparkEntry.queries("silver_events")(spark, sf)
    assert(SparkEntry.silverCacheSize >= 1)
    SparkEntry.evictSilver(spark)
    assert(SparkEntry.silverCacheSize === 0)
  }
}
