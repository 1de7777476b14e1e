package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only the last ~2000 chars of stdout and sbt
  * appends its own `[success]` line after ours, so the single JSON
  * line Bench prints must stay under 1700 chars no matter how many
  * queries SparkEntry grows (round-2 lesson: the full 74-query map
  * was 2.8 KB and the driver recorded `parsed: null`).
  */
class BenchJsonSpec extends AnyFunSuite {

  // NEVER the repo-root BENCH_FULL.json — a test run must not clobber
  // the committed artifact of the last real benchmark
  private def tmpFull: String =
    java.nio.file.Files.createTempFile("bench_full_spec_", ".json").toString

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"q_some_rather_long_query_name_$i%03d" -> (i * 0.123456789))

  test("small result sets emit the full per-query map") {
    val line = Bench.benchJson(fakeResults(10), 1.234567, "/tmp/sf", tmpFull)
    assert(line.length <= 1700)
    assert(line.contains("\"q_some_rather_long_query_name_001\":0.123"))
    assert(!line.contains("queries_omitted"))
    // one line, valid-JSON-ish shape
    assert(!line.contains("\n"))
    assert(line.startsWith("{\"metric\":\"total\",\"value\":1.235,"))
  }

  test("large result sets fall back to the headline subset and stay under budget") {
    val many = fakeResults(120) ++ Seq("silver_events" -> 0.5, "gold_daily_sales" -> 0.7)
    val line = Bench.benchJson(many, 99.9, "/tmp/sf", tmpFull)
    assert(line.length <= 1700, s"line was ${line.length} chars")
    assert(line.contains("\"queries_omitted\":120"))
    assert(line.contains("\"silver_events\":0.5"))
    assert(line.contains("\"queries_full_file\":\"BENCH_FULL.json\""))
  }

  test("r13-shaped overflow keeps the sf1 signal: 12+ risky ratios with per-name labels degrade to worst-8 + summary, never to nothing") {
    // the real r13 board: 24-entry curve, 12 entries ≥1.5 with long
    // names, 16 adjudication labels — the risky tier's per-name labels
    // overflowed and the old floor dropped the sf1 section entirely
    val worst = (Bench.headlineNames.map(_ -> 999.999) ++ fakeResults(200)).toSeq
    val curveNames = (1 to 24).map(i => f"meta_catalog_some_long_family_$i%02d")
    val sf1 = curveNames.zipWithIndex.map { case (n, i) => (n, 99.99, 5.0 - i * 0.1) }
    val sf1Adj = curveNames.take(16)
      .map(_ -> "explained:epoch-drift-with-a-long-reason").toMap
    val adj = Map("q_a" -> "regressed", "q_b" -> "noise")
    val line = Bench.benchJson(worst, 9999.999, "/root/testdata/sf0.1", tmpFull,
      sf1 = sf1, adj = adj,
      attribution = "window:9818fdd262e44a15d3fc67ea59cd90f91d641f4d..HEAD",
      commonTotals = Some((165.55, 140.901)),
      stamp = ""","load_avg":[4.5,4.9],"outlier_reruns":57""",
      sf1Adj = sf1Adj)
    assert(line.length <= 1700, s"line was ${line.length} chars")
    assert(line.contains(""""ratio_vs_base""""),
      "the sf1 ratios are the judged signal and must survive every degradation tier")
    assert(line.contains(""""adjudication_summary""""),
      "arbitration must survive in summary form when per-name labels don't fit")
    assert(line.contains("meta_catalog_some_long_family_01"),
      "the WORST ratio must be among the survivors")
  }

  test("even the worst-case headline subset fits with sbt's success line in a 2000-char tail") {
    val worst = (Bench.headlineNames.map(_ -> 999.999) ++ fakeResults(200)).toSeq
    val line = Bench.benchJson(worst, 9999.999, "/root/testdata/sf0.1", tmpFull)
    assert(line.length + 100 <= 2000, s"line was ${line.length} chars")
  }

  test("fully-loaded compact line (sf1 curve + adjudication + attribution + trend) stays parseable in the capture budget") {
    // the realistic r11 shape that overflowed before the fix: full
    // query map too big -> headline fallback, PLUS a grown sf1 curve
    // and every stamp field present
    val worst = (Bench.headlineNames.map(_ -> 999.999) ++ fakeResults(200)).toSeq
    val sf1 = Bench.scaleCurveQueries.map(n => (n, 99.99, 11.759))
    val adj = Map("q_a" -> "regressed", "q_b" -> "noise", "q_c" -> "explained:epoch-drift")
    val line = Bench.benchJson(worst, 9999.999, "/root/testdata/sf0.1", tmpFull,
      sf1 = sf1, adj = adj, warmup = Seq("silver_events" -> 12.5),
      warmupSf1 = Seq("silver_events" -> 99.9),
      attribution = "window:9818fdd262e44a15d3fc67ea59cd90f91d641f4d..HEAD",
      commonTotals = Some((165.55, 140.901)),
      stamp = ""","load_avg":[4.5,4.9],"outlier_reruns":57""")
    assert(line.length <= 1700, s"compact line was ${line.length} chars")
    assert(line.contains(""""ratio_vs_base""""), "sf1 ratios are the judged signal, must survive")
    assert(!line.contains(""""sf1":{"factor":10,"queries""""),
      "sf1 absolute seconds live in the full file only")
    assert(line.contains(""""attribution""""))
    // the full file still carries both sf1 maps
    val fullText = scala.io.Source.fromFile(tmpFull).mkString
    // (tmpFull is fresh per call — re-emit to a known file)
    val f2 = tmpFull
    Bench.benchJson(worst, 9999.999, "/root/testdata/sf0.1", f2, sf1 = sf1)
    val ft = scala.io.Source.fromFile(f2).mkString
    assert(ft.contains(""""queries":{""") && ft.contains(""""ratio_vs_base""""))
  }

  test("adjudication verdicts ride the full line; the fallback carries the summary") {
    val adj = Map("q_a" -> "noise", "q_b" -> "regressed", "q_c" -> "explained:real codecs")
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull, adj = adj)
    assert(small.contains(""""adjudication":{"q_a":"noise","q_b":"regressed","q_c":"explained:real codecs"}"""))
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", tmpFull, adj = adj)
    assert(big.length <= 1700)
    assert(big.contains(""""adjudication_summary":{"noise":1,"explained":1,"regressed":1,"regressed_names":["q_b"]}"""))
    // no adjudication → no field (the common clean-board case)
    assert(!Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull).contains("adjudication"))
  }

  test("warmup staging seconds ride the full line but never the compact fallback") {
    val wu = Seq("silver_events" -> 1.5, "media_decoded" -> 0.8)
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull, warmup = wu)
    assert(small.contains(""""warmup":{"silver_events":1.500,"media_decoded":0.800}"""))
    val f2 = tmpFull
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", f2, warmup = wu)
    assert(!big.contains("warmup"), "compact line must stay in the capture budget")
    val fullText = scala.io.Source.fromFile(f2).mkString
    assert(fullText.contains(""""warmup":{"silver_events":1.500"""),
      "BENCH_FULL.json must carry the warmup object")
  }

  test("sf1 warmup staging rides the full line as warmup_sf1, never the compact fallback") {
    val wu1 = Seq("silver_events" -> 1.5)
    val wuSf1 = Seq("silver_events" -> 9.75, "sim_embed_neardup" -> 3.25)
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull,
      warmup = wu1, warmupSf1 = wuSf1)
    assert(small.contains(""""warmup_sf1":{"silver_events":9.750,"sim_embed_neardup":3.250}"""))
    val f2 = tmpFull
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", f2,
      warmup = wu1, warmupSf1 = wuSf1)
    assert(!big.contains("warmup_sf1"), "compact line must stay in the capture budget")
    val fullText = scala.io.Source.fromFile(f2).mkString
    assert(fullText.contains(""""warmup_sf1":{"silver_events":9.750"""),
      "BENCH_FULL.json must carry the sf1 warmup object")
  }

  test("attribution status rides both the full line and the compact fallback") {
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull,
      attribution = "window:abc1234..HEAD")
    assert(small.contains(""""attribution":"window:abc1234..HEAD""""))
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", tmpFull,
      attribution = "unavailable:no-prev-sha")
    assert(big.length <= 1700)
    assert(big.contains(""""attribution":"unavailable:no-prev-sha""""),
      "a reader of the compact line must still be able to weigh regressed labels")
    assert(!Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull)
      .contains("attribution"))
  }

  test("sf1 curve self-adjudicates: runs/prev/adjudication in the full file, summary on the compact line") {
    val sf1 = Seq(("q_sketch_rolling_topk", 20.76, 25.9), ("dedup_incremental", 6.29, 15.3),
      ("sim_semdedup", 2.1, 2.6))
    val runs = Map(
      "q_sketch_rolling_topk" -> Seq(20.9, 20.76),
      "dedup_incremental" -> Seq(9.4, 6.29, 6.5),
      "sim_semdedup" -> Seq(2.3, 2.1))
    val prevSf1 = Map("q_sketch_rolling_topk" -> 0.59, "dedup_incremental" -> 0.53,
      "sim_semdedup" -> 2.0)
    val sf1Adj = Map(
      "q_sketch_rolling_topk" -> "explained:epoch-drift",
      "dedup_incremental" -> "explained:epoch-drift")
    val small = Bench.benchJson(fakeResults(5), 1.0, "/tmp/sf", tmpFull,
      sf1 = sf1, sf1Runs = runs, sf1Prev = prevSf1, sf1Adj = sf1Adj)
    // full line: raw repeats, previous board's seconds, per-name verdicts
    assert(small.contains(""""runs":{"q_sketch_rolling_topk":[20.90,20.76]"""))
    assert(small.contains(""""dedup_incremental":[9.40,6.29,6.50]"""))
    assert(small.contains(""""prev_queries":{"q_sketch_rolling_topk":0.590"""))
    assert(small.contains(""""q_sketch_rolling_topk":"explained:epoch-drift""""))
    // compact fallback: the adjudication summary rides INSIDE the sf1
    // object so a reader of the captured line can weigh inflated ratios
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", tmpFull,
      sf1 = sf1, sf1Runs = runs, sf1Prev = prevSf1, sf1Adj = sf1Adj)
    assert(big.length <= 1700)
    assert(big.contains(""""adjudication_summary":{"noise":0,"explained":2,"regressed":0"""))
    assert(!big.contains(""""runs":"""), "raw repeats live in the full file only")
  }

  test("adjudicateOne: shared verdict policy for base board and sf1 curve") {
    val qf = Map("q_x" -> Set("src/main/scala/graft/ops/TopK.scala"))
    val untouched = Some(Set("src/main/scala/graft/ops/Bucketize.scala"))
    val touched = Some(Set("src/main/scala/graft/ops/TopK.scala"))
    // inflated board number, untouched closure -> epoch drift
    assert(Bench.adjudicateOne("q_x", 20.76, Some(0.59), Seq(20.9, 20.76), qf, untouched)
      === Some("q_x" -> "explained:epoch-drift"))
    // inflated board number, touched closure -> regressed
    assert(Bench.adjudicateOne("q_x", 20.76, Some(0.59), Seq(20.9, 20.76), qf, touched)
      === Some("q_x" -> "regressed"))
    // a raw repeat spiked but the robust number did not -> noise
    assert(Bench.adjudicateOne("q_x", 0.6, Some(0.55), Seq(9.4, 0.6), qf, untouched)
      === Some("q_x" -> "noise"))
    // clean entry -> no verdict
    assert(Bench.adjudicateOne("q_x", 0.6, Some(0.55), Seq(0.62, 0.6), qf, untouched).isEmpty)
    // no previous sf1 seconds (tail-capture baseline) -> no verdict
    assert(Bench.adjudicateOne("q_x", 20.76, None, Seq(20.9), qf, untouched).isEmpty)
    // attribution unavailable -> conservative: regressed stays possible
    assert(Bench.adjudicateOne("q_x", 20.76, Some(0.59), Seq(20.9), qf, None)
      === Some("q_x" -> "regressed"))
  }

  test("a throwing query is named in `failed`, never timed, on both line shapes") {
    assert(Bench.timed("q_boom")(throw new RuntimeException("boom")) === None)
    assert(Bench.timed("q_ok")(()).exists(_ >= 0))
    intercept[InterruptedException](Bench.timed("q_fatal")(throw new InterruptedException()))
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull,
      failed = Seq("q_boom", "sf1:q_boom"))
    assert(small.contains(""""failed_count":2,"failed":["q_boom","sf1:q_boom"]"""))
    assert(!small.contains(""""q_boom":"""), "a failed query has no time")
    val f2 = tmpFull
    val boom = (1 to 8).map(i => s"q_boom_$i")
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", f2, failed = boom)
    assert(big.length <= 1700)
    assert(big.contains(""""failed_count":8,"failed":["q_boom_1","q_boom_2","q_boom_3","q_boom_4","q_boom_5"]"""))
    assert(scala.io.Source.fromFile(f2).mkString.contains(
      boom.map("\"" + _ + "\"").mkString(""""failed":[""", ",", "]")),
      "BENCH_FULL.json names every failed query")
  }

  test("failed warmup stages ride NEGATED so the artifact distinguishes them") {
    val wu = Seq("silver_events" -> 1.5, "dedup_clusters" -> -3.25)
    val small = Bench.benchJson(fakeResults(5), 1.0, "/tmp/sf", tmpFull, warmup = wu,
      warmupSf1 = Seq("mm_media_meta" -> -9.5))
    assert(small.contains(""""dedup_clusters":-3.250"""))
    assert(small.contains(""""warmup_sf1":{"mm_media_meta":-9.500}"""))
  }

  test("overflow floor: a pathological line degrades to headline+attribution and always fits") {
    // force every fallback to overflow: huge sf1 curve with long names
    // and adjudication entries on all of them
    val worst = (Bench.headlineNames.map(_ -> 999.999) ++ fakeResults(200)).toSeq
    val sf1 = (1 to 60).map(i => (f"q_very_long_scale_curve_entry_name_$i%03d", 99.99, 25.9))
    val sf1Adj = sf1.map(e => e._1 -> "explained:epoch-drift").toMap
    val adj = fakeResults(80).map(_._1 -> "regressed").toMap
    val line = Bench.benchJson(worst, 9999.999, "/root/testdata/sf0.1", tmpFull,
      sf1 = sf1, adj = adj, sf1Adj = sf1Adj,
      attribution = "window:9818fdd262e44a15d3fc67ea59cd90f91d641f4d..HEAD",
      commonTotals = Some((165.55, 140.901)),
      stamp = ""","load_avg":[4.5,4.9],"outlier_reruns":57""")
    assert(line.length <= 1700, s"floor line was ${line.length} chars")
    assert(line.contains(""""silver_events":999.999"""))
  }

  test("round-over-round common-query totals ride both line shapes") {
    val small = Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull,
      commonTotals = Some((165.55, 140.901)))
    assert(small.contains(
      """"prev_common_total":165.550,"common_total":140.901,"common_total_min":140.901"""))
    val big = Bench.benchJson(fakeResults(150), 99.9, "/tmp/sf", tmpFull,
      commonTotals = Some((165.55, 140.901)))
    assert(big.length <= 1700)
    assert(big.contains(""""prev_common_total":165.550"""))
    assert(!Bench.benchJson(fakeResults(10), 1.0, "/tmp/sf", tmpFull)
      .contains("common_total"), "no previous board -> no trend fields")
  }

  test("board lines stamp git_head so the next adjudicator can diff") {
    val line = Bench.benchJson(fakeResults(5), 1.0, "/tmp/sf", tmpFull)
    assert(line.contains(""""git_head":""") ===
      new java.io.File(".git").exists, "sha present exactly when git is")
  }

  // The robust sampling policy is shared by the base board's
  // scale-curve entries and the sf1 curve — the sf1 ratio's numerator
  // and denominator must carry the same noise discipline (r6: two
  // clean boards agreed on sf1 absolute times yet disagreed on ratios
  // because only the denominators drifted).
  test("robustSec: small entries always take a third sample, min-of-3") {
    var calls = 0
    val sec = Bench.robustSec(1.8, 1.5, () => { calls += 1; 1.2 })
    assert(calls == 1 && sec == 1.2)
  }

  test("robustSec: agreeing samples >=2s take the min, no third run") {
    var calls = 0
    val sec = Bench.robustSec(5.0, 4.2, () => { calls += 1; 0.0 })
    assert(calls == 0 && sec == 4.2)
  }

  test("robustSec: disagreeing samples >=2s arbitrate with median-of-3") {
    var calls = 0
    val sec = Bench.robustSec(9.0, 4.0, () => { calls += 1; 4.3 })
    assert(calls == 1 && sec == 4.3)
  }
}
