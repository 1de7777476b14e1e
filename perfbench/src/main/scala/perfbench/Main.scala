package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. `note` adds to a per-layer
  * metric of the current operation; it is a no-op in untraced runs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dataDir: String, val workDir: String) {
  val rnd = new java.util.Random(seed)
  private[perfbench] val noted = mutable.LinkedHashMap.empty[String, Double]

  def note(metric: String, value: Double): Unit =
    if (tracer.enabled) noted(metric) = noted.getOrElse(metric, 0.0) + value

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** One timed operation. `run` is timed and returns the operation's output
  * check, which the harness calls untimed: it gives an error message when
  * the output is wrong. */
final case class Op(kind: String, run: () => (() => Option[String]))

abstract class Workload(val ctx: Ctx) {
  /** Writes the seeded inputs under `ctx.dataDir` (not billed to set-up). */
  def inputs(): Unit
  /** One set-up pass: fresh fixtures, then a warm-up that fills caches and
    * warms the JIT on every code path the timed operations take. Runs
    * `SetupPasses` times; the timed operations use the last pass's
    * fixtures. */
  def setup(pass: Int): Unit
  /** One round of the closed loop; the run times whole rounds only, so
    * every round's mix of operation kinds is counted completely. */
  def round(): Seq[Op]
  /** Rounds a run times. The count is fixed, so the median of two runs
    * always compares the same operation positions, however fast each
    * operation is. */
  def rounds: Int
  /** The end-of-run output check. */
  def finish(): Option[String] = None
  /** Directories whose writes count for the per-layer write counters, by
    * layer name. An operation notes `user_bytes`, the user data it changed
    * or produced, as the denominator of `write_amp`. */
  def writeDirs: Seq[(String, String)] = Nil
  /** Traced-run metrics computed once at the end of the run. */
  def endMetrics(): Seq[(String, Double)] = Nil
  /** Per-operation layer metrics derived from the spans and jobs of one
    * operation (traced runs only). */
  def opLayerMetrics(spans: Seq[Stats.Span], jobs: Seq[(Long, Long, String)]): Seq[(String, Double)] = Nil
}

object Main {
  val SetupPasses = 2

  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --data <dir> --work <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = args.getOrElse("workload", usage())
    val seed = args.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = args.get("seconds").map(_.toDouble).getOrElse(usage())
    val trace = args.get("trace").contains("1")
    val dataDir = args.getOrElse("data", usage())
    val workDir = args.getOrElse("work", usage())
    if (!Workloads.names.contains(name)) {
      System.err.println(s"unknown workload $name; known: ${Workloads.names.mkString(", ")}")
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$workDir/graft")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Spark's default cache of compiled generated classes (100) is smaller
      // than the distinct classes a run generates (about 150 on
      // curation_batch, 270 on medallion_batch), so with it every operation
      // recompiled about a hundred classes and the JIT compiled them again,
      // on cores the operation needs. A long-running deployment sizes it to
      // its queries.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val result = run(spark, name, seed, seconds, trace, dataDir, workDir, cores, sessionS)
      println(result)
    } finally spark.stop()
  }

  /** Bytes and files of every regular file under `root`, by path. */
  private def listing(root: String): Map[Path, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { walk =>
      val it = walk.iterator()
      val out = Map.newBuilder[Path, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f)) out += f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }
      out.result()
    }
  }

  /** Files written between two listings: new paths, or changed size or time. */
  private def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (p, st) => !before.get(p).contains(st) }
    (fresh.size.toLong, fresh.values.map(_._1).sum)
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("bytes") || metric.endsWith("bytes_written")) "bytes"
    else if (metric.endsWith("_amp") || metric.endsWith("_overlap") || metric.contains("_per_")) "ratio"
    else "count"

  /** Runs one operation, then `afterRun` with its seconds, then its output
    * check: the operation's seconds when both succeed, else why it failed;
    * a failed operation records no time. Non-fatal errors are failures;
    * fatal ones (out of memory, interrupts) propagate and end the run. */
  def attempt(run: () => (() => Option[String]), afterRun: Double => Unit = _ => ()): Either[String, Double] = {
    val t = System.nanoTime()
    val check = try run() catch { case NonFatal(e) => return Left(e.toString) }
    val sec = (System.nanoTime() - t) / 1e9
    afterRun(sec)
    (try check() catch { case NonFatal(e) => Some(e.toString) }).toLeft(sec)
  }

  /** Flush policy, the same before every timed operation: write dirty
    * pages out so an operation never pays for its predecessor's writes. */
  private def settleDisk(): Unit = {
    val p = new ProcessBuilder("sync").inheritIO().start()
    p.waitFor()
    ()
  }

  /** Heap occupancy after a full collection. Spark frees cached blocks of
    * collected frames asynchronously (its context cleaner reacts to the
    * first collection), so a second collection follows a short pause. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One traced operation's scheduler and layer metrics: `spans` are its
    * spans (the root first), `jobs` its Spark jobs in the spans' clock. */
  private def opLayers(sec: Double, spans: Seq[Stats.Span], jobs: Seq[(Long, Long, String)],
                       d: TaskTotals, jvm: (Long, Long)): Map[String, Double] = {
    val root = spans.head
    val jobNs = Stats.unionLength(jobs.map(j => (j._1, j._2)), root.start, root.end)
    val self = Stats.selfTimes(spans)
    val layerSelf = spans.tail.groupBy(_.layer).map { case (l, ss) => s"$l.self_s" -> ss.map(s => self(s.id)).sum / 1e9 }
    val spanTimes = spans.tail.groupBy(_.name).map { case (n, ss) => s"${n}_s" -> ss.map(s => s.end - s.start).sum / 1e9 }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble,
      "spark.job_s" -> jobNs / 1e9,
      "spark.driver_s" -> (sec - jobNs / 1e9),
      "spark.executor_run_s" -> d.runMs / 1e3,
      "spark.executor_cpu_s" -> d.cpuNs / 1e9,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.shuffle_read_bytes" -> d.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> d.shuffleWrite.toDouble,
      "spark.spill_bytes" -> d.spill.toDouble,
      "spark.input_bytes" -> d.input.toDouble,
      "spark.output_bytes" -> d.output.toDouble,
      "spark.records_read" -> d.records.toDouble,
      "spark.codegen_compiles" -> jvm._1.toDouble,
      "jvm.jit_s" -> jvm._2 / 1e3,
      "unattributed_s" -> self(root.id) / 1e9) ++ layerSelf ++ spanTimes
  }

  /** Generated classes Spark has compiled, and milliseconds the JIT has
    * spent compiling, since the JVM started. */
  private def compiled(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          dataDir: String, workDir: String, cores: Int, sessionS: Double): String = {
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, tracer, seed, dataDir, workDir)
    val wl = Workloads(name, ctx)
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    // job times are epoch ms; spans are nanoTime: one offset maps between them
    val nsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

    wl.inputs()

    val passS = (1 to SetupPasses).map { pass =>
      val t = System.nanoTime()
      wl.setup(pass)
      (System.nanoTime() - t) / 1e9
    }
    // the first pass runs on a cold JVM, the second on a warm one
    val setupS = sessionS + Stats.median(passS)

    // ---- timed region: closed loop, one client, a fixed number of whole
    // rounds; `seconds` only caps it: no round starts after it has passed ----
    val lat = mutable.ArrayBuffer.empty[Double]
    val kinds = mutable.ArrayBuffer.empty[String]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var heapPeak = heapAfterGcMb()
    var lastGc = System.nanoTime()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r < wl.rounds && (r == 0 || System.nanoTime() < deadline)) {
      wl.round().foreach { op =>
        val listBefore = if (trace) wl.writeDirs.map { case (_, d) => listing(d) } else Nil
        if (trace) drain()
        val (jobsBefore, totBefore) = listener.snapshot()
        val spansBefore = tracer.spans.size
        ctx.noted.clear()
        settleDisk()
        val jvmBefore = compiled()
        attempted += 1
        // the operation's layers are read before its output check runs, so
        // the check's own jobs and reads never count
        var layers = Map.empty[String, Double]
        def traced(sec: Double): Unit = if (trace) {
          val jvmAfter = compiled()
          drain()
          val (jobsAfter, totAfter) = listener.snapshot()
          val jobs = listener.synchronized(listener.jobs.slice(jobsBefore, jobsAfter).toSeq)
            .map(j => (j.start * 1000000L - nsOffset, j.end * 1000000L - nsOffset, j.site))
          val writes = wl.writeDirs.zip(listBefore).flatMap { case ((layer, dir), before) =>
            val (files, bytes) = written(before, listing(dir))
            Seq(s"$layer.files_written" -> files.toDouble, s"$layer.bytes_written" -> bytes.toDouble)
          }.groupMapReduce(_._1)(_._2)(_ + _)
          val spans = tracer.spans.drop(spansBefore).toSeq
          layers = opLayers(sec, spans, jobs, totAfter.minus(totBefore),
            (jvmAfter._1 - jvmBefore._1, jvmAfter._2 - jvmBefore._2)) ++ writes ++ ctx.noted ++
            wl.opLayerMetrics(spans, jobs)
        }
        attempt(() => tracer.op(attempted)(op.run()), traced) match {
          case Left(err) => failed += 1; failures += s"${op.kind}: $err"
          case Right(sec) =>
            lat += sec; kinds += op.kind
            if (trace) perOp += layers
        }
        if (System.nanoTime() - lastGc > 1000000000L) {
          heapPeak = math.max(heapPeak, heapAfterGcMb())
          lastGc = System.nanoTime()
        }
      }
      r += 1
    }
    if (r < wl.rounds)
      System.err.println(s"[perfbench] the ${seconds}s cap stopped the run after $r of ${wl.rounds} rounds")
    heapPeak = math.max(heapPeak, heapAfterGcMb())
    val finalErr = try wl.finish() catch { case NonFatal(e) => Some(e.toString) }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    finalErr.foreach(e => System.err.println(s"[perfbench] end-of-run check FAILED: $e"))
    val correct = failed == 0 && finalErr.isEmpty

    val tail = if (lat.nonEmpty) Stats.tail(lat.toSeq) else Stats.Tail(100, Double.NaN, 0)
    val p50 = if (lat.nonEmpty) Stats.median(lat.toSeq) else Double.NaN
    val e2e = Seq(("setup_s", setupS, "s"), ("op_p50_s", p50, "s"), ("heap_peak_mb", heapPeak, "MB"))

    val human = new StringBuilder
    human ++= f"[perfbench] workload=$name seed=$seed cores=$cores trace=${if (trace) 1 else 0} " +
      f"rounds=$r ops=${lat.size} attempted=$attempted failed=$failed " +
      f"fail_ratio=${Stats.failRatio(attempted, failed)}%.4f\n"
    human ++= f"[perfbench] session_s=$sessionS%.3f setup_passes_s=${passS.map(x => f"$x%.3f").mkString(",")}\n"
    human ++= s"[perfbench] latencies_s=${lat.map(x => f"$x%.3f").mkString(",")}\n"
    human ++= f"[perfbench] op_tail_s      ${tail.value}%.6f s (p${tail.pct}, ${tail.beyond} samples " +
      f"beyond it, of ${lat.size})\n"
    kinds.zip(lat).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      human ++= f"[perfbench] kind=$k n=${xs.size} p50_s=${Stats.median(xs.map(_._2).toSeq)}%.4f\n"
    }
    e2e.foreach { case (n, v, u) => human ++= f"[perfbench] $n%-14s $v%.6f $u\n" }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val keys = perOp.flatMap(_.keys).distinct
        val totals = keys.map(k => k -> perOp.map(_.getOrElse(k, 0.0)).sum).toMap
        val opMeans = totals.map { case (k, v) => k -> v / math.max(1, perOp.size) }
        // ratios of totals, so one small change does not outweigh a large one
        def ratio(num: Double, den: String) = totals.get(den).filter(_ > 0).map(num / _)
        val derived = Seq(
          "write_amp" -> ratio(totals.getOrElse("sources.bytes_written", 0.0) +
            totals.getOrElse("sink.bytes_written", 0.0), "user_bytes"),
          "sources.rows_read_per_row_returned" ->
            ratio(totals.getOrElse("spark.records_read", 0.0), "rows_returned"))
          .collect { case (k, Some(v)) => k -> v }
        val setupSpans = tracer.spans.filter(s => s.op == -1).groupBy(_.name).map { case (n, ss) =>
          s"setup.${n}_s" -> ss.map(s => s.end - s.start).sum / 1e9 / SetupPasses
        }
        val all = opMeans ++ derived ++ setupSpans ++ wl.endMetrics() + ("trace.op_p50_s" -> p50)
        human ++= s"[perfbench] per-layer means per operation ($name, ${perOp.size} ops):\n"
        all.toSeq.sortBy(_._1).foreach { case (k, v) => human ++= f"[layer] $k%-32s $v%.6f\n" }
        all.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
      }
    System.out.print(human.toString)
    System.out.flush()

    // a run in which no operation succeeded has no latency; it reports 0
    // and is not correct
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }
}
