package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.dedup.NearDup
import graft.marts.SilverEvents
import graft.sim.IvfAnn
import graft.sources.{BloomSkip, IncrementalMart, Snapshots, Tables}
import graft.text.QualityFilters

object Workloads {
  val names: Seq[String] = Seq("medallion_batch", "ivm_refresh", "serving_reads", "curation_batch")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "medallion_batch" => new MedallionBatch(ctx)
    case "ivm_refresh" => new IvmRefresh(ctx)
    case "serving_reads" => new ServingReads(ctx)
    case "curation_batch" => new CurationBatch(ctx)
  }

  /** An order-insensitive digest of collected rows. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { w =>
      w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    }
  }

  def fileCount(dir: String): Long =
    scala.util.Using.resource(Files.walk(Paths.get(dir)))(_.filter(Files.isRegularFile(_)).count())

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { w =>
      w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
    }
  }

  /** Rows and an order-insensitive content digest of each named frame,
    * computed by Spark in one action. */
  def contentOf(frames: Seq[(String, DataFrame)]): Seq[(String, (Long, Long))] = {
    val parts = frames.map { case (name, df) =>
      val h = xxhash64(df.columns.toIndexedSeq.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))
      df.agg(lit(name).as("name"), count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h"))
    }
    val got = parts.reduce(_ unionByName _).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    frames.map { case (name, _) => name -> got(name) }
  }
}

/** The paper's core path, raw events to silver to the seven gold marts to
  * the sorted, partitioned serving layout, then the served-mart summary
  * reads: `Pipeline.runAll`, whose three steps (load, cached silver,
  * `Pipeline.runAllWith`) are called here one by one so each gets a span. */
final class MedallionBatch(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  private val events = 20000
  private val out = s"${ctx.workDir}/serving"
  private var reference: Seq[(String, (Long, Long))] = Nil
  private var setupError: Option[String] = None

  def inputs(): Unit = Inputs.events(spark, ctx.dataDir, ctx.seed, events)

  val rounds = 5

  override def writeDirs: Seq[(String, String)] = Seq("sink" -> out)

  /** `Pipeline.runAll`; returns its summary frame of served rows. */
  private def pipeline(outDir: String): DataFrame = {
    val raw = ctx.span("sources.load")(Tables.events(spark, ctx.dataDir))
    val silver = ctx.span("marts.silver_plan")(SilverEvents.build(raw).cache())
    try ctx.span("ops.dag")(Pipeline.runAllWith(spark, silver, outDir))
    finally silver.unpersist()
  }

  private def served(outDir: String): Seq[(String, (Long, Long))] =
    Workloads.contentOf(Pipeline.goldMartNames.map(m => m -> spark.read.parquet(s"$outDir/$m")))

  /** A build of the serving layout, which is also the warm-up; the first
    * pass's output is the reference every later build must equal. */
  def setup(pass: Int): Unit = {
    pipeline(out)
    val got = served(out)
    if (pass == 1) reference = got
    else if (got != reference) setupError = Some(s"set-up pass $pass served $got, pass 1 $reference")
  }

  override def finish(): Option[String] = setupError

  private lazy val inputBytes = Workloads.dirBytes(s"${ctx.dataDir}/events.parquet").toDouble

  def round(): Seq[Op] = Seq(Op("runAll", () => {
    val summary = pipeline(out)
    ctx.note("user_bytes", inputBytes)
    () => {
      val got = served(out)
      val counts = got.map { case (m, (n, _)) => m -> n }.toMap
      val summed = summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (got != reference) Some(s"served marts $got differ from the reference $reference")
      else if (summed != counts) Some(s"summary $summed differs from served rows $counts")
      else None
    }
  }))

  override def opLayerMetrics(spans: Seq[Stats.Span], jobs: Seq[(Long, Long, String)]): Seq[(String, Double)] =
    spans.find(_.name == "ops.dag").toSeq.flatMap { dag =>
      // runAllWith submits jobs from the DAG's threads and its summary
      // pool; a job's call site says which step submitted it. Serving
      // writes also compute their mart, which Spark fuses into the write.
      def isSink(site: String) = site.contains("graft.sink.") || site.contains("writeEntityMart")
      def isMart(site: String) = !isSink(site) && site.contains("graft.marts.")
      def within(js: Seq[(Long, Long, String)]) = Stats.unionLength(js.map(j => (j._1, j._2)), dag.start, dag.end) / 1e9
      // every DAG task waits for the silver cache, so the jobs that start
      // before the first mart or serving job are silver's materialization
      val firstMart = jobs.filter(j => isSink(j._3) || isMart(j._3)).map(_._1).minOption.getOrElse(dag.end)
      Seq("marts.silver_s" -> within(jobs.filter(j => j._1 >= dag.start && j._1 < firstMart)),
        "sink.write_s" -> within(jobs.filter(j => isSink(j._3))),
        "marts.gold_s" -> within(jobs.filter(j => isMart(j._3))),
        "sink.summary_s" -> within(jobs.filter(j => !isSink(j._3) && j._3.contains("runAllWith"))))
    }
}

/** Incremental view maintenance over a changelog-enabled `graft.` table:
  * one seeded change (a date-slice INSERT, a key DELETE, an UPDATE that
  * flips `event_type`, or a MERGE restating prices), then
  * `IncrementalMart.refresh` of the two marts over it. The operation's
  * latency is the change's freshness in the gold marts. */
final class IvmRefresh(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  import IncrementalMart.{MartDef, Measure}
  private val events = 20000
  private val baseDays = 10

  private val revE = "CAST(CASE WHEN event_type = 'purchase' THEN price ELSE 0 END AS DECIMAL(28,10))"
  private val ordE = "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
  private val viewE = "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"
  private val clickE = "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"
  private val custE = "CASE WHEN event_type = 'purchase' THEN user_id END"
  private val vwrE = "CASE WHEN event_type = 'view' THEN user_id END"
  private val daily = MartDef(Seq("event_date"),
    sums = Seq(Measure("revenue", revE), Measure("orders", ordE),
      Measure("views", viewE), Measure("clicks", clickE)),
    distincts = Seq(Measure("customers", custE), Measure("viewers", vwrE)))
  private val brand = MartDef(Seq("event_date", "category", "brand"),
    sums = Seq(Measure("brand_revenue", "price")),
    filter = Some("event_type = 'purchase'"))

  // each set-up pass builds its own fixtures; the timed operations use the last
  private var pass = 0
  private def table = s"graft.ivm$pass.base"
  private def basePath = s"${ctx.workDir}/graft/ivm$pass/base"
  private def martsDir = s"${ctx.workDir}/marts$pass"
  private def marts = Seq(s"$martsDir/daily" -> daily, s"$martsDir/brand" -> brand)
  private def staging = s"${ctx.workDir}/staging$pass"
  // the harness's model of the live keys that seeded changes pick from
  private val live = mutable.ArrayBuffer.empty[String]
  private var keysByDay: Map[Int, Seq[String]] = Map.empty
  private var nextDay = 0
  private var warmUpShape: Seq[Long] = Nil
  private var setupError: Option[String] = None
  private var userBytesPerRow = 0.0
  private var sideCommits = 0L

  def inputs(): Unit = Inputs.events(spark, ctx.dataDir, ctx.seed, events)

  val rounds = 2

  override def writeDirs: Seq[(String, String)] = Seq("sources" -> basePath, "sources" -> martsDir)

  /** Bytes of the base table's live rows written once as one plain file. */
  private def compactBytes(): Double = {
    val compact = s"${ctx.workDir}/compact"
    Snapshots.readLatest(spark, basePath).coalesce(1).write.parquet(compact)
    try Workloads.dirBytes(compact).toDouble finally Workloads.deleteTree(compact)
  }

  private def sideVersions(): Long =
    daily.distincts.map(m => Snapshots.versions(s"${marts.head._1}/_dstate/${m.name}").size.toLong).sum

  /** Stages the silver-derived rows, creates the base table from the first
    * ten days, initializes both marts, then warms up with one round. */
  def setup(p: Int): Unit = {
    pass = p
    live.clear()
    nextDay = baseDays + 1
    val silver = ctx.span("marts.silver_plan")(SilverEvents.build(ctx.span("sources.load")(
      Tables.events(spark, ctx.dataDir))))
    silver.selectExpr("event_unique_id", "event_date", "event_type", "user_id",
      "CAST(price AS DECIMAL(28,10)) AS price", "item_key % 5 AS category",
      "substr(md5(CAST(item_key AS STRING)), 1, 1) AS brand")
      .write.parquet(staging)
    spark.read.parquet(staging).createOrReplaceTempView("ivm_staging")
    keysByDay = spark.read.parquet(staging)
      .select(dayofmonth(col("event_date")), col("event_unique_id")).collect()
      .groupBy(_.getInt(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSeq.sorted }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.ivm$pass")
    ctx.span("sources.commit")(spark.sql(s"CREATE TABLE $table " +
      "TBLPROPERTIES('graft.changelog.keys'='event_unique_id') " +
      s"AS SELECT /*+ COALESCE(1) */ * FROM ivm_staging WHERE event_date <= ${Inputs.sqlDate(baseDays)}"))
    (1 to baseDays).foreach(d => live ++= keysByDay.getOrElse(d, Nil))
    marts.foreach { case (path, defn) =>
      Files.createDirectories(Paths.get(path))
      BloomSkip.enable(path, Seq("event_date"))
      ctx.span("sources.initialize")(IncrementalMart.initialize(spark, basePath, path, defn, 3))
    }
    if (pass == 1) userBytesPerRow = compactBytes() / live.size
    // the warm-up round follows the same seeded schedule in every pass, so
    // the files it leaves and the side commits it makes must repeat
    val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    val shape = changes(rnd).flatMap { op =>
      op.run()().foreach(e => setupError = Some(s"set-up ${op.kind}: $e"))
      Seq(Workloads.fileCount(martsDir), sideVersions())
    }
    if (pass == 1) warmUpShape = shape
    else if (shape != warmUpShape)
      setupError = Some(s"set-up pass $pass left files and side commits $shape, pass 1 $warmUpShape")
    sideCommits = sideVersions()
  }

  private def pick(rnd: java.util.Random): String = {
    val i = rnd.nextInt(live.size)
    val k = live(i)
    live(i) = live.last
    live.remove(live.size - 1)
    k
  }

  private def refreshAll(): Unit =
    marts.foreach { case (path, _) => ctx.span("sources.refresh")(IncrementalMart.refresh(spark, path)) }

  /** Untimed, after each change: side-state commits of the distinct
    * measures, a count that must repeat at a fixed seed. */
  private def counted(): Option[String] = {
    val now = sideVersions()
    ctx.note("sources.side_commits", (now - sideCommits).toDouble)
    sideCommits = now
    None
  }

  /** One change of each kind, in a seeded order. */
  private def changes(rnd: java.util.Random): Seq[Op] = {
    val ops = Seq[() => Op](
      () => {
        val day = nextDay
        require(day <= Inputs.Days, "ran out of date slices to insert")
        nextDay += 1
        val keys = keysByDay.getOrElse(day, Nil)
        Op("insert", () => {
          ctx.span("sources.commit")(spark.sql(s"INSERT INTO $table SELECT /*+ COALESCE(1) */ * " +
            s"FROM ivm_staging WHERE event_date = ${Inputs.sqlDate(day)}"))
          refreshAll()
          live ++= keys
          ctx.note("user_bytes", keys.size * userBytesPerRow)
          () => counted()
        })
      },
      () => {
        val k = pick(rnd)
        Op("delete", () => {
          ctx.span("sources.commit")(spark.sql(s"DELETE FROM $table WHERE event_unique_id = '$k'"))
          refreshAll()
          ctx.note("user_bytes", userBytesPerRow)
          () => counted()
        })
      },
      () => {
        val k = live(rnd.nextInt(live.size))
        Op("update", () => {
          ctx.span("sources.commit")(spark.sql(s"UPDATE $table SET event_type = CASE WHEN " +
            s"event_type = 'purchase' THEN 'view' ELSE 'purchase' END WHERE event_unique_id = '$k'"))
          refreshAll()
          ctx.note("user_bytes", userBytesPerRow)
          () => counted()
        })
      },
      () => {
        val rows = (1 to 5).map(_ => live(rnd.nextInt(live.size))).distinct
          .map(k => s"('$k', ${rnd.nextInt(50000) / 100.0})")
        Op("merge", () => {
          ctx.span("sources.commit")(spark.sql(s"MERGE INTO $table t USING (SELECT * FROM VALUES " +
            s"${rows.mkString(", ")} AS v(k, p)) s ON t.event_unique_id = s.k " +
            "WHEN MATCHED THEN UPDATE SET t.price = CAST(s.p AS DECIMAL(28,10))"))
          refreshAll()
          ctx.note("user_bytes", rows.size * userBytesPerRow)
          () => counted()
        })
      })
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(ops.indices.toList)
    order.map(i => ops(i)())
  }

  def round(): Seq[Op] = changes(ctx.rnd)

  /** Each mart must equal a full rebuild from its base table (both
    * directions of `exceptAll`). */
  override def finish(): Option[String] = setupError.orElse {
    val base = Snapshots.readLatest(spark, basePath)
    marts.flatMap { case (path, defn) =>
      val rows = defn.filter.fold(base)(base.filter(_))
      val aggs = count(lit(1)).as("row_count") +:
        (defn.sums.flatMap(m => Seq(sum(expr(m.expr)).as(s"sum_${m.name}"),
          count(expr(m.expr)).as(s"nn_${m.name}"))) ++
          defn.distincts.map(m => countDistinct(expr(m.expr)).as(s"cd_${m.name}")))
      val rebuilt = rows.groupBy(defn.dims.map(col): _*).agg(aggs.head, aggs.tail: _*).localCheckpoint()
      val mart = Snapshots.readLatest(spark, path).select(rebuilt.columns.toIndexedSeq.map(col): _*).localCheckpoint()
      if (mart.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(mart)).isEmpty) None
      else Some(s"mart $path differs from a full rebuild of its base")
    }.headOption
  }

  override def endMetrics(): Seq[(String, Double)] = {
    Seq("space_amp" -> (Workloads.dirBytes(basePath) + Workloads.dirBytes(martsDir)) / compactBytes())
  }

  override def opLayerMetrics(spans: Seq[Stats.Span], jobs: Seq[(Long, Long, String)]): Seq[(String, Double)] =
    Seq("sources.commit", "sources.refresh").flatMap { n =>
      val ss = spans.filter(_.name == n)
      val inside = jobs.filter(j => ss.exists(s => j._1 >= s.start && j._1 < s.end))
      val wall = ss.map(s => s.end - s.start).sum
      val jobNs = ss.map(s => Stats.unionLength(inside.map(j => (j._1, j._2)), s.start, s.end)).sum
      Seq(s"${n}_jobs" -> inside.size.toDouble, s"${n}_driver_s" -> (wall - jobNs) / 1e9)
    }
}

/** Analyst reads: one query per operation, drawn from five templates over
  * the served marts (`spark.read.parquet` of the `Pipeline` layout) and
  * over a `graft.` table with a snapshot history (latest and
  * `VERSION AS OF` reads with prunable date predicates). */
final class ServingReads(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  private val events = 20000
  private val slices = Seq(6, 12, 18, 24, 30)
  private val ranges = Seq((1, 3), (5, 11), (14, 15), (20, 28))
  private def inRange(p: Int) =
    s"event_date BETWEEN ${Inputs.sqlDate(ranges(p)._1)} AND ${Inputs.sqlDate(ranges(p)._2)}"
  private var pass = 0
  private def serve = s"${ctx.workDir}/serving$pass"
  private def table = s"graft.serve$pass.events"
  private var expected = Map.empty[(String, Int), String]
  private var setupError: Option[String] = None

  def inputs(): Unit = Inputs.events(spark, ctx.dataDir, ctx.seed, events)

  val rounds = 10

  private val templates: Seq[(String, Int => DataFrame)] = Seq(
    "topk_items" -> (p => spark.read.parquet(s"$serve/item_performance")
      .orderBy(col("total_revenue").desc, col("item_key")).limit(Seq(5, 10, 20, 50)(p))),
    "daily_range" -> (p => spark.read.parquet(s"$serve/daily_sales")
      .filter(inRange(p)).orderBy("event_date")),
    "category_range" -> (p => spark.read.parquet(s"$serve/category_performance")
        .filter(inRange(p))
        .groupBy("category_level_1").agg(sum("category_revenue").as("revenue"))
        .orderBy(col("revenue").desc, col("category_level_1")).limit(5)),
    "latest_range" -> (p => spark.sql(s"SELECT event_type, count(*) AS n, sum(price) AS revenue " +
      s"FROM $table WHERE ${inRange(p)} GROUP BY event_type ORDER BY event_type")),
    "asof_range" -> (p => spark.sql(s"SELECT event_type, count(*) AS n, sum(price) AS revenue " +
      s"FROM $table VERSION AS OF ${p + 2} WHERE ${inRange(p)} GROUP BY event_type ORDER BY event_type")))

  private def query(t: Int, p: Int): Seq[Row] = {
    val df = ctx.span("sources.plan") {
      val df = templates(t)._2(p); df.queryExecution.executedPlan; df
    }
    ctx.span("sources.exec")(df.collect().toSeq)
  }

  /** The serving layout, a table history of five versions, and the digest
    * of every query instance (which is also the warm-up); the first pass's
    * digests are the expected results. */
  def setup(p: Int): Unit = {
    pass = p
    Pipeline.runAll(spark, ctx.dataDir, serve)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.serve$pass")
    SilverEvents.build(ctx.span("sources.load")(Tables.events(spark, ctx.dataDir)))
      .selectExpr("event_date", "event_type", "user_id", "CAST(price AS DECIMAL(18,2)) AS price")
      .createOrReplaceTempView("serve_src")
    slices.zipWithIndex.foreach { case (last, i) =>
      val first = if (i == 0) 1 else slices(i - 1) + 1
      val rows = "SELECT /*+ COALESCE(1) */ * FROM serve_src " +
        s"WHERE event_date BETWEEN ${Inputs.sqlDate(first)} AND ${Inputs.sqlDate(last)}"
      spark.sql(if (i == 0) s"CREATE TABLE $table AS $rows" else s"INSERT INTO $table $rows")
    }
    val got = (for (t <- templates.indices; q <- 0 until 4)
      yield (templates(t)._1, q) -> Workloads.digest(query(t, q))).toMap
    if (pass == 1) expected = got
    else if (got != expected) setupError = Some(s"set-up pass $pass read other results than pass 1")
  }

  override def finish(): Option[String] = setupError

  /** Every template once, in a seeded order, each with a seeded parameter. */
  def round(): Seq[Op] =
    scala.util.Random.javaRandomToRandom(ctx.rnd).shuffle(templates.indices.toList).map { t =>
      val p = ctx.rnd.nextInt(4)
      Op(templates(t)._1, () => {
        val rows = query(t, p)
        ctx.note("rows_returned", rows.size.toDouble)
        () => {
          val want = expected((templates(t)._1, p))
          if (Workloads.digest(rows) == want) None
          else Some(s"${templates(t)._1}($p) read a result other than the set-up's")
        }
      })
    }
}

/** One pass of the LLM-curation operators: exact Jaccard and MinHash
  * near-duplicate pairs, IVF centroids plus top-k search, and the quality
  * filter flags. */
final class CurationBatch(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark
  private val docs = 1000
  private val vectors = 1000
  private var reference: Seq[(Int, String)] = Nil
  private var setupError: Option[String] = None

  def inputs(): Unit = {
    Inputs.documents(spark, ctx.dataDir, ctx.seed, docs)
    Inputs.embeddings(spark, ctx.dataDir, ctx.seed, vectors)
  }

  val rounds = 6

  /** Row counts of the four outputs, with content digests where the
    * output is exact (the IVF scores are float folds: count only). */
  private def pass(): Seq[(Int, String)] = {
    val jac = ctx.span("dedup.jaccard")(NearDup.jaccardPairs(
      ctx.span("sources.load")(Tables.documents(spark, ctx.dataDir))).collect().toSeq)
    val mh = ctx.span("dedup.minhash")(NearDup.minhashPairsQuery(spark, ctx.dataDir).collect().toSeq)
    val emb = ctx.span("sources.load")(Tables.embeddings(spark, ctx.dataDir))
    val cents = ctx.span("sim.centroids")(IvfAnn.centroids(emb).localCheckpoint())
    val topk = ctx.span("sim.ivf_topk")(IvfAnn.ivfTopK(emb, centsOpt = Some(cents)).collect().toSeq)
    val flags = ctx.span("text.filter_flags")(QualityFilters.filterFlagsQuery(spark, ctx.dataDir).collect().toSeq)
    ctx.note("dedup.pairs_out", (jac.size + mh.size).toDouble)
    Seq(jac.size -> Workloads.digest(jac), mh.size -> Workloads.digest(mh),
      topk.size -> "", flags.size -> Workloads.digest(flags))
  }

  /** One pass, which is also the warm-up; the first pass's outputs are the
    * reference every later pass must equal. */
  def setup(p: Int): Unit = {
    val got = pass()
    if (p == 1) reference = got
    else if (got != reference) setupError = Some(s"set-up pass $p gave $got, pass 1 $reference")
  }

  override def finish(): Option[String] = setupError

  def round(): Seq[Op] = Seq(Op("curation_pass", () => {
    val got = pass()
    () => if (got == reference) None else Some(s"outputs $got differ from the set-up pass's $reference")
  }))
}
