package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Targeted timing and profiling of named SparkEntry queries without
  * paying for a full Bench board (optimization guide §1). After the
  * board's base warmup ([[SparkEntry.warmStages]]), each query runs
  * `reps` times; every rep snapshots the staged frames, times the
  * query split into plan construction (DataFrame build, which for
  * lifecycle queries runs real jobs) and materialization, prints a
  * per-Spark-job table — job id, duration, stage/task counts and the
  * job description — and evicts the stages the query created, so each
  * rep is full work, not a cache hit.
  *
  * Usage: runMain graft.Profile sfDir reps query [query ...]
  */
object Profile {

  private final case class JobRow(id: Int, sec: Double, stages: Int,
                                  tasks: Int, desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: Profile sfDir reps query...")
    val spark = Harness.session()
    Harness.warmAll(spark, sfDir, SparkEntry.warmStages(sf1 = false))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRow]()
    val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case s: SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId, s.description); ()
        // the description is read at job start; a finished execution
        // has no more jobs, so drop it rather than grow per query
        case e: SparkListenerSQLExecutionEnd =>
          execSite.remove(e.executionId); ()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(execSite.get(id.toLong))))
          .getOrElse("")
        jobs.put(e.jobId, (System.nanoTime(), e.stageIds.size, desc))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        taskCounts.put(e.jobId, new java.util.concurrent.atomic.AtomicInteger(0))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // CHM.get of a missing stage unboxes null to 0 — skip unknown
        // stages instead of crediting their tasks to job 0
        if (stageToJob.containsKey(e.stageId)) {
          val c = taskCounts.get(stageToJob.get(e.stageId))
          if (c != null) { c.incrementAndGet(); () }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(e.jobId)
        if (st != null) {
          val (t0, nStages, desc) = st
          val n = Option(taskCounts.remove(e.jobId)).map(_.get()).getOrElse(0)
          done.add(JobRow(e.jobId, (System.nanoTime() - t0) / 1e9, nStages, n, desc))
        }
      }
    })

    for (name <- names; i <- 1 to reps) {
      val before = SparkEntry.stageNames(spark, sfDir)
      done.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tPlan = (System.nanoTime() - t0) / 1e9
      Harness.materialize(df)
      val tAll = (System.nanoTime() - t0) / 1e9
      // drain listener events before reporting (listenerBus is
      // private[spark]; a short sleep suffices for a profiling tool)
      Thread.sleep(300)
      println(f"\n===== $name rep$i: total $tAll%.2f s (plan-construction $tPlan%.2f s) =====")
      val rows = done.toArray(Array.empty[JobRow]).sortBy(_.id)
      println(f"jobs=${rows.length} job-sec-sum=${rows.map(_.sec).sum}%.2f")
      rows.foreach { r =>
        println(f"  job ${r.id}%4d ${r.sec}%7.3f s stages=${r.stages}%2d tasks=${r.tasks}%4d ${r.desc.take(90)}")
      }
      SparkEntry.evictStages(spark, sfDir, SparkEntry.stageNames(spark, sfDir) -- before)
    }
    spark.stop()
  }
}
