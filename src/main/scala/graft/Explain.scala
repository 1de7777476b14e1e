package graft

/** Plan-inspection utility: dumps `explain("formatted")` for selected
  * queries so pushdown / broadcast / codegen / window-limit behavior
  * is auditable. Runs on 4 cores so dumps are reproducible across
  * hosts. Usage: runMain graft.Explain [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
