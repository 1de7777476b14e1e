package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local dev loop)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Loud failure contract (r10 verdict #1: a per-query exception
    // swallowed to stderr at rc 0 let a raced sf1 run record "error"
    // indistinguishably from "flaky"): every failure is collected into
    // outDir/_VERIFY_ERRORS.json (query -> message, ALWAYS written, {}
    // when clean) so orchestrators can tell a failed dump from a
    // missing one, and SPARK_GRAFT_VERIFY_STRICT=1 additionally turns
    // any failure into a non-zero exit.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {OUT} → this run's absolute output dir: the sim/ANN gate oracles
    // read the Spark result parquet back into DuckDB and verify its
    // claims (exact scores, recall floors) against the base tables —
    // the dump is the only place the concrete path is known.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", outAbs))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_VERIFY_ERRORS.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (errors.nonEmpty && sys.env.get("SPARK_GRAFT_VERIFY_STRICT").contains("1"))
      sys.exit(2)
  }
}
