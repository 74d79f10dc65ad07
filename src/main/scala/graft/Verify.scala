package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in query SQL or in an error message would
    * otherwise make a reader's `json.load` fail. Shared with
    * [[Bench]]'s `errors` map. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The query subset a full-suite main runs:
    * `SPARK_GRAFT_ONLY=q113_bfs_reach,q149_pq_codes` names it; unset = all
    * queries. Read the same way by [[Bench]]. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a throwing query must not silently vanish from coverage (round 7's
    // all-green correctness omitted exactly the two queries that errored):
    // failures are collected, written as an artifact, and fail the rc
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"),
      failed.sorted.map(jsonStr).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
