package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A lane that
  * throws is reported on stderr as it happens and again in a closing
  * summary line, and the run then exits non-zero. */
object Verify {
  /** Write each lane's result to `outDir/<name>`; returns the lanes that
    * threw, with their messages, in run order. */
  def writeLanes(spark: SparkSession, sfDir: String, outDir: String,
                 lanes: Seq[(String, Bench.Lane)]): Seq[(String, String)] =
    lanes.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }

  /** The closing line: how many lanes ran and which of them failed. */
  def summaryLine(nLanes: Int, failed: Seq[String]): String =
    if (failed.isEmpty) s"[verify] all $nLanes lanes written"
    else s"[verify] ${failed.size}/$nLanes lanes failed: ${failed.mkString(", ")}"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the graft optimizer rule runs in every harness session, so the
    // full oracle gate exercises it (see graft.plans.GraftExtensions)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.MaterializeHofDependencies
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ graft.plans.GraftStrategies
    new java.io.File(outDir).mkdirs()
    // pin the run's dir so dynamically built oracles (literal centroids,
    // sketch estimates) select THIS run's captures — see graft.OracleCapture
    OracleCapture.currentDir = Some(sfDir)
    // Local-iteration focus filter (same contract as Bench): the driver sets
    // nothing and gets every query; SPARK_GRAFT_ONLY=q75,q31 narrows the dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names.exists(n.startsWith) })
    val failed = writeLanes(spark, sfDir, outDir, selected.toSeq)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(summaryLine(selected.size, failed.map(_._1)))
    if (failed.nonEmpty) sys.exit(1)
  }
}
