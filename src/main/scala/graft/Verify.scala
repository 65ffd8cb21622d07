package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=ty8_retract_minmax → dump just those queries
    // (iteration aid; the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val failed = selected.flatMap { case (name, fn) =>
      val ok = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
      // Release per-query persist()/localCheckpoint blocks — a
      // 139-query session otherwise accumulates them (see Bench).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) None else Some(name)
    }
    println(s"[verify] n_failed=${failed.size} of ${selected.size}" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ",", "")))
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
  }
}
