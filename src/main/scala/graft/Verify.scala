package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.tools.FreezeFixtures.esc
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** Writes every registry query over `sfDir` to `outDir/<query>` (one
    * parquet file each) and `outDir/oracle_sql.json`. A failing query
    * is reported and skipped; returns the names of those that failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally queries.TempCaches.release(spark) // per-query cache hygiene
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
