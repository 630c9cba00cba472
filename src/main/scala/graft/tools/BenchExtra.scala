package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-registry timer: per-query noop-sink timings plus
  * `.explain("formatted")` capture for every registry query. The
  * extraction paths are timed by `perfbench/`; this times the rest of
  * `graft.SparkEntry`. Session: master local[$CPUS],
  * shuffle.partitions=$CPUS, AQE on.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.tools.BenchExtra <planOutDir> [reps] [q...]"
  *
  * Writes <planOutDir>/<query>.txt (formatted plan) when planOutDir is
  * not "-", times `reps` repetitions per query (plan construction
  * inside the timed window) and prints one JSON line:
  * {"sf": dir, "cpus": n, "queries": {name: [sec,...]}, "min": {name: sec}}.
  * A failed repetition records -1.
  */
object BenchExtra {

  /** Seconds to build `build` and run it into the noop sink, which
    * executes the whole plan without writing output. */
  def timeBuilt(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    build.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val planDir = args.headOption.getOrElse("-")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.registry.map(_.name)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (planDir != "-")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))

    def release(): Unit = {
      graft.queries.TempCaches.release(spark)
      spark.catalog.clearCache()
    }

    val byName = graft.SparkEntry.queries
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    for (n <- names) {
      val fn = byName(n)
      // plan capture (pre-execution; shows join strategy + exchanges)
      if (planDir != "-") {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(planDir, s"$n.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[extra] plan capture $n FAILED: $e")
        } finally release()
      }
      spark.sparkContext.setJobDescription(s"extra:$n")
      results(n) = (1 to reps).map { _ =>
        val sec =
          try timeBuilt(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[extra] $n FAILED: $e")
            -1.0
          } finally release()
        System.err.println(s"[extra] $n rep=$sec")
        sec
      }
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val mins = results.map { case (k, v) =>
      "\"" + k + "\":" + v.filter(_ > 0).minOption.getOrElse(-1.0)
    }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","cpus":$cpus,"queries":$qs,"min":$mins}""")
    spark.stop()
  }
}
