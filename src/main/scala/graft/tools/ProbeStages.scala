package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Stage-level breakdown of one query (guide §7.1 without the UI):
  * prints every stage's wall time, task count, task-time sum and the
  * first line of its call-site name — attributes where a multi-stage
  * plan's wall clock actually goes (serial stage chains, tiny-stage
  * scheduling overhead, stragglers). */
object ProbeStages {
  final case class St(id: Int, name: String, tasks: Int,
                      submitted: Long, completed: Long, taskMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val name = args.headOption.getOrElse("q41_ingest_dedup")
    val warm = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_PROBE_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskMs.computeIfAbsent(t.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(t.taskMetrics.executorRunTime)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.put(si.stageId, St(si.stageId, si.name.linesIterator.next(),
          si.numTasks, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L),
          Option(taskMs.get(si.stageId)).map(_.get).getOrElse(0L)))
      }
    })

    val fn = graft.SparkEntry.queries(name)
    for (_ <- 1 to warm) { // warm-up reps (JIT) not recorded
      BenchExtra.timeBuilt(fn(spark, sfDir))
      graft.queries.TempCaches.release(spark); spark.catalog.clearCache()
    }
    stages.clear(); taskMs.clear()
    val sec = BenchExtra.timeBuilt(fn(spark, sfDir))
    graft.queries.TempCaches.release(spark); spark.catalog.clearCache()
    import scala.jdk.CollectionConverters._
    val ss = stages.values.asScala.toSeq.sortBy(_.submitted)
    val base = ss.headOption.map(_.submitted).getOrElse(0L)
    println(f"STAGES $name total=$sec%.2f s, ${ss.size} stages")
    for (s <- ss)
      println(f"  stage=${s.id}%4d t+${(s.submitted - base) / 1000.0}%7.2f " +
        f"wall=${(s.completed - s.submitted) / 1000.0}%6.2f task_s=${s.taskMs / 1000.0}%7.2f " +
        f"n=${s.tasks}%4d  ${s.name.take(90)}")
    spark.stop()
  }
}
