package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.TranscriptStore

/** One traced interval. Times are epoch microseconds; `parent` is 0 for
  * a root span. `kind` is "bench" for spans recorded around the
  * benchmark's calls into the program, or "job"/"stage"/"task" for
  * Spark work that started inside one. */
final case class Span(id: Long, name: String, kind: String, startUs: Long, endUs: Long,
                      parent: Long, run: String, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** Records spans around calls into the program. Only the client thread
  * opens spans, so nesting follows a single stack. A span's `attrs` are
  * evaluated when it closes, so the body can fill them in. */
trait Tracer {
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(f: => A): A
}

object NoTrace extends Tracer {
  def span[A](name: String, attrs: => Map[String, Double])(f: => A): A = f
}

/** Holds spans in memory; they are written out once, when the run ends. */
final class SpanRecorder(val run: String) extends Tracer {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private val done = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def span[A](name: String, attrs: => Map[String, Double])(f: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    val start = nowUs
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      done += Span(id, name, "bench", start, nowUs, parent, run, attrs)
    }
  }

  def spans: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq
}

/** Per-task numbers from Spark's task-end events. Times in ms, bytes. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, deserMs: Long, schedDelayMs: Long,
                         fetchWaitMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
                         spillB: Long, outputB: Long) {
  def durMs: Long = finishMs - launchMs
}

/** SparkListener attached only in traced runs. It keeps jobs, stages and
  * tasks, which [[SparkTrace.spans]] turns into spans that hang under
  * the benchmark span open when each job started. */
final class SparkTrace extends SparkListener {
  private val jobs = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, (String, Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = (i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val dur = i.finishTime - i.launchTime
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime, sched,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  /** Spark spans, each job parented to the innermost benchmark span
    * that contains its start. Ids continue after `firstId`. */
  def spans(bench: Seq[Span], run: String, firstId: Long): Seq[Span] = synchronized {
    var id = firstId
    val out = mutable.ArrayBuffer.empty[Span]
    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.toSeq.sortBy(_._1).foreach { case (j, (s, e)) =>
      val us = s * 1000
      val parent = bench.filter(b => b.startUs <= us && us <= b.endUs)
        .sortBy(_.durUs).headOption.map(_.id).getOrElse(0L)
      id += 1; jobSpan(j) = id
      out += Span(id, s"job $j", "job", us, e * 1000, parent, run)
    }
    val stageSpan = mutable.Map.empty[Int, Long]
    stages.toSeq.sortBy(_._1).foreach { case (st, (name, s, e)) =>
      id += 1; stageSpan(st) = id
      out += Span(id, s"stage $st: ${name.takeWhile(_ != ' ')}", "stage", s * 1000, e * 1000,
        stageJob.get(st).flatMap(jobSpan.get).getOrElse(0L), run)
    }
    tasks.foreach { t =>
      id += 1
      out += Span(id, "task", "task", t.launchMs * 1000, t.finishMs * 1000,
        stageSpan.getOrElse(t.stageId, 0L), run,
        Map("run_ms" -> t.runMs.toDouble, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs.toDouble))
    }
    out.toSeq
  }

  /** Tasks of the jobs that started inside `within` (epoch us interval). */
  def tasksDuring(startUs: Long, endUs: Long): Seq[TaskRec] = synchronized {
    val js = jobs.collect { case (j, (s, _)) if s * 1000 >= startUs && s * 1000 <= endUs => j }.toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(js.contains)).toSeq
  }
}

object SparkTrace {
  /** Runs `f` with `l` attached; returns once `l` has seen every event. */
  def during[A](spark: SparkSession, l: SparkTrace)(f: => A): A = {
    spark.sparkContext.addSparkListener(l)
    try f
    finally {
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** Sum of task busy time, and balance of the stage with the most work:
    * max / median task duration. */
  def busyS(ts: Seq[TaskRec]): Double = ts.map(_.runMs).sum / 1e3
  def skew(ts: Seq[TaskRec]): Double = {
    if (ts.isEmpty) 0.0
    else {
      val heavy = ts.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
      val d = heavy.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, Stats.quantile(d, 0.5))
    }
  }
}

/** Span time not covered by the given children (clipped to the span). */
object SelfTime {
  def apply(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.durUs - covered
  }
}

final class SimulatedCrash extends RuntimeException("simulated crash before publish")

/** Benchmark-side [[TranscriptStore]] decorator: spans around commits
  * and committed-bucket listings, and, when `crashOnCommit` is n > 0, a
  * throw instead of delegating the n-th commit (a crash before publish). */
final class ProbedStore(inner: TranscriptStore, crashOnCommit: Int, tracer: Tracer)
    extends TranscriptStore {
  private var attempts = 0

  override def commit(data: DataFrame, lineage: DataFrame, metrics: DataFrame,
                      doneBuckets: Seq[Int]): Long = {
    attempts += 1
    if (attempts == crashOnCommit) throw new SimulatedCrash
    tracer.span("store.commit")(inner.commit(data, lineage, metrics, doneBuckets))
  }
  override def currentSnapshot(): Option[Long] = inner.currentSnapshot()
  override def committedBuckets(): Set[Int] =
    tracer.span("store.committed_buckets")(inner.committedBuckets())
  override def readData(spark: SparkSession): DataFrame = inner.readData(spark)
}
