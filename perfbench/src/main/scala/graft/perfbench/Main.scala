package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Run settings from the command line. `work` is the benchmark's
  * working directory (staged inputs, stores, span files); `cores` is
  * the machine's processor count, the Spark workloads' `local[n]`. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int) {
  def runId: String = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
}

/** What a workload reports: checks attempted and failed, metric values
  * by name, and human-readable lines (input summary, extra numbers). */
final case class Outcome(tally: Tally, metrics: Map[String, Double], notes: Seq[String])

/** The benchmark's metric names and units. End-to-end metrics are
  * reported by every workload in untraced runs; per-layer metrics by
  * every workload in traced runs (0 where the workload does not reach
  * that layer). BENCHMARK.json lists the same names. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "turns_per_s" -> "1/s", "html_mb_per_s" -> "MB/s",
    "p50_ms" -> "ms", "p95_ms" -> "ms", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "extract.parse_ms" -> "ms", "extract.detect_ms" -> "ms",
    "extract.extract_doc_ms" -> "ms", "extract.extract_doc_ms_large" -> "ms",
    "extract.render_ms" -> "ms", "extract.elements_per_doc" -> "count",
    "extract.nodes_scored_per_doc" -> "count", "extract.heuristic_share" -> "ratio",
    "extract.quarantine_share" -> "ratio", "extract.text_yield" -> "ratio",
    "extract_job.task_busy_s" -> "s", "extract_job.cpu_s" -> "s", "extract_job.gc_s" -> "s",
    "extract_job.wait_s" -> "s", "extract_job.core_util" -> "ratio",
    "extract_job.shuffle_write_mb" -> "MB", "extract_job.spill_mb" -> "MB",
    "extract_job.task_skew" -> "ratio", "extract_job.engine_s" -> "s",
    "extract_job.shell_share" -> "ratio", "extract_job.scaling_eff" -> "ratio",
    "store.commit_ms" -> "ms", "store.commits" -> "count", "store.committed_buckets_ms" -> "ms",
    "store.bytes_per_input_byte" -> "ratio", "checkpoint.extract_stage_s" -> "s",
    "checkpoint.resume_s" -> "s", "checkpoint.bytes_written_mb" -> "MB",
    "checkpoint.write_amp" -> "ratio", "reassembly.readback_s" -> "s",
    "reassembly.busy_s" -> "s", "reassembly.shuffle_read_mb" -> "MB",
    "reassembly.task_skew" -> "ratio", "trace.overhead_share" -> "ratio")

  val NamePattern = "[A-Za-z0-9_.-]+"
}

object Main {
  val Workloads: Map[String, Config => Outcome] = Map(
    "batch_extract" -> BatchExtract.run,
    "doc_api" -> DocApi.run,
    "commit_resume" -> CommitResume.run)

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.keys.toSeq.sorted.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> [--work <dir>]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Config = {
    if (args.length % 2 != 0) usage("arguments come in --name value pairs")
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = get("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload $w")
    Config(w, get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(kv.getOrElse("work", "perfbench/work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.work)
    val out = Workloads(cfg.workload)(cfg)
    val names = if (cfg.trace) Metrics.PerLayer else Metrics.EndToEnd
    val withRss = out.metrics ++ (if (cfg.trace) Map.empty else Map("peak_rss_mb" -> peakRssMb()))
    var tally = out.tally
    out.notes.foreach(n => println(s"# $n"))
    val mapper = new ObjectMapper()
    val metrics = mapper.createObjectNode()
    names.foreach { case (name, unit) =>
      val v = withRss.getOrElse(name, 0.0)
      if (v.isNaN || v.isInfinite) tally += Tally(0, 1)
      val node = metrics.putObject(name)
      node.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      node.put("unit", unit)
      println(f"# metric $name%-30s $v%14.6f $unit")
    }
    println(f"# failed_share = ${tally.failed}/${tally.attempted} = " +
      f"${tally.failed.toDouble / math.max(1L, tally.attempted)}%.6f")
    val res = mapper.createObjectNode()
    res.put("correct", tally.failed == 0)
    res.put("attempted", math.max(1L, tally.attempted))
    res.put("failed", tally.failed)
    res.set[com.fasterxml.jackson.databind.JsonNode]("metrics", metrics)
    println(mapper.writeValueAsString(res))
    System.out.flush()
    sys.exit(if (tally.failed == 0) 0 else 1)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Spark sessions, timing and output helpers shared by the workloads. */
object Harness {
  private val started = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def session(cfg: Config, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Repeats `op` until `seconds` have passed and at least `minReps`
    * ran; returns each repetition's value. */
  def repeatFor[A](seconds: Double, minReps: Int)(op: => A): Seq[A] = {
    val out = Seq.newBuilder[A]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minReps || System.nanoTime() - t0 < seconds * 1e9) { out += op; n += 1 }
    out.result()
  }

  /** Alternates an untraced and a traced repetition until `seconds` have
    * passed and at least `minPairs` pairs ran, so both sides see the
    * same warm-up state and host phases. */
  def alternate[A](seconds: Double, minPairs: Int)(plain: => A)(traced: => A): (Seq[A], Seq[A]) = {
    val pairs = repeatFor(seconds, minPairs)((plain, traced))
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** Sets up `reps` times, discarding all but the last state, and
    * returns that state with the median set-up time. */
  def setUp[S](reps: Int)(make: => S)(discard: S => Unit): (S, Double) = {
    val (first, t0) = secondsOf(make)
    log(f"set-up 1 took $t0%.2fs")
    var state = first
    val times = t0 +: (2 to reps).map { i =>
      discard(state)
      val (s, t) = secondsOf(make)
      log(f"set-up $i took $t%.2fs")
      state = s
      t
    }
    (state, Stats.median(times))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  def treeBytes(p: Path): Long = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(Files.size).sum
  }

  /** Latency metrics and a note naming the highest supported percentile. */
  def latency(what: String, ms: Seq[Double]): (Map[String, Double], String) = {
    val s = ms.sorted
    val (p95, beyond) = Stats.percentile(s, 95)
    val top = Stats.highestSupported(s).map { case (p, v) => f"p$p%s=$v%.3f ms" }.getOrElse("none")
    (Map("p50_ms" -> Stats.quantile(s, 0.5), "p95_ms" -> p95),
      s"latency $what: n=${s.length} p95 has $beyond samples beyond; highest percentile with >=10 beyond: $top")
  }

  /** Writes spans as JSON lines, with each span's self time. */
  def writeSpans(cfg: Config, spans: Seq[Span]): String = {
    val dir = Files.createDirectories(cfg.work.resolve("trace"))
    val f = dir.resolve(s"${cfg.runId}.jsonl")
    val mapper = new ObjectMapper()
    val kids = spans.groupBy(_.parent)
    val w = Files.newBufferedWriter(f)
    try spans.sortBy(_.startUs).foreach { s =>
      val n = mapper.createObjectNode()
      n.put("id", s.id).put("name", s.name).put("kind", s.kind).put("run", s.run)
        .put("parent", s.parent).put("start_us", s.startUs).put("end_us", s.endUs)
        .put("self_us", SelfTime(s, kids.getOrElse(s.id, Nil)))
      s.attrs.foreach { case (k, v) => n.put(k, v) }
      w.write(mapper.writeValueAsString(n)); w.newLine()
    } finally w.close()
    s"spans: ${spans.length} written to ${Paths.get("").toAbsolutePath.relativize(f)}"
  }
}
