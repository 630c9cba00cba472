package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, percentile, sum}
import graft.extract.ExtractorSet
import graft.pipeline.{CheckpointedExtract, ExtractJob, ParquetSnapshotStore, Reassembly}

/** Input summaries printed with every result, so two runs can be shown
  * to have used identical inputs. */
object Summary {
  /** 64-bit fingerprint of a sequence of strings. */
  def fingerprint(xs: Iterator[String]): String = {
    var (a, b) = (1, 2)
    xs.foreach { s => a = MurmurHash3.mix(a, MurmurHash3.stringHash(s, 11)); b = MurmurHash3.mix(b, MurmurHash3.stringHash(s, 13)) }
    f"${MurmurHash3.finalizeHash(a, 0)}%08x${MurmurHash3.finalizeHash(b, 0)}%08x"
  }

  def batchFingerprint(in: BatchInput): String =
    fingerprint(in.turns.iterator.flatMap(t =>
      Seq(t.conv_id, t.turn_idx.toString, t.role, t.text, t.tool, t.ts.getTime.toString)))

  def docFingerprint(in: DocInput): String =
    fingerprint(in.requests.iterator.map(_.toString) ++
      (in.pages.iterator ++ in.warmup.iterator).flatMap(p => Seq(p.url, p.html)))

  private def quartiles(xs: Seq[Int]): String = {
    val s = xs.map(_.toDouble).sorted
    Seq(0.25, 0.5, 0.75).map(q => f"${Stats.quantile(s, q) / 1024}%.1f").mkString("[", ", ", "] KB")
  }

  private def mix(kinds: Seq[String]): String =
    kinds.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k:${v.length.toDouble / kinds.length}%.3f" }.mkString(",")

  def batch(seed: Long, in: BatchInput): String = {
    val pages = in.turns.indices.filter(in.kinds(_) != Gen.Plain).map(in.turns(_).text.length)
    val largest = in.turns.groupBy(_.conv_id).values.map(_.length).max
    f"input seed=$seed turns=${in.turns.length} html_mb=${in.turns.map(_.text.length.toLong).sum / 1e6}%.3f " +
      f"distinct_share=${in.turns.map(_.text).distinct.length.toDouble / in.turns.length}%.4f " +
      s"page_size_quartiles=${quartiles(pages)} " +
      f"largest_conv_share=${largest.toDouble / in.turns.length}%.4f " +
      s"convs=${in.turns.map(_.conv_id).distinct.length} mix=${mix(in.kinds.toSeq)} " +
      s"fingerprint=${batchFingerprint(in)}"
  }

  def doc(seed: Long, in: DocInput): String =
    f"input seed=$seed requests=${in.requests.length} pages=${in.pages.length} " +
      f"html_mb=${in.pages.map(_.html.length.toLong).sum / 1e6}%.3f " +
      f"distinct_share=${in.pages.length.toDouble / in.requests.length}%.4f " +
      s"page_size_quartiles=${quartiles(in.pages.map(_.html.length).toSeq)} " +
      s"max_depth=${in.pages.map(_.depth).max} mix=${mix(in.pages.map(_.kind).toSeq)} " +
      s"fingerprint=${docFingerprint(in)}"
}

/** `doc_api`: one client in a closed loop calling
  * `ExtractorSet.extract(html, url, renderFormats = true)`, no Spark. */
object DocApi {
  val Rounds = 60
  val SetupReps = 3

  /** A closed-loop run. `rounds` holds (requests, bytes, seconds) of
    * each complete round of the request stream. */
  final case class Loop(requests: Int, seconds: Double, bytes: Long, latMs: Seq[Double],
                        repeats: Int, rounds: Seq[(Int, Long, Double)], tally: Tally) {
    def mbPerS: Double = bytes / 1e6 / seconds
    /** Median over complete rounds, so a short stall moves it little. */
    def medianRoundRate(f: ((Int, Long, Double)) => Double): Double =
      Stats.median(rounds.map(r => f(r) / r._3))
  }

  /** Sends requests in order (wrapping around) until `seconds` pass.
    * Every repeat of a page must return its first result. */
  def closedLoop(in: DocInput, ex: ExtractorSet, seconds: Double, tracer: Tracer,
                 from: Int = 0): Loop = {
    // results are compared by hash, so the loop retains no output
    val first = Array.fill(in.pages.length)(Option.empty[Int])
    var mismatched = 0
    val lat = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[(Int, Long, Double)]
    var bytes = 0L
    var errors = 0
    var repeats = 0
    var i = from
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var (roundStart, roundI, roundBytes) = (t0, from, 0L)
    while (System.nanoTime() < end) {
      val k = in.requests(i % in.requests.length)
      val p = in.pages(k)
      val s = System.nanoTime()
      val r = Engine.call(ex, p.html, p.url, tracer)
      val e = System.nanoTime()
      lat += (e - s) / 1e6
      if (r.isLeft) errors += 1
      val h = r.##
      first(k) match {
        case None    => first(k) = Some(h)
        case Some(f) => repeats += 1; if (f != h) mismatched += 1
      }
      bytes += p.html.length
      i += 1
      if (in.roundEnds.contains(i % in.requests.length)) {
        rounds += ((i - roundI, bytes - roundBytes, (e - roundStart) / 1e9))
        roundStart = e; roundI = i; roundBytes = bytes
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    Loop(i - from, elapsed, bytes, lat.toSeq, repeats, rounds.toSeq, Tally(i - from, errors + mismatched))
  }

  def run(cfg: Config): Outcome = {
    val (fixtures, bad) = Gate.fixtures()
    val ((in, ex), setupS) = Harness.setUp(if (cfg.trace) 1 else SetupReps) {
      val in = Gen.docApi(cfg.seed, Rounds)
      val ex = new ExtractorSet
      in.warmup.foreach(p => ex.extract(p.html, p.url, renderFormats = true))
      (in, ex)
    }(_ => ())
    val notes = Seq(Summary.doc(cfg.seed, in), s"fixtures: ${fixtures.attempted} replayed, failed: ${bad.mkString(",")}")
    if (!cfg.trace) {
      val loop = closedLoop(in, ex, cfg.seconds, NoTrace)
      val (lat, latNote) = Harness.latency("per request", loop.latMs)
      Outcome(fixtures + loop.tally,
        lat ++ Map("setup_s" -> setupS, "turns_per_s" -> loop.medianRoundRate(_._1),
          "html_mb_per_s" -> loop.medianRoundRate(_._2 / 1e6)),
        notes ++ Seq(latNote, f"requests=${loop.requests} repeats=${loop.repeats} " +
          f"repeat_share=${loop.repeats.toDouble / loop.requests}%.3f rounds=${loop.rounds.length} " +
          f"whole_loop_turns_per_s=${loop.requests / loop.seconds}%.3f " +
          f"whole_loop_mb_per_s=${loop.mbPerS}%.4f",
          "round_s=" + loop.rounds.map(r => f"${r._3}%.3f").mkString(",")))
    } else {
      val rec = new SpanRecorder(cfg.runId)
      var pos = 0
      def window(tracer: Tracer) = {
        val l = closedLoop(in, ex, cfg.seconds / 4, tracer, pos)
        pos += l.requests
        l
      }
      val (plain, traced) = Harness.alternate(cfg.seconds, 2)(window(NoTrace))(window(rec))
      def mbPerS(ls: Seq[Loop]) = ls.map(_.bytes).sum / 1e6 / ls.map(_.seconds).sum
      Outcome((plain ++ traced).map(_.tally).reduce(_ + _),
        Engine.layerMetrics(rec) + ("trace.overhead_share" -> (mbPerS(plain) / mbPerS(traced) - 1)),
        notes :+ Harness.writeSpans(cfg, rec.spans))
    }
  }
}

/** Set-up shared by the two Spark workloads: a session at
  * `local[cores]` and the generated turn table staged as parquet. */
final case class Staged(spark: SparkSession, in: BatchInput, turns: DataFrame, path: Path) {
  def htmlMb: Double = in.turns.map(_.text.length.toLong).sum / 1e6
}

object Staged {
  def apply(cfg: Config, name: String, n: Int): Staged = {
    val spark = Harness.session(cfg, cfg.cores)
    val in = Gen.batch(cfg.seed, n)
    val path = cfg.work.resolve(name).resolve("turns")
    spark.createDataFrame(in.turns.toSeq).write.mode("overwrite").parquet(path.toString)
    Staged(spark, in, spark.read.parquet(path.toString), path)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One job over a quarter of the turns: compiles the plan's code and
    * warms the engine before the gate's full run. */
  def warmUp(st: Staged): Unit = noop(ExtractJob.run(st.spark, st.turns.where("turn_idx % 4 = 0")))
}

/** `batch_extract`: `ExtractJob.run(spark, turns)` with default
  * arguments into the `noop` sink. */
object BatchExtract {
  val Turns = 4000
  val SetupReps = 3

  def run(cfg: Config): Outcome = {
    val (fixtures, bad) = Gate.fixtures()
    var (st, setupS) = Harness.setUp(if (cfg.trace) 1 else SetupReps) {
      val st = Staged(cfg, "batch", Turns)
      Staged.warmUp(st)
      st
    }(s => Harness.stop(s.spark))
    try {
      Harness.log(f"set up (median $setupS%.2fs)")
      val rec = if (cfg.trace) new SpanRecorder(cfg.runId) else null
      val (ref, refTally) = Gate.reference(st.in, Option(rec).getOrElse(NoTrace), cfg.cores)
      Harness.log("engine oracle pass done")
      val refHash = Gate.referenceHashes(st.spark, ref)
      val check = Gate.compare(ExtractJob.run(st.spark, st.turns), refHash)
      val notes = Seq(Summary.batch(cfg.seed, st.in),
        s"fixtures: ${fixtures.attempted} replayed, failed: ${bad.mkString(",")}",
        f"oracle: unexpected quarantines=${refTally.failed} lost=${check.lost} " +
          f"duplicated=${check.duplicated} mismatched=${check.mismatched} " +
          f"fingerprint=${check.fingerprint}%016x")
      val tally = fixtures + refTally + check.tally
      Harness.log("gate done")
      def rep(): Double = Harness.secondsOf(Staged.noop(ExtractJob.run(st.spark, st.turns)))._2
      if (!cfg.trace) {
        // Each repetition observes the median and p95 of its own turns'
        // engine time; the reported latencies are medians over the
        // repetitions, so one slow job moves them as little as it moves
        // the throughput.
        def observed(): (Double, Double, Double) = {
          val obs = Observation()
          val secs = Harness.secondsOf(Staged.noop(ExtractJob.run(st.spark, st.turns)
            .observe(obs, percentile(col("metrics.parse_ns"), lit(Array(0.5, 0.95))).as("p"))))._2
          val p = obs.get("p").asInstanceOf[Seq[Double]]
          (secs, p(0) / 1e6, p(1) / 1e6)
        }
        // untimed: compiles this plan's code, which the first timed
        // repetition otherwise pays for (it ran ~20% slower)
        observed()
        val reps = Harness.repeatFor(cfg.seconds, 3)(observed())
        val med = Stats.median(reps.map(_._1))
        val (_, latNote) = Harness.latency("per turn (metrics.parse_ns of the gate run)", check.parseMs)
        Outcome(tally + Tally(reps.length, 0),
          Map("setup_s" -> setupS, "turns_per_s" -> Turns / med, "html_mb_per_s" -> st.htmlMb / med,
            "p50_ms" -> Stats.median(reps.map(_._2)), "p95_ms" -> Stats.median(reps.map(_._3))),
          notes ++ Seq(latNote, s"reps=${reps.length} seconds=${reps.map(r => f"${r._1}%.3f").mkString(",")} " +
            s"p95_ms=${reps.map(r => f"${r._3}%.3f").mkString(",")}"))
      } else {
        val l = new SparkTrace
        val (plainReps, traced) = Harness.alternate(cfg.seconds, 2)(rep())(
          SparkTrace.during(st.spark, l)(rec.span("extract_job.run")(rep())))
        val plain = Stats.median(plainReps)
        val engineNs = SparkTrace.during(st.spark, l)(rec.span("extract_job.engine_pass") {
          ExtractJob.run(st.spark, st.turns).agg(sum("metrics.parse_ns")).first().getLong(0)
        })
        def tasks(s: Span) = l.tasksDuring(s.startUs, s.endUs)
        def med(f: (Span, Seq[TaskRec]) => Double) =
          Stats.median(rec.named("extract_job.run").map(s => f(s, tasks(s))))
        val busyS = med((_, ts) => SparkTrace.busyS(ts))
        val engineBusy = SparkTrace.busyS(tasks(rec.named("extract_job.engine_pass").head))
        val spans = rec.spans ++ l.spans(rec.spans, cfg.runId, rec.spans.map(_.id).max)
        // single-core baseline for the scaling efficiency
        Harness.stop(st.spark)
        val one = Harness.session(cfg, 1)
        st = st.copy(spark = one, turns = one.read.parquet(st.path.toString))
        val single = Harness.repeatFor(0, 3)(rep()).drop(1)
        val layer = Engine.layerMetrics(rec) ++ Map(
          "extract_job.task_busy_s" -> busyS,
          "extract_job.cpu_s" -> med((_, ts) => ts.map(_.cpuNs).sum / 1e9),
          "extract_job.gc_s" -> med((_, ts) => ts.map(_.gcMs).sum / 1e3),
          "extract_job.wait_s" -> med((_, ts) =>
            ts.map(t => t.schedDelayMs + t.deserMs + t.fetchWaitMs).sum / 1e3),
          "extract_job.core_util" -> med((s, ts) => SparkTrace.busyS(ts) / (s.durUs / 1e6 * cfg.cores)),
          "extract_job.shuffle_write_mb" -> med((_, ts) => ts.map(_.shuffleWriteB).sum / 1e6),
          "extract_job.spill_mb" -> med((_, ts) => ts.map(_.spillB).sum / 1e6),
          "extract_job.task_skew" -> med((_, ts) => SparkTrace.skew(ts)),
          "extract_job.engine_s" -> engineNs / 1e9,
          "extract_job.shell_share" -> (1 - engineNs / 1e9 / engineBusy),
          "extract_job.scaling_eff" -> Stats.median(single) / (cfg.cores * plain),
          "trace.overhead_share" -> (Stats.median(traced) / plain - 1))
        Outcome(tally, layer, notes :+ Harness.writeSpans(cfg, spans))
      }
    } finally Harness.stop(st.spark)
  }
}

/** `commit_resume`: `CheckpointedExtract.run` into a fresh
  * `ParquetSnapshotStore`, crashing before the 2nd commit, then a
  * resume to completion, then `Reassembly.conversations` over
  * `store.readData` into the `noop` sink. */
object CommitResume {
  val Turns = 1500
  val SetupReps = 3

  final case class Cycle(crashS: Double, resumeS: Double, readbackS: Double, ok: Boolean,
                         store: Path) {
    def commitS: Double = crashS + resumeS
  }

  def cycle(st: Staged, dir: Path, tracer: Tracer): Cycle = {
    Harness.deleteTree(dir)
    val store = new ParquetSnapshotStore(dir.toString)
    val (crashed, crashS) = Harness.secondsOf(tracer.span("checkpoint.run") {
      try { CheckpointedExtract.run(st.spark, st.turns, new ProbedStore(store, 2, tracer)); false }
      catch { case _: SimulatedCrash => true }
    })
    val (resumed, resumeS) = Harness.secondsOf(tracer.span("checkpoint.run") {
      CheckpointedExtract.run(st.spark, st.turns, new ProbedStore(store, 0, tracer))
    })
    val (_, readbackS) = Harness.secondsOf(tracer.span("reassembly.readback") {
      Staged.noop(Reassembly.conversations(store.readData(st.spark)))
    })
    Cycle(crashS, resumeS, readbackS,
      crashed && resumed.length == 1 && store.currentSnapshot().contains(1L), dir)
  }

  def run(cfg: Config): Outcome = {
    val (fixtures, bad) = Gate.fixtures()
    val dir = cfg.work.resolve("commit")
    val (st, setupS) = Harness.setUp(if (cfg.trace) 1 else SetupReps) {
      val st = Staged(cfg, "commit", Turns)
      Staged.warmUp(st) // the gate cycle warms the write paths
      st
    }(s => Harness.stop(s.spark))
    try {
      Harness.log(f"set up (median $setupS%.2fs)")
      val rec = if (cfg.trace) new SpanRecorder(cfg.runId) else null
      val (ref, refTally) = Gate.reference(st.in, Option(rec).getOrElse(NoTrace), cfg.cores)
      Harness.log("engine oracle pass done")
      val refHash = Gate.referenceHashes(st.spark, ref)
      val convs = st.in.turns.map(_.conv_id).distinct.length
      val storeDir = dir.resolve("store")
      var tally = fixtures + refTally
      val parseMs = ArrayBuffer.empty[Double]
      // checks a finished cycle's store against the oracle, outside its timings
      def verify(c: Cycle, reassembly: Boolean): Gate.Check = {
        val store = new ParquetSnapshotStore(c.store.toString)
        val check = Gate.compare(store.readData(st.spark), refHash)
        tally += check.tally + Tally(1, if (c.ok) 0 else 1)
        if (reassembly) {
          val row = Reassembly.conversations(store.readData(st.spark))
            .agg(count(lit(1)), sum("n_turns")).first()
          tally += Tally(1, if (row.getLong(0) == convs && row.getLong(1) == Turns) 0 else 1)
        }
        check
      }
      val gate = verify(cycle(st, storeDir, NoTrace), reassembly = true)
      Harness.log("gate done")
      val notes = Seq(Summary.batch(cfg.seed, st.in),
        s"fixtures: ${fixtures.attempted} replayed, failed: ${bad.mkString(",")}",
        f"oracle: unexpected quarantines=${refTally.failed} lost=${gate.lost} " +
          f"duplicated=${gate.duplicated} mismatched=${gate.mismatched} " +
          f"fingerprint=${gate.fingerprint}%016x")
      def timed(tracer: Tracer): Cycle = {
        var storeBytes = 0.0
        val c = tracer.span("commit_resume.cycle", Map("store_bytes" -> storeBytes)) {
          val c = cycle(st, storeDir, tracer)
          storeBytes = Harness.treeBytes(c.store).toDouble
          c
        }
        parseMs ++= verify(c, reassembly = false).parseMs
        c
      }
      def med(xs: Seq[Double]) = Stats.median(xs)
      if (!cfg.trace) {
        val cycles = Harness.repeatFor(cfg.seconds, 3)(timed(NoTrace))
        val commit = med(cycles.map(_.commitS))
        val (lat, latNote) = Harness.latency("per turn (metrics.parse_ns)", parseMs.toSeq)
        Outcome(tally, lat ++ Map("setup_s" -> setupS, "turns_per_s" -> Turns / commit,
          "html_mb_per_s" -> st.htmlMb / commit),
          notes ++ Seq(latNote, f"cycles=${cycles.length} crashed_run_s=${med(cycles.map(_.crashS))}%.4f " +
            f"resume_s=${med(cycles.map(_.resumeS))}%.4f readback_s=${med(cycles.map(_.readbackS))}%.4f"))
      } else {
        val l = new SparkTrace
        val (plain, traced) = Harness.alternate(cfg.seconds, 2)(timed(NoTrace))(
          SparkTrace.during(st.spark, l)(timed(rec)))
        val kids = rec.spans.groupBy(_.parent)
        def children(s: Span, name: String) = kids.getOrElse(s.id, Nil).filter(_.name == name)
        def tasks(s: Span) = l.tasksDuring(s.startUs, s.endUs)
        def meanMs(name: String) = rec.named(name).map(_.durUs / 1e3).sum / rec.named(name).length
        val cycles = rec.named("commit_resume.cycle")
        def perCycle(f: Span => Double) = med(cycles.map(f))
        def runs(c: Span) = children(c, "checkpoint.run")
        def written(c: Span) = runs(c).flatMap(tasks).map(_.outputB).sum.toDouble
        def readback(c: Span) = tasks(children(c, "reassembly.readback").head)
        val total = (c: Cycle) => c.commitS + c.readbackS
        val layer = Engine.layerMetrics(rec) ++ Map(
          "store.commit_ms" -> meanMs("store.commit"),
          "store.commits" -> perCycle(c => runs(c).flatMap(children(_, "store.commit")).length),
          "store.committed_buckets_ms" -> meanMs("store.committed_buckets"),
          "store.bytes_per_input_byte" -> perCycle(_.attrs("store_bytes")) / (st.htmlMb * 1e6),
          "checkpoint.extract_stage_s" ->
            perCycle(c => runs(c).map(r => SelfTime(r, children(r, "store.commit"))).sum / 1e6),
          "checkpoint.resume_s" -> med(plain.map(_.resumeS)),
          "checkpoint.bytes_written_mb" -> perCycle(written) / 1e6,
          "checkpoint.write_amp" -> perCycle(c => written(c) / c.attrs("store_bytes")),
          "reassembly.readback_s" -> med(plain.map(_.readbackS)),
          "reassembly.busy_s" -> perCycle(c => SparkTrace.busyS(readback(c))),
          "reassembly.shuffle_read_mb" -> perCycle(c => readback(c).map(_.shuffleReadB).sum / 1e6),
          "reassembly.task_skew" -> perCycle(c => SparkTrace.skew(readback(c))),
          "trace.overhead_share" -> (med(traced.map(total)) / med(plain.map(total)) - 1))
        val spans = rec.spans ++ l.spans(rec.spans, cfg.runId, rec.spans.map(_.id).max)
        Outcome(tally, layer, notes :+ Harness.writeSpans(cfg, spans))
      }
    } finally Harness.stop(st.spark)
  }
}
