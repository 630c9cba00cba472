package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def turns = TranscriptGen.fromDocuments(
    spark.read.parquet(s"$sf/documents.parquet"))

  private def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text_content))")).head.getLong(0)

  /** Commits the extraction of buckets 0-3 (of 8) in one snapshot, as
    * a run that crashed after its first commit would; returns the
    * extracted rows. */
  private def commitFirstHalf(store: TranscriptStore): DataFrame = {
    val ext = ExtractJob.run(spark, turns.filter(
      pmod(xxhash64(col("conv_id")), lit(8)).isin(0L, 1L, 2L, 3L)))
    store.commit(ext, CheckpointedExtract.lineageOf(ext),
      CheckpointedExtract.metricsOf(ext), Seq(0, 1, 2, 3))
    ext
  }

  /** Runs `body` on a fresh store root and deletes the root after it. */
  private def withRoot[T](prefix: String)(body: String => T): T = {
    val root = Files.createTempDirectory(prefix)
    try body(root.toString) finally ParquetSnapshotStore.deleteTree(root)
  }

  test("commit/read round trip equals direct extraction") {
    withRoot("graft-store") { dir =>
      val store = new ParquetSnapshotStore(dir)
      val snaps = CheckpointedExtract.run(spark, turns, store, buckets = 8, bucketsPerCommit = 4)
      assert(snaps == Seq(0L, 1L))
      assert(store.committedBuckets() == (0 until 8).toSet)
      val direct = ExtractJob.run(spark, turns)
      assert(store.readData(spark).count() == direct.count())
      assert(fingerprint(store.readData(spark)) == fingerprint(direct))
    }
  }

  test("resume: interrupted run completes from last snapshot, identical output") {
    withRoot("graft-store-resume") { dir =>
      val store = new ParquetSnapshotStore(dir)
      // simulate a crash after the first commit: only buckets 0-3
      commitFirstHalf(store)
      assert(store.committedBuckets() == Set(0, 1, 2, 3))
      // resumed run processes ONLY the remaining buckets
      val snaps = CheckpointedExtract.run(spark, turns, store, buckets = 8, bucketsPerCommit = 4)
      assert(snaps == Seq(1L))
      assert(fingerprint(store.readData(spark)) == fingerprint(ExtractJob.run(spark, turns)))
      // idempotent: a third run commits nothing
      assert(CheckpointedExtract.run(spark, turns, store, buckets = 8).isEmpty)
    }
  }

  test("resume: an orphaned unpublished snapshot does not block the next commit") {
    withRoot("graft-store-orphan") { dir =>
      val store = new ParquetSnapshotStore(dir)
      commitFirstHalf(store)
      // a crash between the publish rename and the pointer swap leaves
      // snapshot=<current+1> on disk, unreferenced by _current
      val orphan = java.nio.file.Paths.get(dir,
        s"snapshot=${store.currentSnapshot().get + 1}", "data")
      Files.createDirectories(orphan)
      Files.writeString(orphan.resolve("junk"), "partial")
      assert(store.committedBuckets() == Set(0, 1, 2, 3))
      val snaps = CheckpointedExtract.run(spark, turns, store, buckets = 8, bucketsPerCommit = 4)
      assert(snaps == Seq(1L))
      assert(store.committedBuckets() == (0 until 8).toSet)
      assert(fingerprint(store.readData(spark)) == fingerprint(ExtractJob.run(spark, turns)))
    }
  }

  test("a failed commit removes its staging directory and publishes nothing") {
    withRoot("graft-store-failed") { dir =>
      val store = new ParquetSnapshotStore(dir)
      val ext = commitFirstHalf(store)
      val snapshot = store.currentSnapshot()
      val before = fingerprint(store.readData(spark))
      // the data write fails at run time, on one row, while the
      // lineage and metrics writes succeed
      val bad = ExtractJob.run(spark, turns).withColumn("title",
        when(col("conv_id") === "conv-000000" && col("turn_idx") === 0,
          raise_error(lit("injected write failure"))).otherwise(col("title")))
      intercept[Exception](store.commit(bad, CheckpointedExtract.lineageOf(ext),
        CheckpointedExtract.metricsOf(ext), Seq(4, 5, 6, 7)))
      assert(!new java.io.File(dir).list().exists(_.startsWith("_tmp_")))
      assert(store.currentSnapshot() == snapshot)
      assert(store.committedBuckets() == Set(0, 1, 2, 3))
      assert(fingerprint(store.readData(spark)) == before)
    }
  }

  test("each committed byte is written once") {
    withRoot("graft-store-written") { dir =>
      val sc = spark.sparkContext
      val written = new AtomicLong()
      val listener = new SparkListener {
        override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
          Option(end.taskMetrics).foreach(m => written.addAndGet(m.outputMetrics.bytesWritten))
      }
      ListenerBusDrain.drain(sc) // no earlier job's tasks reach the listener
      sc.addSparkListener(listener)
      try {
        assert(CheckpointedExtract.run(spark, turns, new ParquetSnapshotStore(dir),
          buckets = 8, bucketsPerCommit = 4) == Seq(0L, 1L))
        ListenerBusDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
      val files = Files.walk(Paths.get(dir))
      val stored = try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally files.close()
      assert(written.get > 0)
      // the store's own files are the only output: an intermediate copy
      // of the extracted rows (a staging directory) would about double it
      assert(written.get <= 1.1 * stored, s"${written.get} bytes written, $stored stored")
    }
  }

  test("a commit of already committed buckets is refused") {
    withRoot("graft-store-twice") { dir =>
      val store = new ParquetSnapshotStore(dir)
      val ext = commitFirstHalf(store)
      val snapshot = store.currentSnapshot()
      val (rows, before) = (store.readData(spark).count(), fingerprint(store.readData(spark)))
      for (again <- Seq(Seq(0, 1, 2, 3), Seq(3, 4)))
        intercept[IllegalArgumentException](store.commit(ext, CheckpointedExtract.lineageOf(ext),
          CheckpointedExtract.metricsOf(ext), again))
      assert(store.currentSnapshot() == snapshot)
      assert(store.committedBuckets() == Set(0, 1, 2, 3))
      assert(store.readData(spark).count() == rows)
      assert(fingerprint(store.readData(spark)) == before)
    }
  }

  test("a second writer cannot commit while a commit is in progress") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withRoot("graft-store-writers") { dir =>
      val bucket = pmod(xxhash64(col("conv_id")), lit(8))
      val first = ExtractJob.run(spark, turns.filter(bucket.isin(0L, 1L, 2L, 3L)))
      // writer A's data write blocks in its one task until released
      val blocked = first.coalesce(1).mapPartitions { it =>
        StoreSpecGate.entered.countDown()
        require(StoreSpecGate.release.await(120, TimeUnit.SECONDS), "never released")
        it
      }(Encoders.row(first.schema))
      val a = Future(new ParquetSnapshotStore(dir).commit(blocked,
        CheckpointedExtract.lineageOf(first), CheckpointedExtract.metricsOf(first), Seq(0, 1, 2, 3)))
      try {
        assert(StoreSpecGate.entered.await(120, TimeUnit.SECONDS))
        val second = ExtractJob.run(spark, turns.filter(bucket.isin(4L, 5L, 6L, 7L)))
        intercept[IllegalStateException](new ParquetSnapshotStore(dir).commit(second,
          CheckpointedExtract.lineageOf(second), CheckpointedExtract.metricsOf(second),
          Seq(4, 5, 6, 7)))
      } finally StoreSpecGate.release.countDown()
      assert(Await.result(a, 5.minutes) == 0L)
      val store = new ParquetSnapshotStore(dir)
      assert(store.currentSnapshot() == Some(0L))
      assert(store.committedBuckets() == Set(0, 1, 2, 3))
      assert(fingerprint(store.readData(spark)) == fingerprint(first))
      assert(!new java.io.File(dir).list().exists(_.startsWith("_tmp_")))
    }
  }

  test("empty input still commits every todo bucket (resume/empty-corpus)") {
    // a zero-row slice persists no rows; each commit group must still
    // commit its buckets, with empty data, lineage and metrics
    withRoot("graft-store-empty") { dir =>
      val store = new ParquetSnapshotStore(dir)
      val snaps = CheckpointedExtract.run(spark, turns.limit(0), store,
        buckets = 8, bucketsPerCommit = 4)
      assert(snaps == Seq(0L, 1L))
      assert(store.committedBuckets() == (0 until 8).toSet)
      // idempotent: a re-run with real input finds all buckets done
      assert(CheckpointedExtract.run(spark, turns, store, buckets = 8).isEmpty)
    }
  }

  test("lineage and metrics are committed alongside data") {
    withRoot("graft-store-lineage") { dir =>
      val store = new ParquetSnapshotStore(dir)
      CheckpointedExtract.run(spark, turns, store, buckets = 4, bucketsPerCommit = 4)
      val lineage = spark.read.parquet(s"$dir/snapshot=0/lineage")
      val metrics = spark.read.parquet(s"$dir/snapshot=0/metrics")
      assert(lineage.agg(sum("n_rows")).head.getLong(0) == turns.count())
      assert(metrics.select("platform").collect().map(_.getString(0)).toSet ==
        Set("article", "forum", "weixin"))
      assert(metrics.agg(sum("n_turns")).head.getLong(0) == turns.count())
      // a scan of the snapshot directory sees every table: Spark's file
      // listing skips names that start with `_` or `.`
      val scanned = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/snapshot=0").inputFiles
        .map(f => new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
      assert(scanned == Set("data", "lineage", "metrics"))
    }
  }

  test("lineage and metrics depend on the rows, not on the partitioning") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def commitAt(parts: Int, dir: String): Unit = {
      spark.conf.set(key, parts.toString)
      CheckpointedExtract.run(spark, turns.repartition(parts),
        new ParquetSnapshotStore(dir), buckets = 8, bucketsPerCommit = 4)
    }
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    try withRoot("graft-store-parts2") { a =>
      withRoot("graft-store-parts7") { b =>
        commitAt(2, a)
        commitAt(7, b)
        assert(fingerprint(new ParquetSnapshotStore(a).readData(spark)) ==
          fingerprint(new ParquetSnapshotStore(b).readData(spark)))
        for (snap <- Seq(0, 1); table <- Seq("lineage", "metrics"))
          assert(rows(s"$a/snapshot=$snap/$table") == rows(s"$b/snapshot=$snap/$table"),
            s"snapshot=$snap/$table")
      }
    } finally spark.conf.set(key, saved)
  }

  test("q33 leaves no store copy in the temp dir") {
    def q33Roots(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .filter(_.startsWith("graft-store-q33")).toSet
    val before = q33Roots()
    assert(MultimodalQueries.q33.fn(spark, sf).count() == turns.count())
    assert(q33Roots() -- before == Set.empty)
  }

  test("one-pass: input is extracted once, not once per commit group") {
    import spark.implicits._
    withRoot("graft-store-onepass") { dir =>
      val store = new ParquetSnapshotStore(dir)
      val parts = 4
      // wrap the input so every executed scan of it bumps a counter
      val counted = turns.as[Turn].repartition(parts)
        .mapPartitions { it => StoreSpecScanCount.n.incrementAndGet(); it }
        .toDF()
      StoreSpecScanCount.n.set(0)
      // 4 commit groups, all filtering the one persisted slice; an
      // extraction per group would read 4 × parts
      CheckpointedExtract.run(spark, counted, store, buckets = 8, bucketsPerCommit = 2)
      assert(StoreSpecScanCount.n.get == parts)
      assert(store.committedBuckets() == (0 until 8).toSet)
      assert(fingerprint(store.readData(spark)) ==
        fingerprint(ExtractJob.run(spark, turns)))
    }
  }

  test("no partial state visible without a commit") {
    withRoot("graft-store-empty") { dir =>
      val store = new ParquetSnapshotStore(dir)
      assert(store.currentSnapshot().isEmpty)
      assert(store.committedBuckets().isEmpty)
      intercept[IllegalArgumentException](store.readData(spark))
    }
  }

  test("incremental ingest composes with the committed store (q41 over readData)") {
    // the daily-pipeline shape (round-5 VERDICT #3): day 1 extracts
    // and COMMITS a corpus; day 2 admits a new batch against the
    // committed snapshot's content — re-crawled (already-committed)
    // turns must drop via the store-hash anti-join, fresh ones admit
    withRoot("graft-store-ingest") { dir =>
      val store = new ParquetSnapshotStore(dir)
      CheckpointedExtract.run(spark, turns, store, buckets = 4, bucketsPerCommit = 4)
      val committed = store.readData(spark).select(
        xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"),
        col("text_content").as("text"))
      // batch = a re-crawl of 20 committed turns (new doc_ids — the
      // crawler assigns fresh keys) + fresh synthetic docs
      val s = spark; import s.implicits._
      val recrawl = committed.orderBy(col("doc_id")).limit(20)
        .select((col("doc_id") + 7L).as("doc_id"), col("text"))
      val fresh = Seq(
        (1L, "entirely new corpus content alpha beta gamma delta"),
        (2L, "another genuinely fresh document with novel words"))
        .toDF("doc_id", "text")
      val admitted = graft.queries.TextPipeline
        .incrementalIngest(committed, recrawl.unionAll(fresh))
        .collect().map(_.getLong(0)).toSet
      graft.queries.TempCaches.release(spark)
      assert(admitted == Set(1L, 2L)) // every re-crawled row dropped
    }
  }
}

/** JVM-global scan counter for the one-pass test (local mode: executor
  * threads share this object). */
object StoreSpecScanCount {
  val n = new java.util.concurrent.atomic.AtomicLong()
}

/** Latches for the second-writer test: the data write of the first
  * commit enters, then waits for the test to release it. */
object StoreSpecGate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
