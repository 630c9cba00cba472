package graft.pipeline

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Snapshot-committed table storage (north rule: "resumable from
  * Iceberg snapshot checkpoints with per-partition lineage rows and
  * extraction metrics committed atomically alongside output").
  *
  * The sandbox ships no Iceberg runtime jar (SURVEY.md §7.6), so this
  * is a thin trait with a Parquet implementation that emulates the
  * snapshot semantics the job relies on:
  *
  *  - every commit writes the `data`, `lineage` and `metrics` tables
  *    (names without a leading `_` or `.`, which Spark's file listing
  *    would skip as hidden) into a new
  *    `snapshot=<n>` directory, staged under `_tmp_<uuid>` and made
  *    visible by a SINGLE atomic directory rename (the Iceberg
  *    analogue of a snapshot commit — readers never observe partial
  *    output);
  *  - `_current` is a one-line pointer file updated via
  *    write-to-temp + ATOMIC_MOVE (the catalog pointer swap);
  *  - resume: work is committed per BUCKET (hash(conv_id) % buckets —
  *    the Iceberg bucket-partition analogue); a restarted job lists
  *    committed buckets in the current snapshot chain and reprocesses
  *    only the missing ones, producing byte-identical final output
  *    (extraction is deterministic per turn).
  *
  * In production the implementation is an Iceberg catalog
  * (`df.writeTo(tbl).append()` under a WAP branch); everything above
  * this trait is unchanged.
  */
trait TranscriptStore {
  def commit(data: DataFrame, lineage: DataFrame, metrics: DataFrame,
             doneBuckets: Seq[Int]): Long
  def currentSnapshot(): Option[Long]
  def committedBuckets(): Set[Int]
  def readData(spark: SparkSession): DataFrame
}

final class ParquetSnapshotStore(root: String) extends TranscriptStore {
  private val rootPath: Path = Paths.get(root)
  Files.createDirectories(rootPath)

  private def snapDir(id: Long): Path = rootPath.resolve(s"snapshot=$id")

  override def currentSnapshot(): Option[Long] = {
    val p = rootPath.resolve("_current")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  private def snapshotChain(): Seq[Long] =
    currentSnapshot().map(c => (0L to c)).getOrElse(Seq.empty[Long])
      .filter(id => Files.exists(snapDir(id)))

  override def committedBuckets(): Set[Int] =
    snapshotChain().flatMap { id =>
      val f = snapDir(id).resolve("_buckets")
      if (Files.exists(f))
        Files.readString(f).trim.split(",").filter(_.nonEmpty).map(_.toInt)
      else Array.empty[Int]
    }.toSet

  /** Single writer: `commit` holds an exclusive lock on `<root>/_lock`
    * from reading `_current` through the pointer swap. It throws before
    * it writes anything if another writer (in this JVM or another
    * process) holds the lock, or if a bucket is already committed. */
  override def commit(data: DataFrame, lineage: DataFrame, metrics: DataFrame,
                      doneBuckets: Seq[Int]): Long = {
    val channel = FileChannel.open(rootPath.resolve("_lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lock = try channel.tryLock() catch { case _: OverlappingFileLockException => null }
      if (lock == null) throw new IllegalStateException(s"another writer is committing to $root")
      val again = doneBuckets.toSet & committedBuckets()
      require(again.isEmpty, s"buckets ${again.toSeq.sorted.mkString(",")} are already committed")
      commitLocked(data, lineage, metrics, doneBuckets)
    } finally channel.close() // releases the lock
  }

  private def commitLocked(data: DataFrame, lineage: DataFrame, metrics: DataFrame,
                           doneBuckets: Seq[Int]): Long = {
    val next = currentSnapshot().map(_ + 1).getOrElse(0L)
    val staging = rootPath.resolve(s"_tmp_${java.util.UUID.randomUUID()}")
    // stage everything invisibly — the three writes are independent
    // jobs over disjoint output dirs, so they are submitted from a
    // small thread pool and overlap (the scheduler back-fills
    // executors from the next job's tasks while the current one
    // drains its tail). Against the sequential form, alternating, on
    // a 4-core VM: commit_resume turns_per_s median 583 vs 528
    // (higher in 7 of 10 seed pairs, 31-40), store.commit_ms 560 vs
    // 679 at seed 1 traced; re-measure with
    //   python3 perfbench/run.py --workload commit_resume --seed <n> --seconds 10 --trace 0
    // The atomic directory-rename publish below still happens only
    // after ALL three have completed — snapshot visibility is unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq(
      Future(data.write.mode(SaveMode.Overwrite)
        .parquet(staging.resolve("data").toString)),
      Future(lineage.write.mode(SaveMode.Overwrite)
        .parquet(staging.resolve("lineage").toString)),
      Future(metrics.write.mode(SaveMode.Overwrite)
        .parquet(staging.resolve("metrics").toString)))
    try Await.result(Future.sequence(writes), Duration.Inf)
    catch { case e: Throwable =>
      // Future.sequence fails as soon as one write fails; the others
      // may still be writing into staging, so let them finish before
      // deleting it — otherwise every failed attempt leaks a copy
      writes.foreach(w => Await.ready(w, Duration.Inf))
      ParquetSnapshotStore.deleteTree(staging)
      throw e
    }
    Files.writeString(staging.resolve("_buckets"), doneBuckets.mkString(","))
    // a crash between the publish and the pointer swap leaves an
    // orphaned snapshot=<next>; ids above _current are invisible to
    // snapshotChain, so it is safe to clear it before the move
    ParquetSnapshotStore.deleteTree(snapDir(next))
    // single atomic publish
    Files.move(staging, snapDir(next), StandardCopyOption.ATOMIC_MOVE)
    // catalog pointer swap (atomic)
    val tmpPtr = rootPath.resolve(s"_current_tmp_${java.util.UUID.randomUUID()}")
    Files.writeString(tmpPtr, next.toString)
    Files.move(tmpPtr, rootPath.resolve("_current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    next
  }

  override def readData(spark: SparkSession): DataFrame = {
    val dirs = snapshotChain().map(id => snapDir(id).resolve("data").toString)
    require(dirs.nonEmpty, s"no committed snapshot under $root")
    spark.read.parquet(dirs: _*)
  }
}

object ParquetSnapshotStore {
  /** Recursive delete; a missing `dir` is a no-op. */
  private[pipeline] def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}

/** Checkpointed, resumable extraction run (north rule). Buckets by
  * hash(conv_id) so a re-run after a crash reprocesses only
  * uncommitted buckets — idempotent because extraction is a pure
  * function of the turn.
  */
object CheckpointedExtract {
  val DefaultBuckets = 8

  /** The bucket of a row: hash(conv_id) mod `buckets`. Slices the
    * input for resume and keys the `lineage` rows. */
  private def bucketOf(buckets: Int): Column = pmod(xxhash64(col("conv_id")), lit(buckets))

  /** One row per bucket: a function of the rows alone, whatever the
    * partitioning of `extracted`. */
  def lineageOf(extracted: DataFrame, buckets: Int = DefaultBuckets): DataFrame =
    extracted.groupBy(bucketOf(buckets).as("bucket")).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("conv_id")).as("n_convs"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_errors"),
      expr("bit_xor(xxhash64(conv_id, turn_idx, text_content))").as("content_hash"))

  /** One row per platform. The ratio is summed in DECIMAL, then
    * divided: a double sum would depend on the row order. */
  def metricsOf(extracted: DataFrame): DataFrame =
    extracted.groupBy(col("platform")).agg(
      count(lit(1)).as("n_turns"),
      sum(col("metrics.nodes_scored").cast("long")).as("nodes_scored"),
      (sum(col("metrics.boilerplate_ratio").cast(DecimalType(38, 18))) / count(lit(1)))
        .cast("double").as("avg_boilerplate_ratio"),
      avg(when(col("metrics.fallback_stage") === 5, 1.0).otherwise(0.0))
        .as("body_fallback_rate"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_errors"))

  /** Run extraction over `turns`, committing per bucket group;
    * resumes past already-committed buckets. Returns snapshot ids
    * committed by THIS invocation.
    *
    * One-pass: the todo slice is extracted and persisted once, and
    * each commit group filters the persisted rows by bucket. */
  def run(spark: SparkSession, turns: DataFrame, store: TranscriptStore,
          buckets: Int = DefaultBuckets, bucketsPerCommit: Int = 4): Seq[Long] = {
    val done = store.committedBuckets()
    val todo = (0 until buckets).filterNot(done.contains)
    if (todo.isEmpty) return Seq.empty
    val bucketCol = bucketOf(buckets)
    val extracted = ExtractJob.run(spark, turns.filter(bucketCol.isin(todo.map(_.toLong): _*)))
      .withColumn("bucket", bucketCol).persist()
    try {
      extracted.count() // extract once, before and outside the first commit
      todo.grouped(bucketsPerCommit).map { group =>
        val data = extracted.filter(col("bucket").isin(group: _*)).drop("bucket")
        store.commit(data, lineageOf(data, buckets), metricsOf(data), group)
      }.toSeq
    } finally extracted.unpersist()
  }
}
