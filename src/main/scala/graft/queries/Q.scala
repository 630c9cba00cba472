package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle
  * query over the same parquet tables. Queries without an oracle get
  * the driver's weaker rows-only check.
  *
  * Oracle-parity rules (so the driver's column-sorted value hash
  * matches exactly):
  *  - identical column names on both sides (alias every computed col);
  *  - deterministic total row order on both sides (ORDER BY with a
  *    unique tiebreak);
  *  - monetary aggregates computed in DECIMAL then cast to DOUBLE
  *    (bitwise-identical across engines; double-sum order is not);
  *  - ratios built as int/int divisions in DOUBLE (exact both sides).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}

/** Registry of per-query cached intermediates (the near-dup/ANN
  * queries cache small shared tables — shingle sets, LSH buckets —
  * that feed multiple consumers of one plan). `Q` functions register
  * every such cache here; callers release them once the query's
  * result is materialized:
  *
  *   val df = SparkEntry.queries("q12_minhash_lsh")(spark, dir)
  *   df.write.parquet(out)
  *   TempCaches.release(spark)
  *
  * Without the release, each invocation leaks CacheManager entries
  * (storage pressure compounds across a sweep, and re-running a query
  * logs "Asked to cache already cached data" — round-3 VERDICT #7).
  * Release is precise (only the registered frames), so it never
  * clears caches a composing application owns; unpersist is safe even
  * if the frame was never materialized.
  */
object TempCaches {
  private val reg = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()
  private val pinReg = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.rdd.RDD[_]]]()

  /** Cache `df` and register it for the session's next release. */
  private[graft] def cached(df: DataFrame): DataFrame = {
    df.cache()
    reg.computeIfAbsent(df.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(df)
    df
  }

  /** Unpersist every intermediate registered since the last release
    * for this session. Non-blocking; idempotent. */
  def release(spark: SparkSession): Unit = {
    val q = reg.remove(spark)
    if (q != null) q.forEach(df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () })
    val p = pinReg.remove(spark)
    if (p != null) p.forEach(rdd =>
      try rdd.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Eagerly materialize a hot shared intermediate AND truncate its
    * lineage (`localCheckpoint` — guide §3.3 / §7.3): downstream
    * plans reference a LogicalRDD leaf instead of the full subtree.
    * For the deep self-join pipelines (q41's probe machinery) the
    * un-truncated logical tree made every AQE stage-boundary
    * RE-OPTIMIZATION walk the whole 6,000-node plan; pinning the 3-4
    * shared frames keeps AQE (the driver session has it on, and it
    * earns its keep on skewed shuffles) while making each
    * re-optimization cheap. Measured against a copy with `pinned` and
    * `cached` both the identity (4-core VM, sf0.001, 4 alternating
    * pairs of 4 repetitions, first dropped, medians): q41 2.54 s
    * pinned vs 24.9 s unpinned, q38 1.13 vs 2.78 s, q12 1.34 vs
    * 3.07 s; every pinned query ran slower unpinned (at sf0.1 for
    * q07/q37/q43/q45), with all 40 outputs row-identical. Reproduce
    * at each version with
    *   SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 SPARK_GRAFT_CPUS=4 \
    *     sbt -batch "runMain graft.tools.BenchExtra - 4 q41_ingest_dedup"
    * Results are identical — the same rows, materialized once (it
    * also removes the duplicate cache-build races the sidecar logged
    * as "Block already exists"). The persisted blocks are reclaimed
    * by the ContextCleaner when the plan is dropped — and, like the lazy
    * caches, is registered here so [[release]] frees the blocks
    * DETERMINISTICALLY at the end of each sweep query instead of
    * waiting for a GC cycle (40 pinned frames would otherwise
    * accumulate across the driver's one-session sweep). Releasing is
    * safe under the existing contract: release() runs only after the
    * query's result is materialized, and a truncated-lineage RDD is
    * never re-executed afterwards (re-running a query rebuilds its
    * frames from scratch). */
  private[graft] def pinned(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    try ck.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        pinReg.computeIfAbsent(ck.sparkSession,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[
            org.apache.spark.rdd.RDD[_]]()).add(lr.rdd)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
    ck
  }
}
