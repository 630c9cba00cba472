package graft

import java.nio.file.{Files, Paths}
import scala.sys.process.{Process, ProcessLogger}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's correctness gate at sf0.001: every query runs
  * through [[Verify.dump]] (the driver's own dump), the 32 oracle
  * queries are replayed in DuckDB by `tools/compare_oracle.py`, and
  * the 8 queries no SQL engine can express are pinned to
  * `src/test/resources/registry_fingerprints_sf0.001.tsv`.
  *
  * Freezing: on a fingerprint mismatch the observed file is written to
  * `target/registry_fingerprints_sf0.001.tsv`; review the change and
  * copy it over the committed one. q30's image `n_bytes` is the JDK
  * ImageIO PNG encoder's deflate output size, so a JDK change can move
  * q30's fingerprint without any decode regression.
  */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val fingerprintFile = "registry_fingerprints_sf0.001.tsv"
  private lazy val out = Files.createTempDirectory("graft-oracle").toString
  private lazy val failed = Verify.dump(spark, sf, out)

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    finally super.afterAll()

  /** `<query>\t<rows>\t<hash>`: the hash sums, mod 2^64, one term per
    * written row that mixes the row's position into the xxhash64 of
    * all its columns, so a reordered row changes it and duplicate rows
    * do not cancel. */
  private def fingerprint(name: String): String = {
    val df = spark.read.parquet(s"$out/$name")
    val rows = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*))
      .collect().map(_.getLong(0))
    val hash = rows.indices.map(i => XXH64.hashLong(i.toLong, rows(i))).sum
    f"$name\t${rows.length}\t$hash%016x"
  }

  test("all 40 registry queries run at sf0.001") {
    assert(SparkEntry.registry.size == 40)
    assert(failed.isEmpty, s"failed queries: ${failed.mkString(", ")}")
  }

  test("the 32 oracle queries match their DuckDB replay") {
    assert(SparkEntry.oracleSql.size == 32)
    failed // the dump, if no earlier test forced it
    val log = new StringBuilder
    val rc = Process(Seq("python3", "tools/compare_oracle.py", sf, out))
      .!(ProcessLogger(l => log.append(l).append('\n')))
    assert(rc == 0 && log.toString.contains("32 ok, 0 failed"), s"\n$log")
  }

  test("the 8 queries without an oracle match their committed fingerprints") {
    val names = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).sorted
    assert(names.size == 8)
    failed
    val observed = names.map(fingerprint)
    val in = getClass.getResourceAsStream(s"/$fingerprintFile")
    val committed =
      if (in == null) Nil
      else {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.getLines().filter(_.nonEmpty).toList finally src.close()
      }
    if (observed != committed) {
      val dump = Paths.get("target", fingerprintFile)
      Files.createDirectories(dump.getParent)
      Files.writeString(dump, observed.mkString("", "\n", "\n"))
      fail(s"registry fingerprints differ; observed file: ${dump.toAbsolutePath}\n" +
        s"observed:\n${observed.diff(committed).mkString("\n")}\n" +
        s"committed:\n${committed.diff(observed).mkString("\n")}")
    }
  }
}
