package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q38 — extraction → corpus-clean composite (round-4 VERDICT #6).
  *
  * No SQL oracle can cross the extraction boundary, so the pin is
  * OracleSpec's sf0.001 fingerprint (every column, in row order) plus
  * the determinism and containment properties here. The cleaning
  * stages themselves are oracle-verified through q36 (shared
  * corpusClean code path).
  */
class ExtractCleanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def run() = {
    val df = ExtractQueries.qExtractClean.fn(spark, sf).collect()
    graft.queries.TempCaches.release(spark)
    df
  }

  test("q38 is deterministic and its survivors are extraction outputs") {
    val a = run().map(_.toSeq).toVector
    val b = run().map(_.toSeq).toVector
    assert(a == b)
    // containment: every survivor's doc_id is the hash of a real
    // extracted (conv_id, turn_idx), and cleaning only ever REMOVES
    val turns = TranscriptGen.fromDocuments(
      graft.queries.Tables.documents(spark, sf))
    val extractedIds = ExtractJob.run(spark, turns)
      .select(xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val survivors = a.map(_.head.asInstanceOf[Long])
    assert(survivors.toSet.subsetOf(extractedIds))
    assert(survivors.length < extractedIds.size) // something was cleaned
    assert(survivors.length > extractedIds.size / 2) // but not everything
  }

  test("q38 containment holds at sf0.01 too (round-5 VERDICT #7)") {
    val d = "/root/testdata/sf0.01"
    val rows = {
      val df = ExtractQueries.qExtractClean.fn(spark, d).collect()
      graft.queries.TempCaches.release(spark)
      df
    }
    val turns = TranscriptGen.fromDocuments(
      graft.queries.Tables.documents(spark, d))
    val extractedIds = ExtractJob.run(spark, turns)
      .select(xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val survivors = rows.map(_.getAs[Long]("doc_id"))
    assert(survivors.toSet.subsetOf(extractedIds))
    assert(survivors.length < extractedIds.size)
    assert(survivors.length > extractedIds.size / 2)
  }
}
