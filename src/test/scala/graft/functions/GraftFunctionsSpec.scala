package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a second register keeps the registered functions instead of replacing them") {
    // a replacement stores a new ExpressionInfo (and logs a warning)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("cosine_sim", "dot_fd", "poly_hash").map(FunctionIdentifier(_))
    GraftFunctions.register(spark)
    val first = names.map(registry.lookupFunction(_).get)
    GraftFunctions.register(spark)
    val second = names.map(registry.lookupFunction(_).get)
    first.zip(second).zip(names).foreach { case ((a, b), n) =>
      assert(a eq b, s"$n was replaced")
    }
    assert(spark.sql("SELECT poly_hash('ab', 31L, 1000003L)").head().getLong(0) ==
      ('a' * 31L + 'b') % 1000003L)
  }
}
