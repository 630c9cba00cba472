package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** Fused cosine similarity over two float-vector columns.
  *
  * Why a custom Catalyst Expression (SURVEY-preference (b)): the
  * composable form — `aggregate(zip_with(a, b, (x,y) -> x*y), ...)` —
  * allocates a lambda-evaluated intermediate array PER PAIR inside the
  * O(n²) similarity join and runs interpreted (~170 µs/pair measured);
  * this expression is whole-stage-codegen'd to a tight primitive loop
  * (~0.2 µs/pair). The arithmetic is kept bit-identical to the
  * composed form (float → double widening, sequential left-to-right
  * summation, dot/(√na·√nb)) so the DuckDB oracle still matches
  * exactly.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xi = (double) $a.getFloat($i);
         |  double yi = (double) $b.getFloat($i);
         |  $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product of a float vector against a (typically literal)
  * double vector — the q15 LSH projection kernel. Same rationale and
  * same arithmetic contract as [[CosineSimilarity]]: float → double
  * widening, strict left-to-right summation, so the sign decision is
  * bit-identical to the oracle's list_reduce left fold. With 24 bands
  * × 4 bits = 96 projections per vector, the interpreted HOF form is
  * the dominant cost of the signature stage; this loop codegens.
  */
case class DotFloatDouble(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_fd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.getFloat($i)) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Portable polynomial string hash: left fold of
  * `acc = (acc*base + codePoint) % mod` over the string's code
  * points — the exact arithmetic of the DuckDB-mirrorable fpSql in
  * graft.queries.TextPipeline. The composed HOF form
  * (aggregate(transform(filter(split(s,"")...)))) is interpreted and
  * allocates a per-char array per row; at sf0.1 the q12/q13 hash
  * stages fold ~40M chars, making this the dominant cost. This
  * expression codegens to a tight loop (and iterates CODE POINTS, so
  * zh/BMP text hashes identically to DuckDB's string_split+unicode).
  */
case class PolyHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(str: Any, base: Any, mod: Any): Any = {
    val s = str.toString
    val b = base.asInstanceOf[Long]
    val m = mod.asInstanceOf[Long]
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * b + cp) % m
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, base, mod) => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $str.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * $base + $cp) % $mod;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object GraftFunctions {
  /** Idempotent per-session registration: registers only the functions
    * the session lacks. Call from query fns, use via
    * functions.call_function("cosine_sim", a, b). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def add(name: String, build: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    add("cosine_sim", exprs => CosineSimilarity(exprs.head, exprs(1)))
    add("dot_fd", exprs => DotFloatDouble(exprs.head, exprs(1)))
    add("poly_hash", exprs => PolyHash(exprs.head, exprs(1), exprs(2)))
  }
}
