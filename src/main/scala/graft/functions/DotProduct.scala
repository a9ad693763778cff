package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The composable formulation — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * is correct but runs the lambda interpreter per element: Spark's
  * higher-order functions don't participate in whole-stage codegen, so a
  * 64-dim dot product costs ~128 boxed lambda invocations per row. This
  * expression generates a tight primitive loop instead (one `getDouble`
  * pair + fused multiply-add per dimension) and stays inside the
  * WholeStageCodegen span — on the brute-force kNN path that's the entire
  * inner loop of an O(Q·N) scan, where interpretation overhead multiplies.
  *
  * Accumulation order is the same strict left fold as the composable
  * version, so results are bit-identical to it (and to DuckDB's
  * `list_dot_product` on DOUBLE[]) — it can swap in under oracle-checked
  * queries without changing a single hash.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  // nullable even for non-null inputs: a null ELEMENT yields null
  override def nullable: Boolean =
    super.nullable || Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })

  override def prettyName: String = "graft_dot"

  // A null ELEMENT nulls the whole product — matching the composable
  // `aggregate(zip_with(a,b,_*_), 0d, _+_)` fold, which the optimizer
  // rule graft.plans.NativeDotRewrite substitutes this expression for.
  // The per-element null check is a predictable branch; throughput is
  // unchanged on null-free data.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  private def elementsNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // When the expression is non-nullable, nullSafeCodeGen replaces
      // ev.isNull with FalseLiteral and never declares it — referencing it
      // would fail janino compilation (and silently fall back to the
      // interpreted path). Only elementsNullable inputs can produce a null
      // here, and elementsNullable implies nullable, so the guarded branch
      // below references ev.isNull only when it exists; null-free schemas
      // also drop the per-element branch from the loop entirely.
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions. */
object GraftFunctions {
  val DotName = "graft_dot"
  val CosineName = "graft_cosine"
  val RollingHashName = "graft_rolling_hash"
  val NfcName = "graft_nfc"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainName = "graft_might_contain"
  val TopKName = "graft_topk"

  /** Every graft SQL function as (identifier, info, builder) — the ONE
    * table both [[register]] and [[graft.GraftExtensions]] bind, so the
    * two routes cannot drift apart. Each builder checks its argument
    * count first: a wrong-arity call fails analysis with an
    * `AnalysisException` naming the expected signature, never an index
    * error from inside the builder. */
  private[graft] val builders: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    def fn(name: String, cls: String, signature: String, arities: Int*)(
        build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls, name),
        (args: Seq[Expression]) => {
          if (!arities.contains(args.length))
            throw new AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> s"`$signature`",
                "expectedNum" -> arities.mkString(" or "),
                "actualNum" -> args.length.toString,
                "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
          build(args)
        })
    Seq(
      fn(DotName, classOf[DotProduct].getName, s"$DotName(a, b)", 2) { a =>
        DotProduct(a(0), a(1)) },
      fn(CosineName, classOf[CosineSim].getName, s"$CosineName(a, b)", 2) { a =>
        CosineSim(a(0), a(1)) },
      fn(RollingHashName, classOf[RollingHash].getName,
          s"$RollingHashName(s)", 1) { a => RollingHash(a(0)) },
      fn(NfcName, classOf[NfcNormalize].getName, s"$NfcName(s)", 1) { a =>
        NfcNormalize(a(0)) },
      // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
      // runtime-filter rule but does not register them as SQL functions;
      // surfacing them gives pipelines the explicit build-once/probe-later
      // bloom semi-join (cross-job pruning the optimizer rule can't do).
      // 1-arg: Spark's default sizing; 3-arg: (col, estItems, numBits)
      // for the per-file manifest blooms (SnapshotLog.buildBlooms)
      fn(BloomAggName, classOf[BloomFilterAggregate].getName,
          s"$BloomAggName(col[, estItems, numBits])", 1, 3) { a =>
        (if (a.length == 3) new BloomFilterAggregate(a(0), a(1), a(2))
         else new BloomFilterAggregate(a(0))).toAggregateExpression() },
      fn(BloomContainName, classOf[BloomFilterMightContain].getName,
          s"$BloomContainName(bloom, value)", 2) { a =>
        BloomFilterMightContain(a(0), a(1)) },
      fn(TopKName, classOf[TopKAgg].getName, s"$TopKName(key, id, k, asc)", 4) { a =>
        TopKAgg(a(0), a(1), a(2), a(3)).toAggregateExpression() })
  }

  /** Idempotent per-session registration via the function registry —
    * the expressions then resolve in both the Column DSL and plain SQL
    * text. (For cluster deploys, [[graft.GraftExtensions]] injects the
    * same [[builders]] through spark.sql.extensions.) Already-registered
    * names are SKIPPED, not replaced: the register call sits inside
    * operator builders (MinHash, SimHash, ANN, bloom stats) that run per
    * query, and a `createOrReplaceTempFunction` on every build both pays
    * the registry write and spams a replaced-function WARN per call. */
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    builders.foreach { case (id, _, build) =>
      if (fr.lookupFunctionBuilder(id).isEmpty)
        fr.createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
  }

  /** Codegen'd dot product (requires [[register]] on the session). */
  def dot(a: Column, b: Column): Column = call_function(DotName, a, b)

  /** Fused one-pass cosine similarity (requires [[register]]);
    * bit-identical to dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))). */
  def cosine(a: Column, b: Column): Column = call_function(CosineName, a, b)

  /** Codegen'd rolling-hash fingerprint (requires [[register]]). */
  def rollingHash(c: Column): Column = call_function(RollingHashName, c)

  /** Codegen'd Unicode NFC normalization (requires [[register]]). */
  def nfc(c: Column): Column = call_function(NfcName, c)

  /** Bounded top-k partial aggregate ([[TopKAgg]]; requires
    * [[register]]): per group, the k best (key, id) pairs under
    * `orderBy(asc ? key : desc(key), id)` as a best-first
    * `array<struct<key, id>>` — the O(k)-state replacement for a
    * `row_number() <= k` window. */
  def topk(key: Column, id: Column, k: Int, asc: Boolean): Column =
    call_function(TopKName, key, id,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(asc))
}
