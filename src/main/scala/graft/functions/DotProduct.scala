package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.SparkStrategy

/** Shared nullability contract for the fused float-array expressions
  * ([[DotProduct]], [[CosineSim]]): the result can be null not only when a
  * child array is null (what `BinaryExpression.nullable` covers) but also
  * when a scanned ELEMENT slot is null — possible only when either input's
  * `ArrayType.containsNull` is true. Declaring this matters for codegen
  * correctness: with non-nullable children (e.g. `slice(col)` against a
  * `lit(Array[Float])` codebook centroid in the PQ encode projection),
  * `nullSafeCodeGen`'s non-nullable branch never declares `ev.isNull`, so a
  * body that writes it emits a reference to an undeclared name and Janino
  * rejects the whole generated class (`"isNull_26" is not an rvalue`) —
  * silently dropping the projection to interpreted execution. The fix is
  * twofold: declare the real nullability here, and generate into fresh
  * locals returned via `ev.copy` (never write into a caller-provided
  * `ev.isNull`).
  */
private[functions] trait FloatArrayFusedNullability { self: BinaryExpression =>
  /** True iff either input's element type admits null slots. */
  protected final def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })
  override def nullable: Boolean = left.nullable || right.nullable || elemsNullable
}

/** Native Catalyst expression: IEEE left-to-right dot product of two
  * FLOAT-array columns, with whole-stage codegen.
  *
  * The declarative form `aggregate(zip_with(a, b, (x,y) => x*y), 0d, _+_)`
  * (see `graft.queries.SimOps.dot`) is a HigherOrderFunction chain — a
  * CodegenFallback that materializes the zipped array and boxes every
  * element. This expression is the reference-semantics fast path
  * (`nn.Dense` matvec, `trainer/flax_model.py:160,173`): one fused loop over
  * the unsafe array data, no allocation, inlined into the surrounding
  * codegen stage. Accumulation order is identical to the declarative form
  * (left-to-right), so results are bit-equal and DuckDB-oracle-safe.
  *
  * Semantics: null if either array is null OR any scanned element slot is
  * null (the parquet list type declares nullable elements even though our
  * embeddings never contain one, and reading a null slot as getFloat would
  * yield garbage — so element nulls propagate to a null result, exactly
  * like the composed `aggregate(zip_with(...))` form); elements are read as
  * floats and widened to double; arrays of unequal length use the common
  * prefix (our embeddings are fixed 64-dim; zip_with would null-propagate
  * instead — do not feed ragged arrays).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayFusedNullability {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    var anyNull = false
    while (i < n && !anyNull) {
      if (x.isNullAt(i) || y.isNullAt(i)) anyNull = true
      else {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
    }
    if (anyNull) null else acc
  }

  /** Standard-contract codegen: all state lives in FRESH locals declared in
    * this expression's own code block, and the result is surfaced by
    * returning `ev.copy(isNull = <fresh>, value = <fresh>)` — the caller's
    * `ev.isNull` is never written, so the code compiles identically whether
    * the planner considers the expression nullable or not and however Janino
    * splits the surrounding projection. When neither input can hold a null
    * element (`containsNull = false`, e.g. literal codebook centroids), the
    * per-element null scan is dropped entirely and the loop is a pure fused
    * multiply-add.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val a = leftGen.value
    val b = rightGen.value
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val resIsNull = ctx.freshName("dotIsNull")
    val resValue = ctx.freshName("dotValue")
    val elemCheck =
      if (elemsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $resIsNull = true; break; }"
      else ""
    val body =
      s"""
         |boolean $resIsNull = ${leftGen.isNull} || ${rightGen.isNull};
         |double $resValue = 0.0;
         |if (!$resIsNull) {
         |  int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemCheck
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!$resIsNull) { $resValue = $acc; }
         |}
       """.stripMargin
    ev.copy(
      code = leftGen.code + rightGen.code + code"$body",
      isNull = if (nullable) JavaCode.isNullVariable(resIsNull) else FalseLiteral,
      value = JavaCode.variable(resValue, DoubleType))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object Native {
  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { args =>
      require(args.length == 2, "graft_dot expects 2 arguments")
      DotProduct(args(0), args(1))
    },
    "graft_cosine" -> { args =>
      require(args.length == 2, "graft_cosine expects 2 arguments")
      CosineSim(args(0), args(1))
    },
    // Spark's own bloom-filter expressions, surfaced as callable functions:
    // neither `bloom_filter_agg` nor `might_contain` is in the public
    // FunctionRegistry — the pair is normally only wired up internally by
    // the InjectRuntimeFilter rule. Exposing them lets a query fold a key
    // set to a bounded sketch, broadcast it (a ~100 KB binary, the same
    // bounded-model-state class as k-means centroids), and prune map-side
    // (`dedup_incremental_bloom`). No custom sketch code: both sides are
    // the stock codegen'd Catalyst expressions.
    "graft_gram_hashes" -> { args =>
      require(args.length == 2, "graft_gram_hashes expects (str, n)")
      GramHashes(args(0), args(1))
    },
    "graft_grams" -> { args =>
      require(args.length == 2, "graft_grams expects (str, n)")
      Grams(args(0), args(1))
    },
    "graft_normalize" -> { args =>
      require(args.length == 2, "graft_normalize expects (str, form)")
      UnicodeNormalize(args(0), args(1))
    },
    "graft_matvec" -> { args =>
      require(args.length == 2, "graft_matvec expects (vec, W)")
      MatVec(args(0), args(1))
    },
    "graft_pq_encode" -> { args =>
      require(args.length == 2, "graft_pq_encode expects (vec, codebook)")
      PqEncode(args(0), args(1))
    },
    "graft_pq_lut" -> { args =>
      require(args.length == 2, "graft_pq_lut expects (vec, codebook)")
      PqLut(args(0), args(1))
    },
    "graft_dsum" -> { args =>
      require(args.length == 3, "graft_dsum expects (x, precision, scale)")
      DecSum(args(0), args(1), args(2))
    },
    "graft_might_contain" -> { args =>
      require(args.length == 2, "graft_might_contain expects 2 arguments")
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(args(0), args(1))
    },
    "graft_bloom_agg" -> { args =>
      require(args.length == 3,
        "graft_bloom_agg expects (child, estimatedItems, numBits)")
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(args(0), args(1), args(2))
    })

  /** Planner strategies for the whole-plan operators in `graft.plans`. */
  val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.GreedyPackStrategy, graft.plans.CusumStrategy)

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** The install rule: everything a session needs before a `graft` plan
    * can analyze and plan. `Q.run` and `Q.oracleFor` are its callers in
    * the engine; a query body never installs anything itself. Three
    * independent idempotent guards, so a second call, a session built with
    * [[GraftExtensions]] or a partly installed session all end the same:
    *
    *  - each temp function in [[fns]] is registered if the session's own
    *    registry lacks it (temp functions live per session, so a fresh
    *    `newSession()` starts with none);
    *  - each of [[strategies]] the session's planner does not already hold
    *    is appended to `experimental.extraStrategies`;
    *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` is
    *    raised from Spark's default of 128 to 4,194,304. DecSum runs on the
    *    ObjectHashAggregate path, which past 128 keys silently degrades to
    *    SORT-BASED execution, a full sort of the input for a hash-shaped
    *    query; one live BigDecimal per (group, function) is tiny. The raise
    *    is session-global (collect_list, percentile, ... too), so it only
    *    happens while the conf still sits at 128: a user- or
    *    deployment-set value always wins.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
    val missing = strategies.filterNot(spark.sessionState.planner.strategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
    if (spark.conf.get(FallbackKey) == "128") spark.conf.set(FallbackKey, "4194304")
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions`: the same
  * functions and strategies as [[Native.register]], injected into every
  * session built with the extension. The threshold raise stays with
  * `register`, which `Q` still calls on such sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Native.fns.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[Native.type].getName, name),
        builder))
    }
    Native.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}
