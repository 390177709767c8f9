package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two
  * `array<float>` columns in a single fused pass (dot + both norms),
  * with whole-stage codegen via [[doGenCode]].
  *
  * Numerically identical to the composed HOF form
  * (graft.functions.VectorFunctions.cosine) and to the DuckDB oracle:
  * every accumulator folds left-to-right over ascending indices in
  * double precision, so results are bit-equal — only ~40× faster,
  * because the interpreted lambda dispatch per element is replaced by
  * a tight generated loop inside the surrounding codegen stage.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

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
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
}

/** Native dot product of an `array<float>` column with an
  * `array<double>` (typically a literal hyperplane) — codegen'd tight
  * loop, same left-to-right double accumulation as the HOF form.
  */
case class DotProductF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

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
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $x.getFloat($i) * $y.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
}

/** Max cosine of an `array<float>` vector column against a BROADCAST
  * eval-vector set, as a (cos, id) struct — the per-row kernel of the
  * STREAMING semantic-decontamination gate
  * (graft.streaming.DocStreams.semanticAdmission). Bit-replicates the
  * batch [[graft.operators.Similarity.decontaminateSemantic]] fold:
  * each cosine is the [[CosineSimilarity]] fused pass, rounded to 6
  * decimals BEFORE the max (so 6dp ties break on the LOWER eval id,
  * exactly like the batch `max(struct(cos, -id))`).
  *
  * Same plan-size discipline as [[NbScoreBroadcast]]: a benchmark
  * eval set is 10³–10⁶ vectors — as expression literals it would ride
  * every task binary; as a torrent broadcast executors fetch it once,
  * and the generated code resolves `.value()` once per task.
  */
case class MaxCosineBroadcast(
    evals: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("cos", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))
  override def prettyName: String = "graft_max_cosine"
  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorGate.maxCos(
      v.asInstanceOf[ArrayData], evals.value._1, evals.value._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val tupCls = "scala.Tuple2"
    val bRef = ctx.addReferenceObj("graftEvalBcast", evals, bcastCls)
    // resolve the broadcast ONCE per generated-class instance (per task)
    val idsTerm = ctx.addMutableState("long[]", "graftEvalIds",
      v => s"$v = (long[]) (($tupCls) $bRef.value())._1();")
    val vecsTerm = ctx.addMutableState("float[][]", "graftEvalVecs",
      v => s"$v = (float[][]) (($tupCls) $bRef.value())._2();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorGate.maxCos($c, $idsTerm, $vecsTerm);")
  }
}

/** Nearest centroid of an `array<float>` vector against a BROADCAST
  * centroid codebook, as a (cos, id) struct — the zero-shuffle IVF
  * cell assignment. The corpus side of every IVF search and index
  * build (graft.operators.Similarity.knn / buildAnnIndex /
  * appendToAnnIndex) is a probes=1 assignment, i.e. an argmax —
  * this kernel computes it in ONE map pass per row, replacing the
  * broadcast-cross-join (corpus × centroids row multiplication with
  * vector payloads) + per-id `row_number` window (a full hash
  * exchange of the multiplied rows) that form is built from. The
  * window form survives as this kernel's spec-pinned parity
  * reference (SimilaritySpec).
  *
  * Unlike [[MaxCosineBroadcast]] there is NO 6dp rounding: the window
  * form ranks on the raw `graft_cosine` double, so the kernel
  * compares unrounded values with `Double.compare` (Spark/DuckDB sort
  * order — NaN greatest, ties → lower centroid id).
  */
case class ArgMaxCosineBroadcast(
    cents: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("cos", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))
  override def prettyName: String = "graft_argmax_cosine"
  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorGate.argMaxCos(
      v.asInstanceOf[ArrayData], cents.value._1, cents.value._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val tupCls = "scala.Tuple2"
    val bRef = ctx.addReferenceObj("graftCentBcast", cents, bcastCls)
    val idsTerm = ctx.addMutableState("long[]", "graftCentIds",
      v => s"$v = (long[]) (($tupCls) $bRef.value())._1();")
    val vecsTerm = ctx.addMutableState("float[][]", "graftCentVecs",
      v => s"$v = (float[][]) (($tupCls) $bRef.value())._2();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorGate.argMaxCos($c, $idsTerm, $vecsTerm);")
  }
}

/** Top-`nProbes` nearest centroid ids (array<bigint>, best first) of an
  * `array<float>` vector against a BROADCAST codebook — the multi-probe
  * sibling of [[ArgMaxCosineBroadcast]], the query side of every IVF
  * search: batch, persisted-index probe and streaming alerts (where a
  * per-id rank window isn't expressible in append mode). Same ordering
  * contract: unrounded fused cosines, Double.compare, ties → lower
  * centroid id (≡ the window `crnk <= nProbes`, spec-pinned).
  */
case class ProbeCellsBroadcast(
    cents: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])],
    nProbes: Int,
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  require(nProbes > 0, s"nProbes must be positive, got $nProbes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_probe_cells"
  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorGate.topCells(
      v.asInstanceOf[ArrayData], cents.value._1, cents.value._2, nProbes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val tupCls = "scala.Tuple2"
    val bRef = ctx.addReferenceObj("graftProbeBcast", cents, bcastCls)
    val idsTerm = ctx.addMutableState("long[]", "graftProbeIds",
      v => s"$v = (long[]) (($tupCls) $bRef.value())._1();")
    val vecsTerm = ctx.addMutableState("float[][]", "graftProbeVecs",
      v => s"$v = (float[][]) (($tupCls) $bRef.value())._2();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorGate.topCells($c, $idsTerm, $vecsTerm, $nProbes);")
  }
}

/** Registry for graft's native expressions — idempotent, call before
  * using `call_function("graft_cosine", ...)` / `"graft_dot"`.
  */
object GraftFunctions {
  /** Resolve a function argument that must be a foldable integer
    * literal (e.g. the shingle width) with a proper analysis-time
    * error: a non-foldable expression, NULL, a non-integral type, or
    * an out-of-Int-range BIGINT all name the function instead of
    * surfacing as an opaque ClassCastException at runtime.
    */
  private[plans] def foldableIntArg(fn: String, argName: String,
                                    e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    def fail(got: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"$fn() requires a foldable integer literal for <$argName>, got $got"))
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case null => fail("NULL")
      case other => fail(s"${e.dataType.sql} value $other")
    }
  }

  /** Register the `graft_*` functions this session does not resolve
    * yet: a GraftExtensions session already has them, and a repeat call
    * would replace each one (one registry WARN per function).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def add(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    add("graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)))
    add("graft_dot", exprs => DotProductF64(exprs(0), exprs(1)))
    add("graft_tokens", exprs => TokensExpr(exprs(0)))
    add("graft_shingles", exprs => ShinglesExpr(exprs(0), foldableIntArg("graft_shingles", "n", exprs(1))))
    add("graft_kmin_by", exprs => KMinByHash(exprs(0), exprs(1),
      foldableIntArg("graft_kmin_by", "k", exprs(2))))
    add("graft_cdc_chunks", exprs => CdcChunksExpr(exprs(0),
      foldableIntArg("graft_cdc_chunks", "anchorMod", exprs(1))))
  }
}
