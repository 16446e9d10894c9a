package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Cosine similarity between two float vectors, as a native Catalyst
  * expression with whole-stage codegen.
  *
  * Why an Expression and not a UDF: the similarity join evaluates this in
  * the innermost loop of an O(n·k) (LSH) or O(n²) (brute-force) pair scan;
  * a Scala UDF would box both arrays and break the WholeStageCodegen span
  * around the join. `doGenCode` emits a tight primitive loop over the
  * unsafe array data — no allocation per row beyond the two array reads.
  *
  * Accumulates in double (sequentially, index order) so results are
  * deterministic and engine-comparable. Returns null for null/empty/
  * length-mismatched inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // input typing enforced via checkInputDataTypes (AbstractDataType /
  // ExpectsInputTypes are private[sql] in Spark 4, so no inputTypes here)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0 || n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $x.numElements();
         |if ($n == 0 || $n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = (double) $x.getFloat($i);
         |    final double $yv = (double) $y.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny)); }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit polynomial rolling-hash fingerprint of a string (Karp–Rabin
  * style: h = h*31 + byte over the UTF-8 bytes).
  *
  * Purpose: document fingerprinting for exact dedup at scale — at 100 TB
  * you group/shuffle on an 8-byte fingerprint instead of the full document
  * text (the reference-scale design note in SURVEY §7.3-4). Deterministic
  * across runs and partitionings. Codegen'd tight byte loop.
  */
case class TextFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"text_fingerprint expects a string input, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < bytes.length) { h = 31L * h + bytes(i); i += 1 }
    java.lang.Long.valueOf(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |final byte[] $bytes = $s.getBytes();
         |long $h = 1125899906842597L;
         |for (int $i = 0; $i < $bytes.length; $i++) { $h = 31L * $h + $bytes[$i]; }
         |${ev.value} = $h;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `child`'s value, typed nullable and never constant-folded. A column
  * written through it lands as an OPTIONAL parquet field even when its
  * value is a literal: the parquet writer takes each field's repetition
  * from the optimized plan, where Spark's own `KnownNullable` folds away
  * together with its literal. Evaluation is the child's, in codegen too.
  */
case class OptionalValue(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest-centroid assignment for IVF indexing: the cell index (row of
  * `centroids`) whose cosine similarity to the input vector is highest,
  * ties broken toward the lower index.
  *
  * Why an Expression with the centroid matrix as a plan constant: the
  * k-means assignment step evaluates k cosines per corpus row. The
  * previous formulation built `greatest()` over k per-centroid struct
  * literals — generated code grows O(k·dim) expression nodes and blows
  * past JIT/codegen limits in the hundreds of cells, where real IVF wants
  * thousands. Here the matrix is ONE referenced object (shipped to
  * executors once inside the serialized plan, like a broadcast), and the
  * generated code is a tight k×dim primitive loop — codegen size is
  * O(1) in k. Returns null for null/empty/unmatchable inputs.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects an array<float> input, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var nx = 0.0
    var i = 0
    while (i < n) { val xv = x.getFloat(i).toDouble; nx += xv * xv; i += 1 }
    if (n == 0 || nx == 0.0) return null
    var best = -1
    var bestCos = -2.0
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      if (cen.length == n) {
        var dot = 0.0; var ny = 0.0; var j = 0
        while (j < n) {
          val xv = x.getFloat(j).toDouble; val yv = cen(j).toDouble
          dot += xv * yv; ny += yv * yv; j += 1
        }
        if (ny > 0.0) {
          val cos = dot / (math.sqrt(nx) * math.sqrt(ny))
          if (cos > bestCos) { bestCos = cos; best = c }
        }
      }
      c += 1
    }
    if (best < 0) null else Integer.valueOf(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, x => {
      val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
      val n = ctx.freshName("n")
      val nx = ctx.freshName("nx")
      val best = ctx.freshName("best")
      val bestCos = ctx.freshName("bestCos")
      val c = ctx.freshName("c")
      val cen = ctx.freshName("cen")
      val dot = ctx.freshName("dot")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val cos = ctx.freshName("cos")
      s"""
         |final int $n = $x.numElements();
         |double $nx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = (double) $x.getFloat($i); $nx += $xv * $xv;
         |}
         |if ($n == 0 || $nx == 0.0) { ${ev.isNull} = true; } else {
         |  int $best = -1; double $bestCos = -2.0;
         |  for (int $c = 0; $c < $cents.length; $c++) {
         |    final float[] $cen = $cents[$c];
         |    if ($cen.length != $n) continue;
         |    double $dot = 0.0, $ny = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      final double $xv = (double) $x.getFloat($j);
         |      final double $yv = (double) $cen[$j];
         |      $dot += $xv * $yv; $ny += $yv * $yv;
         |    }
         |    if ($ny > 0.0) {
         |      final double $cos = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |      if ($cos > $bestCos) { $bestCos = $cos; $best = $c; }
         |    }
         |  }
         |  if ($best < 0) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Product-quantization encoder: pack a float vector into one INT of
  * 4-bit subspace codes (M subspaces × 16 codes). `codebooks(m)(c)` is
  * code c's centroid for subspace m; subspace m covers dims
  * [m·subDim, (m+1)·subDim). The code per subspace is the L2-nearest
  * codebook row (standard PQ trains/assigns in L2 over raw subvectors);
  * code m lands in bits [4m, 4m+4).
  *
  * Why an Expression: encoding runs once over the whole corpus (the
  * write path of an IVF-PQ index) — it must stay inside the scan's
  * WholeStageCodegen span, and the codebook matrix ships as ONE plan
  * reference object exactly like [[NearestCentroid]]'s. The scale story
  * is the return type: after this map the corpus participates in ANN
  * candidate scoring as a 4-byte code word (plus a 4-byte cell id), not
  * a dim·4-byte float payload — a 64× shrink at dim=64, and the reason
  * IVF-PQ is the industry-standard 100 TB ANN shape.
  *
  * Returns null for null/empty input or a dimension not divisible into
  * the codebook shape. */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.length <= 8 &&
    codebooks.forall(cb => cb.nonEmpty && cb.length <= 16),
    "pq_encode packs 4-bit codes for up to 8 subspaces into an int")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects an array<float> input, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    if (n != m * subDim) return null
    var packed = 0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cen = cb(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = x.getFloat(s * subDim + j).toDouble - cen(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      packed |= best << (4 * s)
      s += 1
    }
    Integer.valueOf(packed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, x => {
      val cbs = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val subDim = ctx.freshName("subDim")
      val packed = ctx.freshName("packed")
      val s = ctx.freshName("s")
      val cb = ctx.freshName("cb")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val cen = ctx.freshName("cen")
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val diff = ctx.freshName("diff")
      s"""
         |final int $n = $x.numElements();
         |final int $m = $cbs.length;
         |final int $subDim = $cbs[0][0].length;
         |if ($n != $m * $subDim) { ${ev.isNull} = true; } else {
         |  int $packed = 0;
         |  for (int $s = 0; $s < $m; $s++) {
         |    final float[][] $cb = $cbs[$s];
         |    int $best = 0; double $bestD = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $cb.length; $c++) {
         |      final float[] $cen = $cb[$c];
         |      double $d = 0.0;
         |      for (int $j = 0; $j < $subDim; $j++) {
         |        final double $diff = (double) $x.getFloat($s * $subDim + $j) - (double) $cen[$j];
         |        $d += $diff * $diff;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $packed |= $best << (4 * $s);
         |  }
         |  ${ev.value} = $packed;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bloom-filter membership probe over a string column, with the filter
  * carried as a plan constant (same shipping mechanism as
  * [[NearestCentroid]]'s matrix: serialized once into the plan, sent to
  * each executor once, referenced from generated code via
  * `addReferenceObj`).
  *
  * Why an Expression and not a UDF: the probe sits on the corpus side of
  * the contamination gate — every gram of every document passes through
  * it — so it must stay inside the scan's WholeStageCodegen span. The
  * generated code is one virtual call on the referenced filter; no
  * boxing, no UTF8String→String conversion (`mightContainBinary` over
  * the raw UTF-8 bytes hashes identically to the `putBinary`/`putString`
  * pair `DataFrameStatFunctions.bloomFilter` uses to build the filter —
  * FunctionsSpec pins the no-false-negative contract).
  */
case class BloomContains(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain expects a string input, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    java.lang.Boolean.valueOf(
      bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, s => s"$bf.mightContainBinary($s.getBytes())")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The production wiring for the custom expressions: a
  * [[org.apache.spark.sql.SparkSessionExtensions]] installer so any
  * session — spark-submit, Thrift server, notebook — picks them up via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, with no code
  * calling [[GraftFunctions.register]] by hand. Injection happens at
  * session build, so the functions resolve in pure-SQL workloads too. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("text_fingerprint"),
      new ExpressionInfo(classOf[TextFingerprint].getName, "text_fingerprint"),
      (exprs: Seq[Expression]) => TextFingerprint(exprs.head)))
  }
}

/** Column-API entry points + SQL registration for the custom expressions.
  * Spark 4.x `Column` wraps a `ColumnNode`, not an `Expression`; the
  * converters are `private[sql]`, so they're reached through
  * [[org.apache.spark.sql.GraftBridge]]. */
object GraftFunctions {
  import org.apache.spark.sql.GraftBridge

  def cosine_similarity(a: Column, b: Column): Column =
    GraftBridge.toCol(
      CosineSimilarity(GraftBridge.toExpr(a), GraftBridge.toExpr(b)))

  def text_fingerprint(c: Column): Column =
    GraftBridge.toCol(TextFingerprint(GraftBridge.toExpr(c)))

  def nearest_centroid(c: Column, centroids: Array[Array[Float]]): Column =
    GraftBridge.toCol(NearestCentroid(GraftBridge.toExpr(c), centroids))

  def bloom_might_contain(c: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftBridge.toCol(BloomContains(GraftBridge.toExpr(c), bloom))

  def pq_encode(c: Column, codebooks: Array[Array[Array[Float]]]): Column =
    GraftBridge.toCol(PqEncode(GraftBridge.toExpr(c), codebooks))

  /** Character n-gram shingles as a generator column (UDTF tier): use in
    * a select the way `explode` is used — one output row per shingle. */
  def shingles(c: Column, n: Int): Column =
    GraftBridge.toCol(ShingleGenerator(GraftBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** [[shingles]] with per-row dedup: each DISTINCT n-gram of the input
    * once. Since one row's shingles never span partitions, this equals
    * `shingles(...)` + a global `(row key, g)` distinct — minus the
    * distinct's full shuffle of every shingle occurrence. */
  def shingles_distinct(c: Column, n: Int): Column =
    GraftBridge.toCol(ShingleGenerator(GraftBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(n), dedup = true))

  /** Distinct sliding word n-grams of a string column (see
    * [[WordGramGenerator]]) — one output row per distinct gram. */
  def word_grams_distinct(c: Column, n: Int): Column =
    GraftBridge.toCol(WordGramGenerator(GraftBridge.toExpr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Register as SQL functions (`cosine_similarity`, `text_fingerprint`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "text_fingerprint", exprs => TextFingerprint(exprs.head), "built-in")
  }
}
