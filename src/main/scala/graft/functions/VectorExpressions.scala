package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftSqlBridge.column
import org.apache.spark.unsafe.Platform

/** Native Catalyst expressions for the vector hot path.
  *
  * The built-in higher-order-function formulation (`aggregate(zip_with(...))`)
  * is CodegenFallback: every row pays boxed lambda evaluation (~1.5 ms/row
  * for a 64-dim dot product measured locally — three orders of magnitude
  * over native). These expressions emit a tight primitive loop inside
  * WholeStageCodegen instead, which is what survives a 100 TB scan.
  *
  * Math parity: accumulate left-to-right in double over float or double
  * element arrays — exactly the summation order of the HOF form and of the
  * DuckDB oracle (`list_cosine_similarity(CAST(x AS DOUBLE[]), ...)`), so
  * switching implementations never changes results.
  */
object VectorExpressions {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  private def getterName(et: DataType): String = et match {
    case FloatType => "getFloat"
    case DoubleType => "getDouble"
    case IntegerType => "getInt"
    case LongType => "getLong"
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  private def getD(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  /** Sequential-order dot product of two numeric arrays, in double. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (lt, rt) = (elemType(left), elemType(right))
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += getD(x, i, lt) * getD(y, i, rt); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (lg, rg) = (getterName(elemType(left)), getterName(elemType(right)))
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // fresh names: the expression can appear more than once in one
        // codegen scope (collapsed projections, join conditions)
        val (n, s, i) = (ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("i"))
        s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $s += ((double)$a.$lg($i)) * ((double)$b.$rg($i));
        |}
        |${ev.value} = $s;
        """.stripMargin
      })
    }
  }

  /** L2 norm of a numeric array, in double (sequential sum of squares). */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override protected def withNewChildInternal(newChild: Expression): L2Norm =
      copy(child = newChild)

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val et = elemType(child)
      var s = 0.0
      var i = 0
      val n = x.numElements()
      while (i < n) { val v = getD(x, i, et); s += v * v; i += 1 }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val g = getterName(elemType(child))
      nullSafeCodeGen(ctx, ev, a => {
        // fresh names: graft_cosine emits TWO L2Norms in one scope — fixed
        // local names made janino fail ("redefinition of i") and the whole
        // predicate silently fell back to interpreted eval
        val (n, s, i, v) = (ctx.freshName("n"), ctx.freshName("s"),
          ctx.freshName("i"), ctx.freshName("v"))
        s"""
        |int $n = $a.numElements();
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $v = (double)$a.$g($i);
        |  $s += $v * $v;
        |}
        |${ev.value} = Math.sqrt($s);
        """.stripMargin
      })
    }
  }

  /** Squared L2 distance between two numeric arrays, in double. */
  case class L2DistanceSq(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): L2DistanceSq =
      copy(left = newLeft, right = newRight)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (lt, rt) = (elemType(left), elemType(right))
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = getD(x, i, lt) - getD(y, i, rt); s += d * d; i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (lg, rg) = (getterName(elemType(left)), getterName(elemType(right)))
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // fresh names (see L2Norm): safe under repeated emission in one scope
        val (n, s, i, d) = (ctx.freshName("n"), ctx.freshName("s"),
          ctx.freshName("i"), ctx.freshName("d"))
        s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $d = ((double)$a.$lg($i)) - ((double)$b.$rg($i));
        |  $s += $d * $d;
        |}
        |${ev.value} = $s;
        """.stripMargin
      })
    }
  }

  /** Count of common elements of two SORTED string arrays (each side
    * duplicate-free), by a single merge scan of UTF8String binary
    * comparisons — the set-intersection cardinality every Jaccard
    * denominator needs. The built-in `array_intersect` builds a fresh
    * hash set per evaluation (per ROW — and join conditions and collapsed
    * projections evaluate an expression more than once); this is
    * allocation-free O(|a|+|b|) per eval, so even double evaluation stays
    * cheap. Inputs must be sorted ascending in Spark's string order
    * (`sort_array`) with no null elements; element order is the ONLY
    * contract difference vs `size(array_intersect(a, b))`.
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    // analysis-time type check: the SQL surface (graft_sorted_intersect)
    // would otherwise reinterpret non-string array slots as string
    // (offset, length) pointers at runtime — garbage counts, no error
    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_intersect expects (array<string>, array<string>), got ($l, $r)")
      }
    }
    override def dataType: DataType = IntegerType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SortedIntersectCount =
      copy(left = newLeft, right = newRight)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (nx, ny) = (x.numElements(), y.numElements())
      var i = 0; var j = 0; var c = 0
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // fresh names: the expression can appear more than once in one
        // codegen scope (e.g. a filter collapsed into a join condition)
        val (nx, ny) = (ctx.freshName("nx"), ctx.freshName("ny"))
        val (i, j, c, cmp) = (ctx.freshName("i"), ctx.freshName("j"),
          ctx.freshName("c"), ctx.freshName("cmp"))
        s"""
        |int $nx = $a.numElements();
        |int $ny = $b.numElements();
        |int $i = 0, $j = 0, $c = 0;
        |while ($i < $nx && $j < $ny) {
        |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
        |  if ($cmp == 0) { $c++; $i++; $j++; }
        |  else if ($cmp < 0) $i++;
        |  else $j++;
        |}
        |${ev.value} = $c;
        """.stripMargin
      })
  }

  /** Argmin over a BAKED centroid matrix: returns the 0-based index (in
    * the constructor's row order) of the centroid with minimum cosine
    * distance `1 - dot/(norm * centroidNorm)` from the row's embedding.
    *
    * This is the assignment kernel of IVF builds: the declarative
    * formulation (crossJoin(broadcast(centroids)) + argmin) materializes
    * an N x K row product — ~520 bytes per row with both arrays aboard —
    * before anything can reduce it, which measured 400+ s at
    * 128k x 1024 on 32 cores. Here the matrix rides once per task as a
    * reference object and each row runs a K x D primitive loop inside
    * codegen: no row explosion, no shuffle, N output rows.
    *
    * Parity with the declarative form: dots accumulate left-to-right in
    * double (same order as [[DotProduct]]), candidates are compared with
    * NaN-as-largest semantics, and the CALLER passes centroids sorted
    * ascending by centroid id so index order reproduces the
    * (dist asc, centroid_id asc) tie-break of min(struct(...)).
    */
  case class NearestCentroidIndex(
      left: Expression,  // embedding: array<float|double>
      right: Expression, // precomputed L2 norm: double
      centroids: Array[Array[Float]],
      centroidNorms: Array[Double])
      extends BinaryExpression {
    require(centroids.nonEmpty && centroids.length == centroidNorms.length,
      "centroid matrix and norms must be non-empty and aligned")
    override def dataType: DataType = IntegerType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NearestCentroidIndex =
      copy(left = newLeft, right = newRight)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val e = a.asInstanceOf[ArrayData]
      val norm = b.asInstanceOf[Double]
      val et = elemType(left)
      var bestDist = 0.0
      var bestIdx = -1
      var k = 0
      while (k < centroids.length) {
        val c = centroids(k)
        val n = math.min(e.numElements(), c.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += getD(e, i, et) * c(i).toDouble; i += 1 }
        val dist = 1.0 - dot / (norm * centroidNorms(k))
        if (bestIdx < 0 ||
            (java.lang.Double.isNaN(bestDist) && !java.lang.Double.isNaN(dist)) ||
            dist < bestDist) {
          bestDist = dist; bestIdx = k
        }
        k += 1
      }
      bestIdx
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val g = getterName(elemType(left))
      val mat = ctx.addReferenceObj("centroidMat", centroids, "float[][]")
      val cns = ctx.addReferenceObj("centroidNorms", centroidNorms, "double[]")
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (bd, bi, k, c, n, dot, i, d) = (
          ctx.freshName("bestDist"), ctx.freshName("bestIdx"),
          ctx.freshName("k"), ctx.freshName("c"), ctx.freshName("n"),
          ctx.freshName("dot"), ctx.freshName("i"), ctx.freshName("dist"))
        s"""
        |double $bd = 0.0;
        |int $bi = -1;
        |for (int $k = 0; $k < $mat.length; $k++) {
        |  float[] $c = $mat[$k];
        |  int $n = Math.min($a.numElements(), $c.length);
        |  double $dot = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    $dot += ((double)$a.$g($i)) * ((double)$c[$i]);
        |  }
        |  double $d = 1.0 - $dot / ($b * $cns[$k]);
        |  if ($bi < 0 || (Double.isNaN($bd) && !Double.isNaN($d)) || $d < $bd) {
        |    $bd = $d; $bi = $k;
        |  }
        |}
        |${ev.value} = $bi;
        """.stripMargin
      })
    }
  }

  /** One query's best `k` candidates from one packed block — the scan of
    * the blocked exact-kNN kernel ([[graft.ann.Ann.knnJoin]]).
    *
    * `block` is `array<struct<id, embedding, norm>>`; the result is
    * `array<struct<id, score>>` with `score = dot / (qn * norm)`, the dot
    * accumulated left to right in double exactly as [[DotProduct]] does,
    * and the division following Spark's `Divide` (null on a null operand;
    * on a zero divisor null, or DIVIDE_BY_ZERO under ANSI mode). The
    * query's own id, and null ids, are skipped — the `qid <> id`
    * condition of the join this replaces.
    *
    * Scores are ranked with Spark's double ordering
    * (`SQLOrderingUtil.compareDoubles`: NaN highest, 0.0 equal to -0.0)
    * and null scores below every number, as `score DESC` sorts them.
    * Every candidate that ties the k-th score is kept, so the id
    * tie-break — and with it the id type's ordering — stays with the
    * `row_number` window that ranks the exploded candidates.
    */
  case class BlockTopK(
      qid: Expression,
      qv: Expression,    // array<numeric>
      qn: Expression,    // double
      block: Expression, // array<struct<id, embedding, norm>>
      k: Int,
      failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
      extends Expression {
    override def children: Seq[Expression] = Seq(qid, qv, qn, block)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): BlockTopK =
      copy(qid = c(0), qv = c(1), qn = c(2), block = c(3))
    override def nullable: Boolean = true

    private def candType: StructType =
      block.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      block.dataType match {
        case ArrayType(StructType(Array(id, StructField(_, ArrayType(FloatType | DoubleType, _), _, _),
            StructField(_, DoubleType, _, _))), _) if id.dataType == qid.dataType =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"block must be array<struct<id: ${qid.dataType}, embedding: array<float|double>, " +
            s"norm: double>>, got $other")
      }
    }

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", qid.dataType, candType.fields(0).nullable),
      StructField("score", DoubleType, nullable = true))), containsNull = false)

    @transient private lazy val idType = qid.dataType
    @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(idType)
    @transient private lazy val qet = elemType(qv)
    @transient private lazy val floats =
      candType.fields(1).dataType.asInstanceOf[ArrayType].elementType == FloatType
    // a block that is not in unsafe form (interpreted evaluation) is
    // converted once, so the scan below has one layout to read
    @transient private lazy val toUnsafe = UnsafeProjection.create(Array(block.dataType))

    override def eval(input: InternalRow): Any = topK(qid.eval(input),
      qv.eval(input).asInstanceOf[ArrayData], qn.eval(input),
      block.eval(input).asInstanceOf[ArrayData])

    // generated code calls topK on the children's values: inside
    // whole-stage codegen the block is read in place from the joined
    // side — a fallback expression would first copy every joined
    // (query, block) row, i.e. the whole block per query
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("blockTopK", this)
      val Seq(q, v, n, b) = children.map(_.genCode(ctx))
      def boxed(e: Expression, c: ExprCode): String =
        if (CodeGenerator.isPrimitiveType(e.dataType))
          s"${CodeGenerator.boxedType(e.dataType)}.valueOf(${c.value})"
        else c.value.toString
      ev.copy(code = code"""
        |${q.code}
        |${v.code}
        |${n.code}
        |${b.code}
        |ArrayData ${ev.value} = $self.topK(
        |  ${q.isNull} ? null : (Object) ${boxed(qid, q)},
        |  ${v.isNull} ? null : ${v.value},
        |  ${n.isNull} ? null : (Object) ${boxed(qn, n)},
        |  ${b.isNull} ? null : ${b.value});
        |boolean ${ev.isNull} = ${ev.value} == null;
        """.stripMargin)
    }

    /** dot(q, e) with [[DotProduct]]'s arithmetic — left to right, in
      * double — over the `n` float or double elements at `base`/`at`.
      */
    private def dot(base: AnyRef, q: Array[Double], n: Int, at: Long): Double = {
      var s = 0.0
      var i = 0
      if (floats) while (i < n) { s += q(i) * Platform.getFloat(base, at + 4L * i); i += 1 }
      else while (i < n) { s += q(i) * Platform.getDouble(base, at + 8L * i); i += 1 }
      s
    }

    /** [[dot]] for the four float candidates `at(t..t+3)` of one length
      * at once, each divided by its divisor in `scores`: four independent
      * left-to-right sums, so each candidate's summation order — and
      * result — is unchanged while the adds overlap instead of waiting on
      * one dependency chain.
      */
    private def dot4(base: AnyRef, q: Array[Double], n: Int, o: Array[Long],
        at: Array[Int], t: Int, scores: Array[Double]): Unit = {
      val (o0, o1, o2, o3) = (o(at(t)), o(at(t + 1)), o(at(t + 2)), o(at(t + 3)))
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < n) {
        val x = q(i)
        val off = 4L * i
        s0 += x * Platform.getFloat(base, o0 + off)
        s1 += x * Platform.getFloat(base, o1 + off)
        s2 += x * Platform.getFloat(base, o2 + off)
        s3 += x * Platform.getFloat(base, o3 + off)
        i += 1
      }
      scores(at(t)) = s0 / scores(at(t)); scores(at(t + 1)) = s1 / scores(at(t + 1))
      scores(at(t + 2)) = s2 / scores(at(t + 2)); scores(at(t + 3)) = s3 / scores(at(t + 3))
    }

    private def isSelf(q: Any, c: UnsafeRow): Boolean = idType match {
      case LongType => q.asInstanceOf[Long] == c.getLong(0)
      case _ => idOrdering.equiv(q, c.get(0, idType))
    }

    /** Null for a null query id or block (the join matched nothing). The
      * block is read in place: one reused row points at each candidate,
      * and the dots read the embeddings' elements at their offsets.
      */
    def topK(q: Any, v: ArrayData, qnv: Any, block: ArrayData): ArrayData = {
      if (q == null || block == null) return null
      if (k <= 0) return new GenericArrayData(Array.empty[Any])
      val cands = block match {
        case u: UnsafeArrayData => u
        case other => toUnsafe(InternalRow(other)).getArray(0)
      }
      val m = cands.numElements()
      val base = cands.getBaseObject
      val c = new UnsafeRow(3)
      def point(j: Int): Unit = {
        val os = cands.getLong(j) // the struct's (offset << 32 | size)
        c.pointTo(base, cands.getBaseOffset + (os >> 32), os.toInt)
      }
      // the query vector in double, once (exact for float elements)
      val qd = if (v == null) null else Array.tabulate(v.numElements())(getD(v, _, qet))
      // 0 = skipped (self or null id), 1 = null score, 2 = scored
      val state = new Array[Byte](m)
      val scores = new Array[Double](m) // divisors, then scores
      val at = new Array[Long](m)       // a scored embedding's first element
      val len = new Array[Int](m)
      val scoring = new Array[Int](m)
      var nScored = 0
      var j = 0
      while (j < m) {
        point(j)
        if (!c.isNullAt(0) && !isSelf(q, c)) {
          // Divide's order: divisor first, a zero divisor is null unless
          // ANSI, then a null dividend, then the ANSI zero check
          if (qnv == null || c.isNullAt(2)) state(j) = 1
          else {
            val den = qnv.asInstanceOf[Double] * c.getDouble(2)
            if ((den == 0 && !failOnError) || qd == null || c.isNullAt(1)) state(j) = 1
            else if (den == 0) throw org.apache.spark.sql.GraftSqlBridge.divideByZeroError()
            else {
              // the embedding: (offset << 32 | size) from the struct's base,
              // then [numElements][null bits][elements]
              val e = c.getBaseOffset + (c.getLong(1) >> 32)
              val n = Platform.getLong(base, e).toInt
              len(j) = math.min(qd.length, n)
              at(j) = e + UnsafeArrayData.calculateHeaderPortionInBytes(n)
              scores(j) = den
              state(j) = 2
              scoring(nScored) = j
              nScored += 1
            }
          }
        }
        j += 1
      }
      // the dots, four at a time where four float candidates share a length
      var t = 0
      while (t < nScored) {
        val n = len(scoring(t))
        if (floats && t + 3 < nScored && len(scoring(t + 1)) == n &&
            len(scoring(t + 2)) == n && len(scoring(t + 3)) == n) {
          dot4(base, qd, n, at, scoring, t, scores)
          t += 4
        } else {
          val i = scoring(t)
          scores(i) = dot(base, qd, n, at(i)) / scores(i)
          t += 1
        }
      }
      // threshold = the k-th best score when at least k are scored; null
      // scores rank last and all tie, so they are kept only below that
      val keepNulls = nScored < k
      val threshold = if (keepNulls) 0.0 else kthBest(scores, state, k)
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      j = 0
      while (j < m) {
        val keep = state(j) match {
          case 2 => keepNulls || SQLOrderingUtil.compareDoubles(scores(j), threshold) >= 0
          case 1 => keepNulls
          case _ => false
        }
        if (keep) {
          point(j)
          out += InternalRow(InternalRow.copyValue(c.get(0, idType)),
            if (state(j) == 2) scores(j) else null)
        }
        j += 1
      }
      new GenericArrayData(out.toArray[Any])
    }

    /** The k-th largest scored value, by a size-k min-heap. */
    private def kthBest(scores: Array[Double], state: Array[Byte], k: Int): Double = {
      import SQLOrderingUtil.compareDoubles
      val heap = new Array[Double](k)
      var size = 0
      def siftDown(): Unit = {
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var min = i
          if (l < size && compareDoubles(heap(l), heap(min)) < 0) min = l
          if (r < size && compareDoubles(heap(r), heap(min)) < 0) min = r
          if (min == i) done = true
          else { val t = heap(i); heap(i) = heap(min); heap(min) = t; i = min }
        }
      }
      var j = 0
      while (j < scores.length) {
        if (state(j) == 2) {
          val s = scores(j)
          if (size < k) {
            var i = size
            heap(i) = s
            size += 1
            while (i > 0 && compareDoubles(heap(i), heap((i - 1) / 2)) < 0) {
              val p = (i - 1) / 2
              val t = heap(i); heap(i) = heap(p); heap(p) = t; i = p
            }
          } else if (compareDoubles(s, heap(0)) > 0) { heap(0) = s; siftDown() }
        }
        j += 1
      }
      heap(0)
    }
  }

  // Column-API entry points
  def dotNative(a: Column, b: Column): Column = column(DotProduct(expr(a), expr(b)))
  def l2NormNative(a: Column): Column = column(L2Norm(expr(a)))
  def l2DistanceSqNative(a: Column, b: Column): Column = column(L2DistanceSq(expr(a), expr(b)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expr(a), expr(b)))
  def blockTopK(qid: Column, qv: Column, qn: Column, block: Column, k: Int): Column =
    column(BlockTopK(expr(qid), expr(qv), expr(qn), expr(block), k))

  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)
}
