package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot parse path. All of them codegen to
  * a single static call into [[Kernels]], keeping the whole-stage-codegen
  * span intact (no Scala-UDF boxing, no serialization of closures).
  */
object GraftExpressions {

  val rawLineSchema: StructType = StructType(
    Seq(
      StructField("status", ByteType, nullable = false),
      StructField("date", StringType),
      StructField("kind", ByteType, nullable = true),
      StructField("subject", StringType),
      StructField("event_type", StringType),
      StructField("params", StringType),
      StructField("ts", LongType)
    )
  )

  // ---- expression classes ------------------------------------------------

  abstract class UnaryKernel extends UnaryExpression with Serializable {
    /** Java expression producing the (possibly boxed) kernel result. */
    protected def kernelCall(c: String): String
    protected def boxedJavaType: String
    protected def unbox(tmp: String): String

    override def nullable: Boolean = true

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        c => {
          val tmp = ctx.freshName("kout")
          s"""
           |$boxedJavaType $tmp = ${kernelCall(c)};
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = ${unbox(tmp)}; }
           """.stripMargin
        }
      )
  }

  case class TokensToString(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.tokensToString(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.tokensToString($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class StringToTokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.stringToTokens(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.stringToTokens($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class ParseRawLine(child: Expression) extends UnaryExpression {
    override def dataType: DataType = rawLineSchema
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.parseRawLine(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.parseRawLine($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class ParamsMap(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
    override def nullable: Boolean = left.nullable || right.nullable
    override protected def nullSafeEval(ty: Any, params: Any): Any =
      Kernels.paramsMap(
        ty.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        params.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      )
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.expr.Kernels.paramsMap($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  val typedParamsSchema: StructType = StructType(
    Seq(
      StructField("err", BooleanType, nullable = false),
      StructField("text", StringType),
      StructField("target_raw", StringType),
      StructField("target_kind", StringType),
      StructField("healing", LongType),
      StructField("dmg", LongType),
      StructField("charge", LongType, nullable = false),
      StructField("duration", FloatType, nullable = false),
      StructField("f_time", FloatType, nullable = false),
      StructField("class_str", StringType)
    )
  )

  /** One-pass typed param extraction (see [[Kernels.typedParams]]): the
    * classify/flatten leg's replacement for params_map + element_at chains. */
  case class TypedParams(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = typedParamsSchema
    override def nullable: Boolean = left.nullable || right.nullable
    override protected def nullSafeEval(ty: Any, params: Any): Any =
      Kernels.typedParams(
        ty.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        params.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      )
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.expr.Kernels.typedParams($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  /** parse_int_overflow with clamp max; null on malformed. */
  case class ClampInt(child: Expression, min: Long, max: Long) extends UnaryKernel {
    override def dataType: DataType = LongType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.clampIntBoxed($c, ${min}L, ${max}L)"
    override protected def boxedJavaType: String = "java.lang.Long"
    override protected def unbox(tmp: String): String = s"$tmp.longValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.clampIntBoxed(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], min, max)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Raw-line date string -> epoch seconds at fixed UTC (kernel parity with
    * parse_raw_line's `ts`); null on invalid. Unlike to_timestamp, never
    * consults spark.sql.session.timeZone. */
  case class DateEpoch(child: Expression) extends UnaryKernel {
    override def dataType: DataType = LongType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.dateEpochBoxed($c)"
    override protected def boxedJavaType: String = "java.lang.Long"
    override protected def unbox(tmp: String): String = s"$tmp.longValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.dateEpochBoxed(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** chrono "%a %b %d %H:%M:%S %Z %Y" ParseError-kind ordinal (0 = valid);
    * see [[ChronoDate]]. */
  case class ChronoClassify(child: Expression) extends UnaryKernel {
    override def dataType: DataType = IntegerType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.chronoClassifyBoxed($c)"
    override protected def boxedJavaType: String = "java.lang.Integer"
    override protected def unbox(tmp: String): String = s"$tmp.intValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.chronoClassifyBoxed(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** LOCAL epoch seconds of a chrono-valid launch date; null when invalid. */
  case class ChronoEpochLocal(child: Expression) extends UnaryKernel {
    override def dataType: DataType = LongType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.chronoEpochLocalBoxed($c)"
    override protected def boxedJavaType: String = "java.lang.Long"
    override protected def unbox(tmp: String): String = s"$tmp.longValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.chronoEpochLocalBoxed(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class ParseF32(child: Expression) extends UnaryKernel {
    override def dataType: DataType = FloatType
    override protected def kernelCall(c: String): String = s"graft.expr.Kernels.parseF32Boxed($c)"
    override protected def boxedJavaType: String = "java.lang.Float"
    override protected def unbox(tmp: String): String = s"$tmp.floatValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.parseF32Boxed(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class ParsePosition(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      Kernels.parsePosition(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        c => {
          val tmp = ctx.freshName("kout")
          s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $tmp = graft.expr.Kernels.parsePosition($c);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
           """.stripMargin
        }
      )
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class ClassNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.classNormalize(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.classNormalize($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** Packed SubjectId for the envelope subject: kind(tinyint), subject. */
  case class SubjectIdExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = left.nullable
    override def eval(input: InternalRow): Any = {
      val k = left.eval(input)
      if (k == null) return null
      val s = right.eval(input)
      Kernels.subjectId(
        k.asInstanceOf[Byte],
        s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      )
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val le = left.genCode(ctx)
      val re = right.genCode(ctx)
      val code = code"""
        ${le.code}
        ${re.code}
        boolean ${ev.isNull} = ${le.isNull};
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.Kernels.subjectId(${le.value},
            ${re.isNull} ? null : ${re.value});
        }
      """
      ev.copy(code = code)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  case class AgainstSubjectId(child: Expression) extends UnaryKernel {
    override def dataType: DataType = LongType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.againstSubjectId($c)"
    override protected def boxedJavaType: String = "java.lang.Long"
    override protected def unbox(tmp: String): String = s"$tmp.longValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.againstSubjectId(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class PlayerSubjectIdExpr(child: Expression) extends UnaryKernel {
    override def dataType: DataType = LongType
    override protected def kernelCall(c: String): String =
      s"graft.expr.Kernels.playerSubjectId($c)"
    override protected def boxedJavaType: String = "java.lang.Long"
    override protected def unbox(tmp: String): String = s"$tmp.longValue()"
    override protected def nullSafeEval(v: Any): Any =
      Kernels.playerSubjectId(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** All-tables random-hyperplane buckets in one codegen'd pass (see
    * Kernels.rhpBuckets); the flattened plane matrix ships as a codegen
    * reference object. */
  case class RhpBuckets(child: Expression, weights: Array[Long], tables: Int, bits: Int, dim: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.rhpBuckets(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], weights, tables, bits, dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wref = ctx.addReferenceObj("rhpWeights", weights, "long[]")
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.rhpBuckets($c, $wref, $tables, $bits, $dim)")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** floor(cosine * 10000) over two float vectors in one fused pass (see
    * Kernels.cosineX10000). */
  case class CosineX10000(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.cosineX10000(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        (a, b) => {
          val tmp = ctx.freshName("cos")
          s"""
           |java.lang.Long $tmp = graft.expr.Kernels.cosineX10000($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
           """.stripMargin
        }
      )
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  /** Map-side top-nProbe IVF cell selection over a flattened broadcast
    * centroid matrix (see Kernels.ivfProbeCells): the zero-exchange
    * replacement for the per-id row_number window over the n x n_centroids
    * cross join. Never null: a null input vector ranks all-null scores by
    * cid asc, exactly like the window formulation. Arrays ship once as
    * codegen reference objects (the rhp_buckets pattern). */
  case class IvfProbeCellsExpr(
      child: Expression,
      cids: Array[Long],
      cents: Array[Float],
      cnorm2: Array[Double],
      centBad: Array[Boolean],
      dim: Int,
      nProbe: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      Kernels.ivfProbeCells(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        cids, cents, cnorm2, centBad, dim, nProbe)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cidRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
      val centRef = ctx.addReferenceObj("ivfCents", cents, "float[]")
      val n2Ref = ctx.addReferenceObj("ivfCnorm2", cnorm2, "double[]")
      val badRef = ctx.addReferenceObj("ivfCentBad", centBad, "boolean[]")
      val c = child.genCode(ctx)
      val code = code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.expr.Kernels.ivfProbeCells(
            ${c.isNull} ? null : ${c.value}, $cidRef, $centRef, $n2Ref, $badRef, $dim, $nProbe);
      """
      ev.copy(code = code)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Native one-pass 60-bit SimHash (see Kernels.simhash60Fast). */
  case class SimHash60Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.simhash60Fast(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.simhash60Fast($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** Native n-word shingle construction (see Kernels.shingles). */
  case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(v: Any): Any =
      Kernels.shingles(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.expr.Kernels.shingles($c, $n)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All-k-salts MinHash in one codegen'd traversal (see
    * Kernels.minhashMulti). Salt seeds precomputed once per expression
    * instance and shipped as a codegen reference object. */
  case class MinhashMulti(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    @transient private lazy val seeds: Array[Long] = Kernels.minhashSeeds(k)
    override protected def nullSafeEval(v: Any): Any =
      Kernels.minhashMulti(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seeds)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        c => {
          val sref = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
          val tmp = ctx.freshName("mh")
          s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $tmp = graft.expr.Kernels.minhashMulti($c, $sref);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
           """.stripMargin
        }
      )
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All-k md5 double-hashing MinHash signature values in one codegen'd
    * traversal (see Kernels.minhashMd5Multi) -- the oracle-path twin of
    * [[MinhashMulti]]. */
  case class MinhashMd5Multi(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      Kernels.minhashMd5Multi(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        c => {
          val tmp = ctx.freshName("mh5")
          s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $tmp = graft.expr.Kernels.minhashMd5Multi($c, $k);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
           """.stripMargin
        }
      )
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Identity pass-through flagged NONDETERMINISTIC: an optimizer barrier
    * (guide §4.4 pattern) that stops predicate pushdown from SUBSTITUTING an
    * expensive producer expression into a pushed-down filter -- e.g. the
    * inferred `size(arr) > 0` filter for an explode otherwise re-evaluates
    * the whole shingle+array_distinct chain a second time per row below the
    * projection that defines it. The value is exactly the child's (true
    * determinism is unchanged, so task retries are safe); only the
    * optimizer's freedom to move/duplicate across it is revoked. Use on the
    * expensive multi-consumer producer column only -- it also blocks
    * legitimate pushdown of other predicates through the projection. */
  case class NoPushBarrier(child: Expression) extends UnaryExpression {
    override lazy val deterministic: Boolean = false
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = child.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  // ---- Column API --------------------------------------------------------

  private def col(e: Expression): Column = org.apache.spark.sql.GraftBridge.column(e)
  private def ex(c: Column): Expression = org.apache.spark.sql.GraftBridge.expression(c)

  def tokens_to_string(c: Column): Column = col(TokensToString(ex(c)))
  def string_to_tokens(c: Column): Column = col(StringToTokens(ex(c)))
  def parse_raw_line(c: Column): Column = col(ParseRawLine(ex(c)))
  def params_map(ty: Column, params: Column): Column = col(ParamsMap(ex(ty), ex(params)))
  def typed_params(ty: Column, params: Column): Column = col(TypedParams(ex(ty), ex(params)))
  def clamp_u8(c: Column): Column = col(ClampInt(ex(c), 0L, 255L))
  def clamp_u16(c: Column): Column = col(ClampInt(ex(c), 0L, 65535L))
  def clamp_u32(c: Column): Column = col(ClampInt(ex(c), 0L, 4294967295L))
  def clamp_i64(c: Column): Column = col(ClampInt(ex(c), Long.MinValue, Long.MaxValue))
  def parse_f32(c: Column): Column = col(ParseF32(ex(c)))
  def date_epoch(c: Column): Column = col(DateEpoch(ex(c)))
  def chrono_classify(c: Column): Column = col(ChronoClassify(ex(c)))
  def chrono_epoch_local(c: Column): Column = col(ChronoEpochLocal(ex(c)))
  def parse_position(c: Column): Column = col(ParsePosition(ex(c)))
  def class_normalize(c: Column): Column = col(ClassNormalize(ex(c)))
  def subject_id(kind: Column, subject: Column): Column = col(SubjectIdExpr(ex(kind), ex(subject)))
  def against_subject_id(c: Column): Column = col(AgainstSubjectId(ex(c)))
  def player_subject_id(c: Column): Column = col(PlayerSubjectIdExpr(ex(c)))
  def minhash_multi(c: Column, k: Int): Column = col(MinhashMulti(ex(c), k))
  def minhash_md5_multi(c: Column, k: Int): Column = col(MinhashMd5Multi(ex(c), k))
  def no_push_barrier(c: Column): Column = col(NoPushBarrier(ex(c)))
  def shingles_native(c: Column, n: Int): Column = col(ShinglesExpr(ex(c), n))
  def simhash60_native(c: Column): Column = col(SimHash60Expr(ex(c)))
  def rhp_buckets(c: Column, weights: Array[Long], tables: Int, bits: Int, dim: Int): Column =
    col(RhpBuckets(ex(c), weights, tables, bits, dim))
  def cosine_x10000(a: Column, b: Column): Column = col(CosineX10000(ex(a), ex(b)))
  def ivf_probe_cells(
      vec: Column,
      cids: Array[Long],
      cents: Array[Float],
      cnorm2: Array[Double],
      centBad: Array[Boolean],
      dim: Int,
      nProbe: Int): Column =
    col(IvfProbeCellsExpr(ex(vec), cids, cents, cnorm2, centBad, dim, nProbe))
}
