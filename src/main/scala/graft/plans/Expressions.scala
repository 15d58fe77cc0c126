package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot scalar functions (SURVEY.md
  * §2.11 promotion path: UDF → Expression). Unlike Scala UDFs these
  * generate inline Java calls with NO encoder/serializer boundary — the
  * value stays a UTF8String/byte[] end-to-end — and they participate in
  * whole-stage codegen, null-intolerant short-circuiting and constant
  * folding (they are deterministic). Each `prettyName` is the SQL name
  * `GraftExtensions` binds, so EXPLAIN shows e.g. `surt(url)`. */
object Kernels {
  // static entry points referenced from generated code
  def surt(u: UTF8String): UTF8String =
    if (u == null) null else UTF8String.fromString(graft.core.UrlCanon.surt(u.toString))
  def canonAll(u: UTF8String): UTF8String =
    if (u == null) null
    else graft.core.UrlCanon.parse(u.toString) match {
      case Some(p) => UTF8String.fromString(p.href)
      case None    => null
    }
  def sha1B32(b: Array[Byte]): UTF8String =
    if (b == null) null
    else UTF8String.fromString(
      graft.core.Base32.encode(java.security.MessageDigest.getInstance("SHA-1").digest(b)))
  def timestamp14(d: UTF8String): UTF8String =
    if (d == null) null else UTF8String.fromString(graft.core.CdxIndexing.timestamp14(d.toString))
}

/** SURT canonicalization as a codegen expression. */
case class SurtExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.surt(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Kernels.surt($c)")
  override protected def withNewChildInternal(c: Expression): SurtExpr = copy(child = c)
  override def prettyName: String = "surt"
}

/** WHATWG-style URL normalization (href) as a codegen expression. */
case class CanonUrlExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.canonAll(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Kernels.canonAll($c)")
  override protected def withNewChildInternal(c: Expression): CanonUrlExpr = copy(child = c)
  override def prettyName: String = "canonicalize_url"
}

/** SHA-1 → RFC4648 base32 (the CDX digest convention). */
case class Sha1Base32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): Sha1Base32Expr = copy(child = c)
  override def nullSafeEval(v: Any): Any = Kernels.sha1B32(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Kernels.sha1B32($c)")
  override def prettyName: String = "sha1_b32"
}

/** WARC-Date → 14-digit CDX timestamp. */
case class Timestamp14Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.timestamp14(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Kernels.timestamp14($c)")
  override protected def withNewChildInternal(c: Expression): Timestamp14Expr = copy(child = c)
  override def prettyName: String = "timestamp14"
}
