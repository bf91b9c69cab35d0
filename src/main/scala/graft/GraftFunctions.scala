package graft

import graft.expr.{KernelDecl, Mix63}
import graft.functions.InterpolatedQuantile
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-surface registration of the graft native expressions, so
  * `spark.sql("SELECT graft_cosine(a, b) ...")` works alongside the
  * Column API.
  *
  * Two entry points:
  *  - `GraftFunctions.register(spark)` — register into an existing session;
  *  - `spark.sql.extensions=graft.GraftExtensions` — injected at session
  *    build (the SparkSessionExtensions path for cluster deployment).
  */
object GraftFunctions {

  /** The kernels SQL sees, by their declared names. */
  private val kernels: Seq[KernelDecl] = {
    import graft.expr.BinaryExpressions._
    import graft.expr.TextExpressions._
    import graft.expr.VectorExpressions._
    Seq(DotProduct, CosineSimilarity, SquaredDistance, PolynomialFingerprint, Mix63.Decl,
      NfcNormalize, ImageMeta, AudioMeta, VideoMeta, VideoFrameRanges, TokenShingles,
      HttpResponse, HttpGate, RobotsRules, RobotsAllowed, RobotsDirectives)
  }

  /** A kernel's SQL form: its inputs, then one literal per constant
    * without a default. */
  private def fromSql(k: KernelDecl)(args: Seq[Expression]): Expression = {
    val n = k.inputs.size
    require(args.length == n + k.sqlConsts.size, k.usage)
    k.expr(args.take(n),
      args.drop(n).zip(k.sqlConsts).map { case (e, c) => literalArg(e, c.kind, k.usage) })
  }

  /** The value of the SQL literal argument `e` as a `kind` (integer,
    * double, boolean or string); `usage` names the function when `e` is
    * null, not a literal, or not of that kind — an integer must be
    * integral and in range. */
  def literalArg(e: Expression, kind: DataType, usage: String): Any = {
    def bad = throw new IllegalArgumentException(
      s"$usage: expected a ${kind.simpleString} literal, got ${e.sql}")
    val v = e match {
      case Literal(v, _) if v != null => v
      case _ => bad
    }
    (kind, v) match {
      case (IntegerType, n @ (_: Int | _: Long | _: Short | _: Byte)) =>
        val l = n.asInstanceOf[Number].longValue
        if (l.isValidInt) l.toInt else bad
      case (DoubleType, n: Number) => n.doubleValue
      case (DoubleType, d: Decimal) => d.toDouble
      case (BooleanType, b: Boolean) => b
      case (StringType, s: UTF8String) => s.toString
      case _ => bad
    }
  }

  val all: Seq[(String, Seq[Expression] => Expression)] =
    kernels.map(k => k.name -> fromSql(k) _) ++ Seq(
    // (catalyst trees built directly: a Column round-trip through the
    // Bridge leaves Unevaluable column-node wrappers inside a registered
    // function)
    "graft_zvalue" -> { args =>
      import org.apache.spark.sql.catalyst.expressions._
      val usage = "graft_zvalue(colA, colB, ..., bits)"
      require(args.length >= 3, usage)
      val bits = literalArg(args.last, IntegerType, usage).asInstanceOf[Int]
      val cols = args.init
      val m = cols.size
      require(bits > 0 && m * bits <= 63, s"$m cols x $bits bits exceeds a long")
      val terms = for {
        (c, ci) <- cols.zipWithIndex
        b <- 0 until bits
      } yield ShiftLeft(
        BitwiseAnd(
          ShiftRightUnsigned(Cast(c, LongType), Literal(b)),
          Literal(1L)),
        Literal(b * m + ci))
      terms.reduce[Expression](BitwiseOr(_, _))
    },
    "graft_redact_pii" -> { args =>
      import org.apache.spark.sql.catalyst.expressions._
      require(args.length == 1, "graft_redact_pii(text)")
      import graft.operators.TextOps.{DigitRunRe, EmailRe, Ipv4Re}
      Seq(EmailRe -> "<EMAIL>", Ipv4Re -> "<IP>", DigitRunRe -> "<NUM>")
        .foldLeft(args(0)) { case (e, (re, tok)) =>
          RegExpReplace(e, Literal(re), Literal(tok))
        }
    },
    "graft_quantile" -> { args =>
      val usage = "graft_quantile(col, q)"
      require(args.length == 2, usage)
      val q = literalArg(args(1), DoubleType, usage).asInstanceOf[Double]
      InterpolatedQuantile(args(0), q).toAggregateExpression()
    })

  /** Register all graft functions into an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) => Bridge.registerFunction(spark, name, builder) }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        (args: Seq[Expression]) => builder(args)))
    }
}
