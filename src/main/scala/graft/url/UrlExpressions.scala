package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graft.shim.{toColumn, toExpression}

/** Catalyst expressions over [[UrlFuncs]] (SURVEY.md §2.12).
  *
  * Native expressions rather than Scala UDFs: null-safe, participate in
  * whole-stage codegen via a static call into the (JVM-wide) UrlFuncs
  * object — no closure serialization, no Row conversion.
  */
/** Codegen-reachable static bridge (UTF8String in/out): a top-level
  * object with no companion class compiles to Java static forwarders,
  * so generated (janino) code can call `graft.url.UrlUrlBridge.defrag(x)`
  * directly.
  */
object UrlBridge {
    // single-char probes for the no-op fast paths: the overwhelming
    // majority of discovered links contain no '#'/'%', and returning
    // the input UTF8String REFERENCE avoids two String copies per call —
    // at ~10 links per fetched page these conversions were a measurable
    // slice of the crawl's memory-bandwidth budget (the resource that
    // caps multi-core scaling on a single box)
    private val HASH = UTF8String.fromString("#")
    private val PCT = UTF8String.fromString("%")
    def defrag(s: UTF8String): UTF8String = {
      val i = s.indexOf(HASH, 0)
      if (i < 0) s else s.substring(0, i)
    }
    def unquote2(s: UTF8String): UTF8String =
      if (s.indexOf(PCT, 0) < 0) s
      else UTF8String.fromString(UrlFuncs.unquote2(s.toString))
    def unquote(s: UTF8String): UTF8String =
      if (s.indexOf(PCT, 0) < 0) s
      else UTF8String.fromString(UrlFuncs.unquote(s.toString))
    /** scheme ∈ {http, https} without string materialization: a
      * case-insensitive byte-prefix test for "http:"/"https:" (the only
      * way urlsplit yields scheme http/https).
      */
    def isHttp(s: UTF8String): Boolean = {
      val n = s.numBytes
      def lc(i: Int): Int = s.getByte(i) | 0x20
      if (n >= 5 && lc(0) == 'h' && lc(1) == 't' && lc(2) == 't' && lc(3) == 'p') {
        if (s.getByte(4) == ':') true
        else n >= 6 && lc(4) == 's' && s.getByte(5) == ':'
      } else false
    }
    def host(s: UTF8String): UTF8String = UTF8String.fromString(UrlFuncs.host(s.toString))
    def normalize(s: UTF8String): UTF8String = UTF8String.fromString(UrlFuncs.urlNormalize(s.toString))
    def urljoin(b: UTF8String, u: UTF8String): UTF8String =
      UTF8String.fromString(UrlFuncs.urljoin(b.toString, u.toString))
    def pathq(s: UTF8String): UTF8String = {
      val rest = UrlFuncs.splitUrl(s.toString)._3
      UTF8String.fromString(if (rest.isEmpty) "/" else rest)
    }
  def isValid(s: UTF8String): Boolean = UrlFuncs.isValidIri(s.toString)
}

object UrlExpressions {

  private val B = "graft.url.UrlBridge"

  trait UrlUnary extends UnaryExpression {
    protected def fn: String
    override def dataType: DataType = StringType
    final override protected def nullSafeEval(v: Any): Any = evalStr(v.asInstanceOf[UTF8String])
    protected def evalStr(s: UTF8String): UTF8String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$B.$fn($c)")
  }

  case class UrlDefrag(child: Expression) extends UrlUnary {
    protected def fn = "defrag"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.defrag(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }
  case class UrlUnquote2(child: Expression) extends UrlUnary {
    protected def fn = "unquote2"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.unquote2(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }
  /** Single unquote — the discovered-link chain unquote²∘quote folds to
    * this (quote adds exactly one encode level and the first unquote
    * removes it; see UrlFuncs.canonLink).
    */
  case class UrlUnquote(child: Expression) extends UrlUnary {
    protected def fn = "unquote"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.unquote(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }
  case class UrlHost(child: Expression) extends UrlUnary {
    protected def fn = "host"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.host(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }
  case class UrlNormalizeExpr(child: Expression) extends UrlUnary {
    protected def fn = "normalize"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.normalize(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** Path+query of a URL ("/" when empty) — the robots match target. */
  case class UrlPathQ(child: Expression) extends UrlUnary {
    protected def fn = "pathq"
    protected def evalStr(s: UTF8String): UTF8String = UrlBridge.pathq(s)
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** scheme ∈ {http,https} as a byte-prefix test (no materialization). */
  case class UrlIsHttp(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override protected def nullSafeEval(v: Any): Any =
      UrlBridge.isHttp(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$B.isHttp($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** RFC-3987-ish validity gate (core.py:103-110), boolean-typed. */
  case class UrlIsValid(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override protected def nullSafeEval(v: Any): Any =
      UrlFuncs.isValidIri(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$B.isValid($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** urljoin(base, href) per CPython urllib (links_finder_plugin.py:56). */
  case class UrlJoin(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = StringType
    override protected def nullSafeEval(b: Any, u: Any): Any =
      UrlBridge.urljoin(b.asInstanceOf[UTF8String], u.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (b, u) => s"$B.urljoin($b, $u)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  // Column-level API
  def url_defrag(c: Column): Column = toColumn(UrlDefrag(toExpression(c)))
  def url_unquote2(c: Column): Column = toColumn(UrlUnquote2(toExpression(c)))
  def url_unquote(c: Column): Column = toColumn(UrlUnquote(toExpression(c)))
  def url_is_http(c: Column): Column = toColumn(UrlIsHttp(toExpression(c)))
  def url_host(c: Column): Column = toColumn(UrlHost(toExpression(c)))
  def url_normalize(c: Column): Column = toColumn(UrlNormalizeExpr(toExpression(c)))
  def url_pathq(c: Column): Column = toColumn(UrlPathQ(toExpression(c)))
  def url_is_valid(c: Column): Column = toColumn(UrlIsValid(toExpression(c)))
  def url_join(base: Column, href: Column): Column =
    toColumn(UrlJoin(toExpression(base), toExpression(href)))
}
