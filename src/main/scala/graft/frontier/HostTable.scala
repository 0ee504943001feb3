package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.shim.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** A per-host table collected to the driver ONCE and probed per row by
  * [[HostLookup]] — the reference's dicts built once and read per URL
  * (robots.py:30-32, 88-95), instead of a string-keyed broadcast hash
  * join re-planned into every round (each such relation allocated its
  * own 16 MB Tungsten page, even for a two-host table).
  *
  * The rows ship as ONE broadcast of their compact byte form (host
  * UTF-8 bytes + the value struct's UnsafeRow bytes); each executor
  * inflates it into a hash map once per broadcast id ([[HostTableCache]]).
  * `host(col)` is the value struct (null for an absent or null host).
  * `destroy()` frees the broadcast; the owner calls it once no plan that
  * probes the table can run again.
  */
final class HostTable private (bytes: Broadcast[Array[Byte]],
    val valueType: StructType, nonNull: Set[String]) {

  /** The value struct of `host` (null: host absent from the table). */
  def apply(host: Column): Column =
    toColumn(HostLookup(toExpression(host), bytes, valueType))

  /** Whether any host carries a non-null `field`. */
  def hasAny(field: String): Boolean = nonNull(field)

  def destroy(): Unit = bytes.destroy()
}

object HostTable {

  /** Collects `df` (first column: the string host key; the rest: the
    * value fields) in one job and broadcasts it. Rows of one host merge
    * field by field, the first non-null value winning, so a table can be
    * the union of per-attribute sources (no join needed). Rows with a
    * null host are dropped: a null key never matches.
    */
  def collect(df: DataFrame): HostTable = {
    val valueType = StructType(df.schema.fields.tail)
    val merged = new java.util.LinkedHashMap[String, Array[Any]]()
    for (r <- df.collect() if !r.isNullAt(0)) {
      val v = r.toSeq.tail.toArray
      val prev = merged.putIfAbsent(r.getString(0), v)
      if (prev != null) v.indices.foreach(i => if (prev(i) == null) prev(i) = v(i))
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(valueType)
    val toUnsafe = UnsafeProjection.create(valueType)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var nonNull = Set.empty[String]
    out.writeInt(merged.size)
    merged.forEach { (host, v) =>
      v.indices.foreach(i => if (v(i) != null) nonNull += valueType(i).name)
      val key = host.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val row = toUnsafe(toCatalyst(Row.fromSeq(v.toSeq)).asInstanceOf[InternalRow]).getBytes
      out.writeInt(key.length); out.write(key)
      out.writeInt(row.length); out.write(row)
    }
    out.flush()
    new HostTable(df.sparkSession.sparkContext.broadcast(bos.toByteArray), valueType, nonNull)
  }

  /** Inflates the byte form into host → value row. */
  private[frontier] def decode(bytes: Array[Byte], numFields: Int): java.util.HashMap[UTF8String, UnsafeRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val map = new java.util.HashMap[UTF8String, UnsafeRow](math.max(16, n * 2))
    for (_ <- 0 until n) {
      val key = new Array[Byte](in.readInt()); in.readFully(key)
      val row = new Array[Byte](in.readInt()); in.readFully(row)
      val u = new UnsafeRow(numFields)
      u.pointTo(row, row.length)
      map.put(UTF8String.fromBytes(key), u)
    }
    map
  }
}

/** Per-JVM cache of inflated host tables keyed by broadcast id: one
  * decode per executor per table. Access-ordered and bounded at
  * `MaxEntries`, so the crawl-long world table stays resident while
  * per-round tables age out. Probed once per expression instance (per
  * task), never per row, so the lock is off the hot path.
  */
object HostTableCache {
  private[frontier] val MaxEntries = 8
  private val cache = new java.util.LinkedHashMap[Long, java.util.HashMap[UTF8String, UnsafeRow]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Long, java.util.HashMap[UTF8String, UnsafeRow]]): Boolean =
      this.size() > MaxEntries
  }

  def get(b: Broadcast[Array[Byte]], numFields: Int): java.util.HashMap[UTF8String, UnsafeRow] =
    cache.synchronized {
      var m = cache.get(b.id)
      if (m == null) {
        m = HostTable.decode(b.value, numFields)
        cache.put(b.id, m)
      }
      m
    }

  private[frontier] def entries: Int = cache.synchronized(cache.size())
}

/** host → value struct over a broadcast [[HostTable]] as a native
  * Catalyst expression: null-safe, and in whole-stage codegen the
  * generated code calls back into this instance via a reference object
  * (the [[graft.seen.BloomMightContain]] pattern). No hash relation, no
  * exchange: a per-row hash-map probe.
  */
case class HostLookup(child: Expression, table: Broadcast[Array[Byte]], valueType: StructType)
    extends UnaryExpression {

  override def dataType: DataType = valueType
  override def nullable: Boolean = true

  @transient private lazy val map = HostTableCache.get(table, valueType.length)

  /** Codegen entry point (called from generated java); null if absent. */
  def lookup(host: UTF8String): InternalRow = map.get(host)

  override protected def nullSafeEval(v: Any): Any = lookup(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hostLookup", this, classOf[HostLookup].getName)
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = ${c.isNull} ? null : $ref.lookup(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
