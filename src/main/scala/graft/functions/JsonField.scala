package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.{DefaultStringProducingExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `get_json_object(json, '$.name')` as one pass over the UTF-8 bytes.
  *
  * Spark's evaluator builds a Jackson parser and generator per row;
  * for a small document that set-up costs more than the scan. This
  * kernel walks the bytes once and returns the value of the top-level
  * key `name`, but only for documents it fully validates, where the
  * answer is known to equal Spark's:
  *
  *   - an ASCII object, whitespace only space, `\t`, `\n`, `\r`, and
  *     nothing but whitespace after the closing `}`;
  *   - every key a double-quoted string of printable ASCII with no
  *     backslash, no key appearing twice, at most [[MaxKeys]] keys;
  *   - every value such a string (returned without its quotes) or a
  *     canonical integer `-?(0|[1-9][0-9]*)` of at most 18 digits,
  *     not `-0` (returned as written: Jackson re-prints exactly these
  *     digits).
  *
  * Every other row (escapes, single quotes, non-ASCII, floats,
  * literals, nested values, duplicate keys, malformed or truncated
  * input) goes to Spark's own `GetJsonObjectEvaluator`, so the lenient
  * parser features Spark enables decide those rows as before. The
  * result is a fresh copy of the value bytes, never a view of the
  * input row. Installed by [[graft.plans.JsonFieldRewrite]].
  */
case class JsonField(json: Expression, name: String)
    extends UnaryExpression with DefaultStringProducingExpression {
  override def child: Expression = json
  override def nullable: Boolean = true
  override def prettyName: String = "json_field"

  private def path = UTF8String.fromString("$." + name)
  @transient private lazy val key = name.getBytes(UTF_8)
  @transient private lazy val keys = new Array[Int](JsonField.ScratchInts)
  @transient private lazy val fallback = new GetJsonObjectEvaluator(path)

  override def nullSafeEval(v: Any): Any =
    JsonField.extract(v.asInstanceOf[UTF8String], key, keys, fallback)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evaluator = classOf[GetJsonObjectEvaluator].getName
    val p = ctx.addReferenceObj("jsonPath", path)
    val k = ctx.addReferenceObj("jsonKey", key, "byte[]")
    val fb = ctx.addMutableState(evaluator, "jsonFallback",
      v => s"$v = new $evaluator($p);", forceInline = true)
    val ks = ctx.addMutableState("int[]", "jsonKeys",
      v => s"$v = new int[${JsonField.ScratchInts}];", forceInline = true)
    nullSafeCodeGen(ctx, ev, j =>
      s"""
         |${ev.value} = graft.functions.JsonField.extract($j, $k, $ks, $fb);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): JsonField =
    copy(json = c)
}

object JsonField {

  /** [[locate]]'s result for a validated document without the key. */
  final val NotFound = -1L
  /** [[locate]]'s result for a document outside the fast-path grammar. */
  final val Fallback = -2L
  /** Documents with more keys go to the fallback. */
  final val MaxKeys = 16
  /** Size of the caller's key scratch array: (start, length) per key. */
  final val ScratchInts = 2 * MaxKeys

  /** The value of top-level key `key` in `json`, or null. Fast-path
    * documents are answered from their bytes; any other document is
    * answered by `fallback`, an evaluator for the same path. */
  def extract(json: UTF8String, key: Array[Byte], keys: Array[Int],
      fallback: GetJsonObjectEvaluator): UTF8String = {
    val base = json.getBaseObject
    val off = json.getBaseOffset
    val r = locate(base, off, json.numBytes, key, keys)
    if (r >= 0) {
      val s = (r >>> 32).toInt
      val out = new Array[Byte](r.toInt - s)
      Platform.copyMemory(base, off + s, out, Platform.BYTE_ARRAY_OFFSET, out.length)
      UTF8String.fromBytes(out)
    } else if (r == NotFound) null
    else {
      fallback.setJson(json)
      fallback.evaluate().asInstanceOf[UTF8String]
    }
  }

  /** One pass over the `n` bytes at (`base`, `off`). For a document in
    * the fast-path grammar, returns `start << 32 | end`, the byte range
    * of `key`'s value (a string's contents, an integer's digits), or
    * [[NotFound]]; for any other document, [[Fallback]]. `keys` is
    * scratch space of [[ScratchInts]] ints for the duplicate check. */
  def locate(base: AnyRef, off: Long, n: Int, key: Array[Byte],
      keys: Array[Int]): Long = {
    var i = skipWs(base, off, n, 0)
    if (i >= n || byteAt(base, off, i) != '{') return Fallback
    i = skipWs(base, off, n, i + 1)
    var found = NotFound
    if (i < n && byteAt(base, off, i) == '}') i += 1
    else {
      var nk = 0
      var open = true
      while (open) {
        if (i >= n || byteAt(base, off, i) != '"') return Fallback
        val ks = i + 1
        val ke = stringEnd(base, off, n, ks)
        if (ke < 0 || nk == MaxKeys) return Fallback
        val kl = ke - ks
        var j = 0
        while (j < nk) {
          if (keys(2 * j + 1) == kl && sameBytes(base, off, keys(2 * j), ks, kl))
            return Fallback
          j += 1
        }
        keys(2 * nk) = ks
        keys(2 * nk + 1) = kl
        nk += 1
        i = skipWs(base, off, n, ke + 1)
        if (i >= n || byteAt(base, off, i) != ':') return Fallback
        i = skipWs(base, off, n, i + 1)
        if (i >= n) return Fallback
        val quoted = byteAt(base, off, i) == '"'
        val vs = if (quoted) i + 1 else i
        val ve = if (quoted) stringEnd(base, off, n, vs) else intEnd(base, off, n, vs)
        if (ve < 0) return Fallback
        if (isKey(base, off, ks, kl, key)) found = (vs.toLong << 32) | ve
        i = skipWs(base, off, n, if (quoted) ve + 1 else ve)
        if (i >= n) return Fallback
        val c = byteAt(base, off, i)
        i += 1
        if (c == '}') open = false
        else if (c == ',') i = skipWs(base, off, n, i)
        else return Fallback
      }
    }
    if (skipWs(base, off, n, i) != n) Fallback else found
  }

  @inline private def byteAt(base: AnyRef, off: Long, i: Int): Byte =
    Platform.getByte(base, off + i)

  private def skipWs(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    var i = from
    while (i < n && {
      val c = byteAt(base, off, i)
      c == ' ' || c == '\n' || c == '\r' || c == '\t'
    }) i += 1
    i
  }

  /** Index of the closing quote of a string whose contents start at
    * `from`, or -1 when it is unterminated or holds a byte outside
    * printable ASCII or a backslash. */
  private def stringEnd(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    var i = from
    while (i < n) {
      val c = byteAt(base, off, i)
      if (c == '"') return i
      if (c < 0x20 || c > 0x7e || c == '\\') return -1
      i += 1
    }
    -1
  }

  /** End of a canonical integer of at most 18 digits starting at
    * `from` (not `-0`), or -1. What follows is checked by the caller. */
  private def intEnd(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    val neg = from < n && byteAt(base, off, from) == '-'
    val ds = if (neg) from + 1 else from
    if (ds >= n) return -1
    val c0 = byteAt(base, off, ds)
    if (c0 == '0') return if (neg) -1 else ds + 1
    if (c0 < '1' || c0 > '9') return -1
    var i = ds + 1
    while (i < n && { val c = byteAt(base, off, i); c >= '0' && c <= '9' }) i += 1
    if (i - ds > 18) -1 else i
  }

  private def sameBytes(base: AnyRef, off: Long, a: Int, b: Int, len: Int): Boolean = {
    var i = 0
    while (i < len && byteAt(base, off, a + i) == byteAt(base, off, b + i)) i += 1
    i == len
  }

  private def isKey(base: AnyRef, off: Long, ks: Int, kl: Int, key: Array[Byte]): Boolean =
    kl == key.length && {
      var i = 0
      while (i < kl && byteAt(base, off, ks + i) == key(i)) i += 1
      i == kl
    }
}
