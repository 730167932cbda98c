package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops the built-in
  * higher-order functions make quadratic-×-interpreted: float-vector
  * dot products (kNN / cosine near-dup: ~128M lambda invocations per
  * brute-force pass at sf0.1), MinHash band signatures (~29M), and
  * character/word shingle hashing.
  *
  * Every expression here participates in whole-stage codegen: the
  * generated code calls a static helper on this object (Scala emits
  * static forwarders for object methods), so the heavy loop runs as
  * JIT-compiled JVM code AND the surrounding projection/join stage
  * stays fused — no CodegenFallback interpreted-row boundary in the
  * hot path. Summation order is index order, identical to the
  * sequential HOF fold and to DuckDB's list_sum, so the oracle-parity
  * story is unchanged.
  */
object VectorExprs {

  /** Sequential-order dot product of two float arrays in double.
    * Participates in whole-stage codegen: the generated loop fuses
    * into the surrounding join/projection stage. */
  case class FloatDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Sequential-order dot product of two DOUBLE arrays — the double
    * twin of FloatDot, used where vectors are derived doubles (k-means
    * centroids) rather than stored float32 embeddings. Same index-order
    * summation as the aggregate(zip_with(...)) HOF fold and DuckDB's
    * list folds, so swapping it in changes nothing bit-wise — only the
    * ~100× interpreted-lambda overhead. */
  case class DoubleDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  private val B = 16
  private val R = 4
  private val K = B * R

  /** Deterministic seed table (splitmix-style odd constants). */
  private val seeds: Array[Long] =
    Array.tabulate(K)(k => (k + 1).toLong * 0x9E3779B97F4A7C15L | 1L)

  @inline private def mix(h: Long): Long = {
    var x = h
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
    x
  }

  /** Static eval body of [[MinHashBands]] — called from generated
    * code. One slot pass + the band fold. */
  def minHashBandsEval(v: ArrayData): ArrayData = {
    val mins = slotMinima(v)
    new GenericArrayData(foldBands(mins(_)))
  }

  /** The K=64 MinHash slot minima of a hashed shingle set — the ONE
    * O(K·n) sketch pass everything else derives from. */
  private def slotMinima(hs: ArrayData): Array[Long] = {
    val n = hs.numElements()
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < K) {
        val m = mix(h ^ seeds(k))
        if (m < mins(k)) mins(k) = m
        k += 1
      }
      i += 1
    }
    mins
  }

  /** FNV fold of R=4 adjacent slots into B=16 band hashes. */
  private def foldBands(get: Int => Long): Array[Long] = {
    val bands = new Array[Long](B)
    var b = 0
    while (b < B) {
      var acc = 0xCBF29CE484222325L
      var r = 0
      while (r < R) {
        acc = (acc ^ get(b * R + r)) * 0x100000001B3L
        r += 1
      }
      bands(b) = acc
      b += 1
    }
    bands
  }

  /** Static eval body of [[MinHashSlots]] — the raw K=64 MinHash slot
    * values (min over seed-mixed hashes), for sketch-based Jaccard
    * ESTIMATION (fraction of matching slots); [[MinHashBands]] is the
    * banded form used for candidate generation. */
  def minHashSlotsEval(v: ArrayData): ArrayData =
    new GenericArrayData(slotMinima(v))

  /** Static eval body of [[BandsFromSlots]] — band hashes derived from
    * an already-computed slot array, so a query needing both slots and
    * bands (llm_minhash_est) pays the O(K·n) sketch pass ONCE. */
  def bandsFromSlotsEval(v: ArrayData): ArrayData =
    new GenericArrayData(foldBands(v.getLong))

  /** Band hashes from precomputed MinHash slots (cheap K-element fold). */
  case class BandsFromSlots(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      bandsFromSlotsEval(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.bandsFromSlotsEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Raw K=64 MinHash slots of a hashed shingle set. */
  case class MinHashSlots(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      minHashSlotsEval(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.minHashSlotsEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** From an array of per-shingle 64-bit hashes, compute the K=64
    * MinHash slots (min over seed-mixed hashes) and collapse them into
    * B=16 band hashes of R=4 adjacent slots — one pass over the
    * shingles instead of K separate HOF scans. */
  case class MinHashBands(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      minHashBandsEval(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.minHashBandsEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Static eval body of [[CharGramHashes]] — called from generated code. */
  def charGramHashesEval(str: UTF8String, n: Int): ArrayData = {
    val bytes = str.getBytes
    val cnt = bytes.length - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      var h = 0xCBF29CE484222325L
      var j = 0
      while (j < n) { h = (h ^ (bytes(i + j) & 0xFFL)) * 0x100000001B3L; j += 1 }
      hs(i) = mix(h)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < cnt) {
      if (hs(i) != hs(i - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  /** Distinct 64-bit hashes of all n-byte grams of a string, sorted —
    * one pass over the UTF-8 bytes instead of materializing millions
    * of substring objects through interpreted HOFs (the corpus is pure
    * ASCII, so byte grams ≡ character grams). The hash only needs to
    * be deterministic and collision-free in practice (FNV-1a + an
    * avalanche finalizer); the Jaccard oracle compares string-set
    * counts, which equal hashed-set counts absent collisions. */
  case class CharGramHashes(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(l: Any, r: Any): Any =
      charGramHashesEval(l.asInstanceOf[UTF8String], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (s, n) =>
        s"${ev.value} = graft.functions.VectorExprs.charGramHashesEval($s, $n);")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Static eval body of [[WordShingleHashes]] — called from generated
    * code. */
  def wordShingleHashesEval(str: UTF8String, n: Int): ArrayData = {
    val bytes = str.getBytes
    // Token hashes in order (split on single spaces, like split(' ')
    // — empty tokens from doubled spaces hash the empty FNV basis,
    // matching the empty-string tokens split() would produce).
    val toks = scala.collection.mutable.ArrayBuffer.empty[Long]
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { toks += h; h = 0xCBF29CE484222325L }
      else h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    toks += h
    val cnt = toks.length - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](cnt)
    i = 0
    while (i < cnt) {
      var acc = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) { acc = acc * 0x100000001B3L ^ toks(i + j); j += 1 }
      hs(i) = mix(acc)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < cnt) {
      if (hs(i) != hs(i - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  /** Distinct 64-bit hashes of all word n-gram shingles of a string
    * (tokens = space-separated runs), sorted — the word-shingle twin of
    * CharGramHashes: per-token FNV hashes combined positionally over a
    * sliding window, no shingle string materialization. Counts equal
    * the distinct-string-shingle counts absent 64-bit collisions. */
  case class WordShingleHashes(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(l: Any, r: Any): Any =
      wordShingleHashesEval(l.asInstanceOf[UTF8String], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (s, n) =>
        s"${ev.value} = graft.functions.VectorExprs.wordShingleHashesEval($s, $n);")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Static eval body of [[SimHash62]] — called from generated code.
    * One pass over the UTF-8 bytes: per space-separated token, two
    * rolling polynomial hashes (a*31+c and a*131+c, mod 2^31-1 —
    * ascii(c) ≡ byte value on this pure-ASCII corpus), bit-majority
    * counted online. Identical to the interpreted HOF formula the
    * DuckDB oracle evaluates (PropertySuite pins bit-equality),
    * without materializing per-token hash arrays through ~2000
    * interpreted lambda calls per document. */
  def simhash62Eval(str: UTF8String): ArrayData = {
    // Iterate CODE POINTS, not bytes: the documented HOF formula (and
    // the DuckDB oracle) hashes ascii(c) per character, which equals
    // the byte only on ASCII text — code-point iteration keeps the
    // public GraftOps.simhash semantics identical on any input.
    val s = str.toString
    val cnt = new Array[Int](62)
    var n = 0
    var h31 = 0L
    var h131 = 0L
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        // Token boundary (empty tokens hash to 0, like split(' ')).
        n += 1
        var b = 0
        while (b < 31) {
          if (((h31 >> b) & 1L) == 1L) cnt(b) += 1
          if (((h131 >> b) & 1L) == 1L) cnt(31 + b) += 1
          b += 1
        }
        h31 = 0L
        h131 = 0L
        i += 1
      } else {
        val cp = s.codePointAt(i).toLong
        h31 = (h31 * 31L + cp) % 2147483647L
        h131 = (h131 * 131L + cp) % 2147483647L
        i += Character.charCount(s.codePointAt(i))
      }
    }
    var lo = 0L
    var hi = 0L
    i = 0
    while (i < 31) {
      if (2 * cnt(i) >= n) lo |= 1L << i
      if (2 * cnt(31 + i) >= n) hi |= 1L << i
      i += 1
    }
    new GenericArrayData(Array(lo, hi))
  }

  /** 62-bit SimHash of a text: array(sh_lo, sh_hi) — the native twin
    * of the token-bag bit-majority HOF fold (see [[simhash62Eval]]). */
  case class SimHash62(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      simhash62Eval(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.simhash62Eval($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  /** Static eval body of [[RollHash]] — called from generated code.
    * One pass over the code points: h = fold(chars,
    * (a, c) => (a*mult + cp(c)) mod (2^31-1)), without materializing
    * a per-character array through thousands of interpreted lambda
    * calls per document; empty text folds to the 0 seed, like the HOF.
    *
    * SEMANTICS ARE PER-CODE-POINT ON ANY INPUT — and all three
    * implementations agree, probed rather than assumed (r16 advice
    * questioned the non-ASCII claim): Spark 4.1's `ascii()` returns
    * the Unicode CODE POINT of the first character (pre-Spark-4
    * releases returned the signed first UTF-8 byte — the stale
    * behavior the concern was based on), its `split(text, '')` splits
    * per code point (astral characters stay whole), and DuckDB's
    * `ascii()`/`string_split(t, '')` match. So the native kernel, the
    * interpreted `aggregate(transform(split(text,''), ascii), ...)`
    * HOF arm, and the DuckDB list_reduce oracle are bit-equal on
    * Latin-1, CJK, and astral (surrogate-pair) text alike —
    * PropertySuite pins native ≡ Spark-HOF ≡ an explicit code-point
    * fold on exactly those classes, plus the corpus and the empty
    * string. (DuckDB side re-verified manually: all six probe strings
    * match with BIGINT-cast accumulators.) */
  def rollHashEval(str: UTF8String, mult: Int): Long = {
    val s = str.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * mult + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  /** Whole-text polynomial rolling hash mod 2^31-1 — the native twin
    * of the per-character code-point fold (see [[rollHashEval]] for
    * the exact semantics incl. the non-ASCII contract); `right` is
    * the multiplier (31/131 in this library). Input types are
    * declared so a SQL caller passing e.g. a BIGINT multiplier fails
    * at analysis time instead of ClassCastException at execution
    * (r16 advice). */
  case class RollHash(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType != StringType)
        TypeCheckResult.TypeCheckFailure(
          s"text argument must be STRING, got ${left.dataType.catalogString}")
      else if (right.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure(
          s"multiplier must be INT, got ${right.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any =
      rollHashEval(l.asInstanceOf[UTF8String], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (s, m) =>
        s"${ev.value} = graft.functions.VectorExprs.rollHashEval($s, $m);")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Decoded marker model for [[MarkerHits]]: token → bitmask of the
    * candidate-language indices (model order) whose marker set
    * contains it. Keys are cloned (the map outlives the input row
    * buffer); the original (lang, toks) content is kept for the
    * per-thread cache's full-content identity check. */
  final class MarkerModel(model: ArrayData) {
    val n: Int = model.numElements()
    require(n <= 64, "marker model supports at most 64 candidate languages")
    private val langs = new Array[UTF8String](n)
    private val toks = new Array[Array[UTF8String]](n)
    val map = new java.util.HashMap[UTF8String, java.lang.Long]()
    locally {
      var i = 0
      while (i < n) {
        val st = model.getStruct(i, 2)
        require(st != null, s"marker model entry $i is null")
        val lang = st.getUTF8String(0)
        // Loud decode-time guards (r16 advice): a null lang or null
        // token would otherwise NPE deep in clone()/probe or silently
        // skew counts — fail with the defect named, once per decode.
        require(lang != null, s"marker model entry $i has a null lang")
        langs(i) = lang.clone()
        val ta = st.getArray(1)
        require(ta != null, s"marker model entry $i has a null token array")
        val m = ta.numElements()
        val arr = new Array[UTF8String](m)
        var t = 0
        while (t < m) {
          val rawTok = ta.getUTF8String(t)
          require(rawTok != null,
            s"marker model entry $i (lang ${langs(i)}) has a null token at $t")
          val tok = rawTok.clone()
          arr(t) = tok
          val prev = map.get(tok)
          val bit = java.lang.Long.valueOf(
            if (prev eq null) 1L << i else prev.longValue() | (1L << i))
          map.put(tok, bit)
          t += 1
        }
        toks(i) = arr
        i += 1
      }
    }
    def sameAs(other: ArrayData): Boolean = {
      if (other.numElements() != n) return false
      var i = 0
      while (i < n) {
        val st = other.getStruct(i, 2)
        if (st.getUTF8String(0) != langs(i)) return false
        val ta = st.getArray(1)
        val m = toks(i).length
        if (ta.numElements() != m) return false
        var t = 0
        while (t < m) {
          if (ta.getUTF8String(t) != toks(i)(t)) return false
          t += 1
        }
        i += 1
      }
      true
    }
  }

  /** Per-thread decoded marker-model cache — same discipline as the
    * packed-cosine [[tlTable]]: the cache lives outside the immutable
    * expression tree, full-content identity check, task-scoped
    * lifetime. Bounded to the [[MarkerCacheCap]] most-recently-used
    * models per thread (r16 verdict #4: an unbounded last-model slot
    * is bytes with one ≤100-pair model, but a host scoring MANY
    * distinct models through long-lived executor threads would retain
    * one decoded model per thread indefinitely — the explicit MRU
    * bound makes multi-model serving safe by construction). Eviction
    * only drops a decoded copy; a re-encounter re-decodes. */
  private[graft] val MarkerCacheCap = 4
  private val tlMarkers =
    new ThreadLocal[java.util.ArrayDeque[MarkerModel]]

  /** Current thread's decoded-model count — test probe for the
    * retention bound (EdgeCaseSuite). */
  private[graft] def markerCacheSize(): Int = {
    val dq = tlMarkers.get()
    if (dq eq null) 0 else dq.size()
  }

  private[graft] def markerModelFor(model: ArrayData): MarkerModel = {
    var dq = tlMarkers.get()
    if (dq eq null) {
      dq = new java.util.ArrayDeque[MarkerModel](MarkerCacheCap)
      tlMarkers.set(dq)
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => tlMarkers.remove())
    }
    // Fast path: the single-model workload hits the MRU head with one
    // sameAs (the pre-cap behavior, unchanged cost).
    val head = dq.peekFirst()
    if ((head ne null) && head.sameAs(model)) return head
    val it = dq.iterator()
    if (it.hasNext) it.next() // head already checked
    while (it.hasNext) {
      val m = it.next()
      if (m.sameAs(model)) {
        it.remove()      // promote to MRU head (iterator abandoned below)
        dq.addFirst(m)
        return m
      }
    }
    val m = new MarkerModel(model)
    dq.addFirst(m)
    if (dq.size() > MarkerCacheCap) dq.removeLast()
    m
  }

  /** Static eval body of [[MarkerHits]] — called from generated code
    * on the non-foldable-model path. Tokenization is
    * split-on-single-space with limit -1 (interior AND trailing empty
    * segments kept, matching `split(text, ' ')` and DuckDB
    * string_split), scanning raw UTF-8 bytes: 0x20 only ever encodes
    * the space character, so byte scanning is exact on any input. One
    * hash probe per token instance; counts are bag-identical to
    * explode(split) ⋈ markers → count per lang. */
  def markerHitsEval(text: UTF8String, model: ArrayData): ArrayData =
    markerHitsCount(text, markerModelFor(model))

  /** The counting kernel against an already-decoded model. */
  def markerHitsCount(text: UTF8String, m: MarkerModel): ArrayData = {
    val counts = new Array[Int](m.n)
    val bytes = text.getBytes
    val len = bytes.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        val mask = m.map.get(UTF8String.fromBytes(bytes, start, i - start))
        if (mask ne null) {
          var b = mask.longValue()
          while (b != 0L) {
            counts(java.lang.Long.numberOfTrailingZeros(b)) += 1
            b &= b - 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Per-language marker-hit counts of a text against a packed marker
    * model (`array<struct<lang, toks>>`) — the native twin of the
    * explode(split(text,' ')) ⋈ markers per-(doc, lang) count (see
    * [[markerHitsEval]]): one byte pass over the text, counts in
    * model order.
    *
    * A FOLDABLE model child (the langid serving shape: the fitted
    * model ships as a plan literal) is decoded ONCE per (de)serialized
    * expression instance and the generated code skips both the per-row
    * literal evaluation and the per-thread cache's full-content
    * identity check (~100 short-string compares per row — 21% of the
    * serving scan in r16 stack samples). A non-foldable model (e.g. a
    * broadcast-joined column) takes the thread-local decode-cache
    * path, same discipline as the packed-cosine kernels. */
  case class MarkerHits(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)

    /** Structural input check (r16 advice): [[MarkerModel]] decodes
      * the model struct POSITIONALLY, so a swapped field order or a
      * wrong leaf type must fail at analysis time with the expected
      * shape named — not as an executor ClassCastException/NPE. Field
      * NAMES are deliberately not constrained (positional decode is
      * the contract; langIdAssign ships unnamed typedlit structs). */
    override def checkInputDataTypes(): TypeCheckResult = {
      def modelOk(dt: DataType): Boolean = dt match {
        case ArrayType(StructType(fields), _) if fields.length == 2 =>
          fields(0).dataType == StringType &&
            (fields(1).dataType match {
              case ArrayType(StringType, _) => true
              case _ => false
            })
        case _ => false
      }
      if (left.dataType != StringType)
        TypeCheckResult.TypeCheckFailure(
          s"text argument must be STRING, got ${left.dataType.catalogString}")
      else if (!modelOk(right.dataType))
        TypeCheckResult.TypeCheckFailure(
          "model argument must be ARRAY<STRUCT<lang: STRING, " +
            s"toks: ARRAY<STRING>>>, got ${right.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    /** Decoded once per instance when the model is a compile-time
      * constant; null when the model is non-foldable or folds to null.
      * Lazy-val init is synchronized, so cross-thread sharing of the
      * expression instance is safe; executors re-decode once after
      * deserialization. */
    @transient private lazy val staticModel: MarkerModel =
      if (!right.foldable) null
      else right.eval(InternalRow.empty) match {
        case null => null
        case v => new MarkerModel(v.asInstanceOf[ArrayData])
      }

    /** Foldable-path entry for generated code. */
    def hitsFor(text: UTF8String): ArrayData =
      markerHitsCount(text, staticModel)

    override def eval(input: InternalRow): Any = {
      val t = left.eval(input)
      if (t == null) return null
      if (right.foldable) {
        if (staticModel eq null) return null
        return markerHitsCount(t.asInstanceOf[UTF8String], staticModel)
      }
      val mk = right.eval(input)
      if (mk == null) null
      else markerHitsEval(t.asInstanceOf[UTF8String], mk.asInstanceOf[ArrayData])
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      markerHitsEval(l.asInstanceOf[UTF8String], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      if (!right.foldable)
        return nullSafeCodeGen(ctx, ev, (t, mk) =>
          s"${ev.value} = graft.functions.VectorExprs.markerHitsEval($t, $mk);")
      val leftGen = left.genCode(ctx)
      val ref = ctx.addReferenceObj("markerHits", this,
        classOf[MarkerHits].getName)
      val modelNull = staticModel eq null
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = null;
        if (${if (modelNull) "false" else s"!${leftGen.isNull}"}) {
          ${ev.value} = $ref.hitsFor(${leftGen.value});
          ${ev.isNull} = false;
        }""")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Static eval body of [[RademacherBucket]] — called from generated
    * code. */
  def rademacherBucketEval(v: ArrayData): Long = {
    val e = v
    val n = math.min(e.numElements(), 64)
    var bucket = 0L
    var p = 0
    while (p < 6) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val r = ((p * 64 + d).toLong * 2654435761L) % 4294967296L
        val sign = if (r < 2147483648L) 1.0 else -1.0
        acc += e.getFloat(d).toDouble * sign
        d += 1
      }
      if (acc > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** 6-bit random-hyperplane LSH bucket of a float vector — the native
    * twin of the SQL-text plane fold in llm/Ann.scala: Rademacher sign
    * for (plane p, dim d) is the SAME integer arithmetic the DuckDB
    * oracle evaluates, ((p*64+d)*2654435761) mod 2^32 < 2^31, and the
    * projection accumulates in index order, so buckets are bit-equal
    * to the interpreted HOF version. */
  case class RademacherBucket(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      rademacherBucketEval(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.rademacherBucketEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(c)
  }

  private val pairStruct = StructType(Seq(
    StructField("y", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  /** Spark's round(_, 6) semantics exactly (BigDecimal HALF_UP over the
    * canonical double string) — proven hash-parity with DuckDB round.
    * Costs a Double.toString, so the kernels only call it on pairs that
    * survive a raw-value prune with a 1e-6 margin (rounding moves a
    * value by < 5e-7, so pruning at threshold−1e-6 is lossless). */
  @inline private def round6(s: Double): Double =
    java.math.BigDecimal.valueOf(s)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Decoded packed table: parallel primitive arrays (flat float matrix
    * + per-vector offsets) so the pair loop runs over plain JVM arrays
    * the JIT can vectorize — no per-pair wrapper allocation. */
  final class PackedTable(packed: ArrayData) {
    val n: Int = packed.numElements()

    val ids = new Array[Long](n)
    val norms = new Array[Double](n)
    val off = new Array[Int](n + 1)
    val flat: Array[Float] = {
      val embs = new Array[ArrayData](n)
      var i = 0
      while (i < n) {
        val st = packed.getStruct(i, 3)
        ids(i) = st.getLong(0)
        norms(i) = st.getDouble(1)
        embs(i) = st.getArray(2)
        off(i + 1) = off(i) + embs(i).numElements()
        i += 1
      }
      val f = new Array[Float](off(n))
      i = 0
      while (i < n) {
        val e = embs(i)
        val base = off(i)
        var t = 0
        val m = e.numElements()
        while (t < m) { f(base + t) = e.getFloat(t); t += 1 }
        i += 1
      }
      f
    }

    /** Full-content identity check for the per-thread cache: element
      * count plus EVERY (id, nrm) entry — ~n comparisons per input row,
      * a few percent of the O(n·dim) kernel scan itself. Identity can't
      * be used (codegen materializes a fresh UnsafeRow per joined row);
      * two packs agreeing on all (id, nrm) pairs but differing in
      * embedding payloads would still alias, which no realistic misuse
      * produces (a changed embedding changes its norm). */
    def sameAs(other: ArrayData): Boolean = {
      if (other.numElements() != n) return false
      var i = 0
      while (i < n) {
        val st = other.getStruct(i, 3)
        if (st.getLong(0) != ids(i) || st.getDouble(1) != norms(i)) return false
        i += 1
      }
      true
    }
  }

  /** Per-thread decoded-pack cache: Catalyst assumes expressions are
    * immutable/thread-safe, so the cache lives OUTSIDE the expression
    * tree in a ThreadLocal — task threads each decode once per distinct
    * pack, and driver-side or reused-instance evaluation can never race
    * on or tear a shared reference (ADVICE r2). */
  private val tlTable = new ThreadLocal[PackedTable]

  private def tableFor(packed: ArrayData): PackedTable = {
    var t = tlTable.get()
    if ((t eq null) || !t.sameAs(packed)) {
      t = new PackedTable(packed)
      tlTable.set(t)
      // Bound the cache's lifetime to the task (the old per-instance
      // cache's lifetime): without this, every long-lived task thread
      // would pin its last decoded pack — ~decoded-broadcast-sized —
      // for the life of the executor.
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => tlTable.remove())
    }
    t
  }

  @inline private def ownNorm(emb: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < emb.length) { val v = emb(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  @inline private def dotWith(emb: Array[Float], flat: Array[Float],
      base: Int, len: Int): Double = {
    var d = 0.0
    var t = 0
    val m = math.min(emb.length, len)
    while (t < m) { d += emb(t).toDouble * flat(base + t).toDouble; t += 1 }
    d
  }

  /** Static eval body of [[CosTopK]] — called from generated code.
    * Per-row top-k cosine partners over ALL other vectors, ordered by
    * (rounded sim desc, partner id asc). */
  def cosTopKEval(vecId: Long, embData: ArrayData, packed: ArrayData,
      k: Int): ArrayData = {
    val emb = embData.toFloatArray()
    val p = tableFor(packed)
    val na = ownNorm(emb)
    val ids = new Array[Long](k)
    val sims = new Array[Double](k)
    var cnt = 0
    @inline def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)
    var j = 0
    while (j < p.n) {
      val pid = p.ids(j)
      if (pid != vecId) {
        val raw = dotWith(emb, p.flat, p.off(j), p.off(j + 1) - p.off(j)) /
          (na * p.norms(j))
        // Raw-value prune: once the top-k is full, a pair whose raw
        // sim is 1e-6 below the k-th rounded sim cannot round into it.
        if (java.lang.Double.isFinite(raw) &&
            (cnt < k || raw >= sims(k - 1) - 1e-6)) {
          val s = round6(raw)
          if (cnt < k || better(s, pid, sims(cnt - 1), ids(cnt - 1))) {
            var pos = if (cnt < k) { cnt += 1; cnt - 1 } else k - 1
            while (pos > 0 && better(s, pid, sims(pos - 1), ids(pos - 1))) {
              sims(pos) = sims(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
            }
            sims(pos) = s; ids(pos) = pid
          }
        }
      }
      j += 1
    }
    new GenericArrayData(Array.tabulate[Any](cnt)(i =>
      new GenericInternalRow(Array[Any](ids(i), sims(i)))))
  }

  /** Static eval body of [[CosNeighbors]] — called from generated code.
    * All forward partners (partner id > vec id) with rounded cosine
    * similarity ≥ threshold. */
  def cosNbrsEval(vecId: Long, embData: ArrayData, packed: ArrayData,
      thr: Double): ArrayData = {
    val emb = embData.toFloatArray()
    val p = tableFor(packed)
    val na = ownNorm(emb)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = 0
    while (j < p.n) {
      val pid = p.ids(j)
      if (pid > vecId) {
        val raw = dotWith(emb, p.flat, p.off(j), p.off(j + 1) - p.off(j)) /
          (na * p.norms(j))
        // Same lossless prune: raw < thr − 1e-6 cannot round to ≥ thr.
        if (java.lang.Double.isFinite(raw) && raw >= thr - 1e-6) {
          val s = round6(raw)
          if (s >= thr) out += new GenericInternalRow(Array[Any](pid, s))
        }
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Base for the packed-vector cosine kernels: one scan per input row
    * over the whole broadcast-packed vector table (an array of
    * struct(vec_id, nrm, embedding) sitting in ONE build-side row), with
    * the dot products running in a tight JVM loop over unsafe array
    * data. This replaces the BroadcastNestedLoopJoin-Cross plan whose
    * cost was dominated by materializing n² joined rows (each copying
    * two 64-float arrays), not by the arithmetic.
    *
    * NaN semantics: pairs with a non-finite similarity (zero-norm or
    * NaN-containing vectors) are skipped — a deliberate choice, since
    * Spark (NaN sorts greatest) and DuckDB disagree on NaN ordering
    * anyway. The corpus contains no such vectors; if one ever appears,
    * the oracle needs a matching NaN filter.
    *
    * The packed child (children(2)) must be the same broadcast constant
    * for every input row — a single-row global collect_list joined on a
    * constant key, as the registration site documents. The per-thread
    * cache is content-checked against every (id, nrm) entry, so a
    * different pack always decodes fresh.
    *
    * Scale path: the packed side must fit in a broadcast (~1 GB / ~1 M
    * vectors); beyond that the bucketed `llm_ann_lsh` plan is the
    * production shape for similarity search at 100 TB.
    */
  abstract class CosKernel extends Expression {
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(pairStruct, containsNull = false)
    override def foldable: Boolean = false

    /** Name of the static helper the generated code calls. */
    protected def staticName: String

    /** The scalar 4th argument (k or threshold) as a Java literal. */
    protected def extraJavaLiteral: String

    protected def evalWith(vecId: Long, emb: ArrayData, packed: ArrayData): Any

    override def eval(input: InternalRow): Any = {
      val vecId = children(0).eval(input).asInstanceOf[Long]
      val emb = children(1).eval(input).asInstanceOf[ArrayData]
      val packed = children(2).eval(input).asInstanceOf[ArrayData]
      evalWith(vecId, emb, packed)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val idCode = children(0).genCode(ctx)
      val embCode = children(1).genCode(ctx)
      val packCode = children(2).genCode(ctx)
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code = code"""
        ${idCode.code}
        ${embCode.code}
        ${packCode.code}
        $javaType ${ev.value} = graft.functions.VectorExprs.$staticName(
          ${idCode.value}, ${embCode.value}, ${packCode.value}, $extraJavaLiteral);""",
        isNull = FalseLiteral)
    }
  }

  /** Per-row top-k cosine partners over ALL other vectors, ordered by
    * (rounded sim desc, partner id asc). Exactness argument for global
    * top-k pairs: if pair (x,y) is in the global top-k, at most k-1
    * pairs rank above it, in particular at most k-1 involving x — and
    * partner-id-asc equals global-lex order among x's equal-sim pairs —
    * so y is always within x's first k partners. The caller explodes,
    * keeps x < y, and takes the global ordered limit. */
  case class CosTopK(children: Seq[Expression]) extends CosKernel {
    private lazy val k = children(3).eval(null) match {
      case n: Number => n.intValue()
      case d: Decimal => d.toInt
    }
    override protected def staticName: String = "cosTopKEval"
    override protected def extraJavaLiteral: String = k.toString
    override protected def evalWith(vecId: Long, emb: ArrayData,
        packed: ArrayData): Any = cosTopKEval(vecId, emb, packed, k)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(c)
  }

  /** All forward partners (partner id > vec id) with rounded cosine
    * similarity ≥ threshold — the exact near-dup pair scan without pair
    * row materialization. */
  case class CosNeighbors(children: Seq[Expression]) extends CosKernel {
    private lazy val thr = children(3).eval(null) match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
    }
    override protected def staticName: String = "cosNbrsEval"
    override protected def extraJavaLiteral: String =
      java.lang.Double.toString(thr)
    override protected def evalWith(vecId: Long, emb: ArrayData,
        packed: ArrayData): Any = cosNbrsEval(vecId, emb, packed, thr)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(c)
  }

  /** Name → builder for every native expression, part of the one
    * function list ([[graft.GraftSession.functions]]) that the
    * per-session install and [[graft.GraftExtensions]] register.
    *
    * Constraint on the cosine kernels: the 3rd argument (the packed
    * vector table) MUST be a single broadcast constant per query — the
    * per-thread decode cache is keyed on full (id, nrm) content, so a
    * genuinely varying pack still evaluates correctly but decodes per
    * row (quadratic decode cost, not wrong answers). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => FloatDot(exprs(0), exprs(1))),
    "graft_ddot" -> (exprs => DoubleDot(exprs(0), exprs(1))),
    "graft_minhash_bands" -> (exprs => MinHashBands(exprs.head)),
    "graft_minhash_slots" -> (exprs => MinHashSlots(exprs.head)),
    "graft_bands_from_slots" -> (exprs => BandsFromSlots(exprs.head)),
    "graft_cos_topk" -> (exprs => CosTopK(exprs)),
    "graft_cos_nbrs" -> (exprs => CosNeighbors(exprs)),
    "graft_chargram_hashes" -> (exprs => CharGramHashes(exprs(0), exprs(1))),
    "graft_wordshingle_hashes" ->
      (exprs => WordShingleHashes(exprs(0), exprs(1))),
    "graft_rademacher_bucket" -> (exprs => RademacherBucket(exprs.head)),
    "graft_simhash62" -> (exprs => SimHash62(exprs.head)),
    "graft_rollhash" -> (exprs => RollHash(exprs(0), exprs(1))),
    "graft_marker_hits" -> (exprs => MarkerHits(exprs(0), exprs(1)))
  )

  /** Installs graft into `spark`: the same as `graft.GraftSession(spark)`. */
  def register(spark: SparkSession): Unit = graft.GraftSession(spark): Unit
}
