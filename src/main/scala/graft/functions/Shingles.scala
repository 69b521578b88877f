package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The byte ranges of a string's character n-gram shingles, in one pass.
  * Shingle i (1-based) is `t.substringSQL(i, n)` for
  * i = 1 .. max(numChars − n + 1, 1) — the DuckDB oracle's
  * `substr(t, i, n)` shingling. Calling substringSQL per position walks
  * from byte 0 and copies each time, O(L²) on an L-char text; here the
  * start and end offsets each advance one char per shingle, so the walk
  * is O(L) and a hashing caller allocates nothing per shingle.
  * Offsets clamp at numBytes: a string shorter than n is one shingle
  * (the whole string), an empty string one empty shingle.
  *
  * {{{
  * val w = new ShingleWalk(t, n)
  * while (w.next()) use(w.start, w.end)
  * }}}
  */
final class ShingleWalk(t: UTF8String, n: Int) {
  require(n >= 1, s"shingle length must be >= 1, got $n")
  private val limit = t.numBytes
  /** The current shingle's byte range [start, end) within `t`. */
  var start: Int = -1
  var end: Int = 0

  /** Moves to the next shingle; false once the last one was visited. */
  def next(): Boolean =
    if (start < 0) { start = 0; end = skip(0, n); true }
    else if (end >= limit) false
    else { start = skip(start, 1); end = skip(end, 1); true }

  /** The byte offset `k` chars after byte offset `from`, clamped. */
  private def skip(from: Int, k: Int): Int = {
    var i = from
    var c = 0
    while (c < k && i < limit) {
      i += UTF8String.numBytesForFirstByte(t.getByte(i))
      c += 1
    }
    math.min(i, limit)
  }

  /** The current shingle as a copied string. */
  def utf8: UTF8String = {
    val bytes = new Array[Byte](end - start)
    Platform.copyMemory(t.getBaseObject, t.getBaseOffset + start,
      bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    UTF8String.fromBytes(bytes)
  }

  /** xxhash64 (seed 0) of the current shingle's UTF-8 bytes. */
  def xxh64: Long =
    XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset + start, end - start, 0L)

  /** FNV-1a 64 of the current shingle's UTF-8 bytes. */
  def fnv1a64: Long =
    MinHashSigText.fnv1a64(t.getBaseObject, t.getBaseOffset + start, end - start)
}

object ShingleWalk {
  /** How many shingles [[ShingleWalk]] visits. */
  def count(t: UTF8String, n: Int): Int = math.max(t.numChars() - n + 1, 1)
}

/** An open-addressing set of longs: no boxing, no per-insert
  * allocation. Sized for `expected` elements; grows at half full. */
final class LongSet(expected: Int) {
  private var keys = new Array[Long](LongSet.capacity(expected))
  private var used = new Array[Boolean](keys.length)
  private var n = 0

  def size: Int = n

  /** Inserts `v`; true when it was not there before. */
  def add(v: Long): Boolean = {
    var i = slot(v)
    while (used(i)) {
      if (keys(i) == v) return false
      i = (i + 1) & (keys.length - 1)
    }
    keys(i) = v; used(i) = true; n += 1
    if (2 * n > keys.length) grow()
    true
  }

  def contains(v: Long): Boolean = {
    var i = slot(v)
    while (used(i)) {
      if (keys(i) == v) return true
      i = (i + 1) & (keys.length - 1)
    }
    false
  }

  def toArray: Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    var k = 0
    while (i < keys.length) { if (used(i)) { out(k) = keys(i); k += 1 }; i += 1 }
    out
  }

  private def slot(v: Long): Int = (HyperplaneBucket.mix64(v) & (keys.length - 1)).toInt

  private def grow(): Unit = {
    val (oldKeys, oldUsed) = (keys, used)
    keys = new Array[Long](oldKeys.length * 2)
    used = new Array[Boolean](keys.length)
    n = 0
    var i = 0
    while (i < oldKeys.length) { if (oldUsed(i)) add(oldKeys(i)); i += 1 }
  }
}

object LongSet {
  private def capacity(expected: Int): Int =
    Integer.highestOneBit(math.max(2 * expected, 8) - 1) << 1

  def of(vs: Array[Long]): LongSet = {
    val s = new LongSet(vs.length)
    vs.foreach(s.add)
    s
  }
}

/** How many DISTINCT n-char shingles of a string hash into a fixed set
  * of xxhash64 values — the decontamination probe. The eval side's
  * shingle hashes ride in the expression (a few hundred KB for a
  * benchmark-sized eval set), fold into a [[LongSet]] once per task,
  * and each train row is one [[ShingleWalk]] that hashes its shingles'
  * bytes exactly as [[CharShingleHashes]] does: so the count equals
  * |distinct(char_shingle_hashes(t, n)) ∩ hashes| — what an explode and
  * an equi-join on the hash would count, collisions included — with no
  * per-shingle row and no join. A null string counts 0. */
case class ShingleHits(child: Expression, n: Int, hashes: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${t.sql}")
  }

  @transient private lazy val set = LongSet.of(hashes)

  /** Distinct shingles of `t` in the set; 0 for null. */
  def count(t: UTF8String): Long = {
    if (t == null || set.size == 0) return 0L
    var hits: LongSet = null
    val w = new ShingleWalk(t, n)
    while (w.next()) {
      val h = w.xxh64
      if (set.contains(h)) {
        if (hits == null) hits = new LongSet(16)
        hits.add(h)
      }
    }
    if (hits == null) 0L else hits.size.toLong
  }

  override def eval(input: InternalRow): Any =
    count(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHits", this, classOf[ShingleHits].getName)
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${c.code}
        long ${ev.value} = $ref.count(${c.isNull} ? null : ${c.value});
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHits =
    copy(child = newChild)
}
