package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a result: row count plus the sum and the
  * xor of per-row hashes. Doubles are hashed at 10 significant digits,
  * the canonical form the DuckDB oracle compare uses, so a last-bit
  * difference in a float sum does not read as a different result. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  /** Run the result's physical plan and digest every row it yields: the
    * in-place sink the non-writing workloads use. */
  def consume(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var d = empty
      it.foreach { r =>
        val h = row(r, schema)
        d = Digest(d.rows + 1, d.sum + mix(h), d.xor ^ h)
      }
      Iterator.single(d)
    }.collect().foldLeft(empty)(_ + _)
  }

  private def mix(x: Long): Long = {
    var z = x ^ (x >>> 33)
    z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33
    z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, dt), dt)))
      i += 1
    }
    h
  }

  private def double(x: Double): Long =
    if (x == 0.0 || x.isNaN || x.isInfinite) java.lang.Double.doubleToLongBits(x + 0.0)
    else {
      val e = math.floor(math.log10(math.abs(x))).toInt
      math.round(x / math.pow(10, e - 9)) * 1000L + e
    }

  private def array(a: ArrayData, et: DataType): Long = {
    var h = 23L
    var i = 0
    while (i < a.numElements()) {
      h = mix(h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et)))
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = dt match {
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case StringType =>
      val s = v.asInstanceOf[UTF8String]
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) => array(v.asInstanceOf[ArrayData], et)
    case MapType(kt, vt, _) =>
      // entry order is not part of a map's value
      val m = v.asInstanceOf[MapData]
      var h = 29L
      var i = 0
      while (i < m.numElements()) {
        val kh = value(m.keyArray().get(i, kt), kt)
        val vh = if (m.valueArray().isNullAt(i)) 0x5bd1e995L
          else value(m.valueArray().get(i, vt), vt)
        h += mix(kh * 31 + vh)
        i += 1
      }
      h
    case _ => v match {
      case n: java.lang.Number => n.longValue()
      case o => o.toString.hashCode.toLong
    }
  }
}
