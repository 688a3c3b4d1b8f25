package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-independent content digest of a query result.
  *
  * Every row hashes to 64 bits over all of its columns; rows fold with a
  * wrapping sum and an xor, so neither row order nor partitioning changes
  * the digest, while a lost, duplicated or altered row does. Doubles and
  * floats are rounded to 32 mantissa bits before hashing: a reordered
  * floating-point sum may differ in its last bits between runs, and that
  * is not a wrong answer. */
object Digest {
  final case class D(rows: Long, sum: Long, xor: Long) {
    def +(o: D): D = D(rows + o.rows, sum + o.sum, xor ^ o.xor)
    override def toString: String = f"$rows:$sum%016x:$xor%016x"
  }

  /** Drains `rdd` in its tasks, as a no-op sink would, digesting each
    * row on the way; only one digest per partition is collected. */
  def of(rdd: RDD[InternalRow], types: Array[DataType]): D =
    rdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      while (it.hasNext) {
        val h = row(it.next(), types)
        n += 1; s += h; x ^= h
      }
      Iterator.single(D(n, s, x))
    }.collect().foldLeft(D(0L, 0L, 0L))(_ + _)

  private def mix(h: Long, v: Long): Long = {
    var z = (h ^ v) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 31)) * 0xD6E8FEB86659FD93L
    z ^ (z >>> 32)
  }

  def row(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < types.length) { h = mix(h, value(r, i, types(i))); i += 1 }
    h
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7FF8L
    else if (d == 0.0) 0L
    else {
      val e = java.lang.Math.getExponent(d)
      (e.toLong << 40) ^ java.lang.Math.round(java.lang.Math.scalb(d, 31 - e))
    }

  private def bytes(b: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFF)) * 0x100000001B3L; i += 1 }
    h
  }

  private def value(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) 0x6E756C6CL
    else t match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        r.getLong(i)
      case FloatType => dbl(r.getFloat(i).toDouble)
      case DoubleType => dbl(r.getDouble(i))
      case _: StringType => bytes(r.getUTF8String(i).getBytes)
      case BinaryType => bytes(r.getBinary(i))
      case d: DecimalType =>
        bytes(r.getDecimal(i, d.precision, d.scale).toString.getBytes("UTF-8"))
      case a: ArrayType =>
        val arr = r.getArray(i)
        var h = 0xA77AL
        var j = 0
        while (j < arr.numElements()) { h = mix(h, value(arr, j, a.elementType)); j += 1 }
        h
      case s: StructType => row(r.getStruct(i, s.length), s.fields.map(_.dataType))
      case m: MapType =>
        // entry order inside a map is not part of its value
        val mp = r.getMap(i)
        val (ks, vs) = (mp.keyArray(), mp.valueArray())
        var h = 0x3A9L
        var j = 0
        while (j < mp.numElements()) {
          h += mix(value(ks, j, m.keyType), value(vs, j, m.valueType)); j += 1
        }
        h
      case other => bytes(String.valueOf(r.get(i, other)).getBytes("UTF-8"))
    }
}
