package graft.core

import org.apache.spark.Partitioner
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types._

/** Grouping keys as the RDD kernels carry them: Catalyst's internal
  * values (UTF8String for strings; floating keys with -0.0 and NaN
  * folded the way Spark folds join and grouping keys), ordered the way
  * Spark SQL's `<`, `min` and `least` order them. A null key stays
  * null, so it groups as `groupBy` groups it. Other column types
  * (binary, arrays, structs, maps) are rejected, naming the type.
  */
private[graft] final case class Key(dt: DataType) {
  require(dt match {
    case _: NumericType | _: StringType | BooleanType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }, s"ids and grouping keys must be numbers, strings, booleans, dates or timestamps, got $dt")
  @transient lazy val ord: Ordering[Any] = PhysicalDataType.ordering(dt)
  @transient private lazy val toScala = CatalystTypeConverters.createToScalaConverter(dt)

  def read(r: InternalRow, i: Int): Any =
    if (r.isNullAt(i)) null
    else dt match {
      case DoubleType =>
        val d = r.getDouble(i)
        if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
      case FloatType =>
        val f = r.getFloat(i)
        if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
      case _ => InternalRow.copyValue(r.get(i, dt))
    }

  def external(v: Any): Any = toScala(v)

  /** `ids` without nulls, sorted by [[ord]]. */
  def sorted(ids: java.util.Collection[Any]): Array[Any] = {
    val out = Array.newBuilder[Any]
    ids.forEach(id => if (id != null) out += id)
    out.result().sorted(ord)
  }
}

/** Partitions pair keys `(k1, k2)` by the hash of `k1` alone, so a
  * `(k, null)` record and every `(k, ·)` record share a partition:
  * a kernel keeps a per-key total beside the key's pairs that way.
  */
private[graft] final case class ByFirst(numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int = key match {
    case (k, _) if k != null =>
      val m = k.hashCode % numPartitions
      if (m < 0) m + numPartitions else m
    case _ => 0
  }
}
