package graft.core

import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The engine's one per-partition carry scan: a per-partition summary
  * pass ([[partials]]), a prefix over those summaries on the driver,
  * then a pass that seeds each partition with its carry ([[seeded]]).
  * This is how the Kaplan–Meier curve, RMST, the step lookup, the
  * Breslow baseline and the Cox likelihood compute running sums and
  * products over range-partitioned rows without a single-partition
  * ordered window, and how Harrell's C counts its comparable and
  * cross-bucket pairs with a per-bucket count vector as the carry.
  *
  * The carries are only right if every pass sees the same rows in the
  * same partitions: a range-partitioned RDD recomputed from its plan
  * would sample new bounds. So the constructor pins `rdd` once with
  * [[Pins.pinRdd]] and every pass reads that one pinned RDD. The pin is
  * released by the enclosing `Pins` scope (unscoped: when the RDD is
  * garbage-collected).
  */
final class CarryScan[R](rdd: RDD[R]) {
  private val rows = Pins.pinRdd(rdd)

  /** One job: `f` of each partition's rows, in partition order (an
    * empty partition gives `f(Iterator.empty)`).
    */
  def partials[S: ClassTag](f: Iterator[R] => S): Array[S] =
    rows.mapPartitions(it => Iterator.single(f(it))).collect()

  /** Lazy: partition p's rows through `f`, seeded with `carries(p)`. */
  def seeded[C, O: ClassTag](carries: Array[C])(f: (C, Iterator[R]) => Iterator[O]): RDD[O] = {
    val n = rows.getNumPartitions
    require(carries.length == n, s"CarryScan.seeded: ${carries.length} carries for $n partitions")
    rows.mapPartitionsWithIndex((pid, it) => f(carries(pid), it))
  }
}
