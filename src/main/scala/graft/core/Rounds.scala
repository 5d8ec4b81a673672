package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The scaffold of the engine's iterative RDD kernels (PageRank and
  * connected components): one [[HashPartitioner]], a pinned
  * partitioned input, and a per-key state that rotates under
  * [[Pins.held]] at one job per state.
  *
  * [[Rounds.run]] pins the rows as read and counts them (one job; the
  * count sizes the partitioner), then hash-partitions `spread(rows)`
  * and pins that too: the loop's invariant input, which every round
  * reads through `zipPartitions` with a state on the same partitioner.
  * [[settle]] is a round's one job: it pins the new state and
  * materialises it while folding a summary over its partitions, then
  * releases the state before it. The state the body returns backs the
  * result, so its pin moves to the caller's scope ([[Pins.adopt]]);
  * the input pins go when the body is done. If the body throws, every
  * pin is released.
  *
  * Pins are persists, not checkpoints: a released block can still be
  * recomputed from lineage, which grows by one round per state.
  */
final class Rounds[K, E] private (val part: HashPartitioner,
                                  val input: RDD[(K, E)],
                                  releaseIngest: () => Unit) {
  private var releaseState: () => Unit = () => ()
  private var last: RDD[_] = null

  /** Release the rows as read once `input` is materialised (a no-op
    * after the first call; the loop's end releases them anyway).
    */
  def dropIngest(): Unit = releaseIngest()

  /** One job: pin `state`, materialise it while folding `sum` over each
    * partition and `plus` across them, then release the previous
    * settled state.
    */
  def settle[V, S: ClassTag](state: RDD[(K, V)])(sum: Iterator[(K, V)] => S)(
      plus: (S, S) => S): (RDD[(K, V)], S) = {
    val ((pinned, summary), release) = Pins.held {
      val p = Pins.pinRdd(state)
      (p, p.mapPartitions(it => Iterator.single(sum(it))).reduce(plus))
    }
    releaseState()
    releaseState = release
    last = pinned
    (pinned, summary)
  }
}

object Rounds {

  /** Run `body` over `rows` partitioned by a [[HashPartitioner]] of
    * `width(rows.count())` partitions; `spread` maps the rows as read
    * to the keyed input (both edge directions, say). `body` must return
    * the last state it settled.
    */
  def run[K: ClassTag, E: ClassTag, V](rows: RDD[(K, E)], width: Long => Int,
                                       spread: RDD[(K, E)] => RDD[(K, E)] = (r: RDD[(K, E)]) => r)(
      body: Rounds[K, E] => RDD[(K, V)]): RDD[(K, V)] = {
    val ((ingest, n), releaseIngest) = Pins.held {
      val r = Pins.pinRdd(rows)
      (r, r.count())
    }
    var releaseInput: () => Unit = () => ()
    var loop: Rounds[K, E] = null
    try {
      val part = new HashPartitioner(width(n))
      val (input, release) = Pins.held(Pins.pinRdd(spread(ingest).partitionBy(part)))
      releaseInput = release
      loop = new Rounds(part, input, releaseIngest)
      val out = body(loop)
      require(out eq loop.last, "Rounds.run: the body must return its last settled state")
      Pins.adopt(out, loop.releaseState)
      loop.releaseState = () => ()
      out
    } finally {
      if (loop != null) loop.releaseState()
      releaseInput()
      releaseIngest()
    }
  }
}
