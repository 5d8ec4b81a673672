package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache the engine takes: nothing else in
  * `src/main` persists or unpersists (a source-scan spec enforces it).
  *
  * Why this exists: operators persist load-bearing intermediates
  * (shingle sets, minhash signatures, LSH candidates, fitted
  * baselines, shared training prep). Sweeping those pins via
  * `SparkContext.getPersistentRDDs` + `RDD.unpersist` drops the cached
  * blocks but leaves the entry in Catalyst's CacheManager. The entry is
  * then poison twice over: a LATER identical plan's `.persist()` is a
  * silent no-op ("already cached") against a relation whose storage
  * level can never be re-enabled, and plan substitution keeps routing
  * scans through the dead InMemoryRelation (recompute + columnar
  * re-encode per scan, nothing stored). Measured: q_dedup_ngram_jaccard
  * ran its WARM runs slower than cold (2.1 s vs 1.5 s) because
  * q_dedup_cc — which pins the same capped-shingle plan — ran first and
  * its sweep left the dead entry. `Dataset.unpersist` is the only
  * release that removes the CacheManager entry, so plan caches are
  * released through the Dataset handle.
  *
  * Ownership is REFCOUNTED per cache entry: every scope that pins a
  * plan (or RDD) holds one reference, the check-and-persist runs under
  * one lock, and the entry is unpersisted only when its last holder
  * releases. Concurrently-evaluated Hyperband configs pin the same
  * tensorized test split; the first to finish no longer drops it from
  * under a sibling that is still scoring, and no two of them persist
  * it twice.
  *
  * Holders are scopes: [[scoped]] releases its pins when its block
  * ends, [[held]] hands the release to the caller (shared training
  * prep, a fitted model's baseline, a loop's superseded round). Scopes
  * are a per-thread stack, so concurrent configs (each in its own
  * scope on its own thread) release exactly their own pins. A pin
  * taken outside any scope is never released here: a plan stays cached
  * for the session, an RDD until it is garbage-collected. (The
  * memoized churn dataset keeps its pins the same way, under a [[held]]
  * release it never calls.)
  *
  * Pins are persists, not checkpoints: a released block can still be
  * recomputed from lineage, so a frame consumed after its scope has
  * released its pins recomputes instead of failing. This is the
  * engine's only state lifecycle; nothing in `src/main` takes a local
  * checkpoint. A recompute repeats the plan, not the physical layout:
  * a frame whose values depend on how a pinned range exchange split
  * its rows (`StableOrder`'s row numbers) must keep its pins while it
  * is read.
  */
object Pins {

  // A cached plan (keyed by its normalized plan) or RDD (keyed by
  // itself) and the number of scopes holding it.
  private final class Entry(val key: AnyRef, val drop: () => Unit) {
    var holders = 0
  }

  // Live entries. `lock` guards them and every persist and release, so
  // a check-and-persist can never race another one.
  private val lock = new Object
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  // Plans match the way the CacheManager matches them; RDDs by identity.
  private def sameKey(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (p: LogicalPlan, q: LogicalPlan) => p.sameResult(q)
    case _                                => a eq b
  }

  private final class Scope {
    private val releases =
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    def add(release: () => Unit): Unit = { releases.add(release); () }
    // draining poll: a second release() finds nothing left to drop
    def release(): Unit =
      Iterator.continually(releases.poll()).takeWhile(_ != null).foreach(_())
  }

  // Innermost active scope per thread. Plain ThreadLocal, NOT
  // inheritable: pooled worker threads are created once and reused, so
  // an inherited stack would freeze whatever scope happened to be
  // active at thread creation and leak every later pin into it. Each
  // worker opens its own scope (Hyperband's parallel rung evaluation
  // wraps every config in Pins.scoped on its evaluation thread).
  private val current = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  // Persist unless already cached, then take one reference for the
  // innermost scope: on the live entry for `key`, on a new entry when
  // this call persisted, on nothing when the cache belongs to someone
  // outside Pins (theirs to release). Unscoped: persist only.
  private def acquire(key: AnyRef, cached: => Boolean)(
      persist: => Any, unpersist: => Any): Unit = lock.synchronized {
    val known = entries.find(e => sameKey(e.key, key))
    val wasCached = cached
    if (!wasCached) persist
    current.get().headOption.foreach { s =>
      if (known.isDefined || !wasCached) {
        val entry = known.getOrElse {
          val e = new Entry(key, () => { unpersist; () })
          entries += e
          e
        }
        entry.holders += 1
        s.add(() => lock.synchronized {
          entry.holders -= 1
          if (entry.holders == 0) { entries -= entry; entry.drop() }
        })
      }
    }
  }

  /** Persist `ds` (unless its plan is already cached) and take a
    * reference on the cache for the innermost scope on this thread.
    *
    * Idempotent per canonical plan: a plan a sibling scope already
    * pinned gains one more holder instead of a second `.persist()`
    * (which would no-op with a "Asked to cache already cached data"
    * warning). A plan cached by someone outside Pins stays theirs.
    */
  def pin[T](ds: Dataset[T],
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    // analysed before taking the lock
    val plan = ds.queryExecution.normalized
    acquire(plan, org.apache.spark.sql.graft.bridge.isCached(ds))(
      ds.persist(level), ds.unpersist(blocking = true))
    ds
  }

  /** Pin `ds`, then globally order it — for queries whose FINAL
    * orderBy sits on an expensive exchange-free frontier. A global
    * sort is a range exchange, and RangePartitioner first runs a
    * SAMPLE job over the full child output to pick bounds, then the
    * real shuffle executes the child AGAIN. Below-frontier shuffle
    * stages are reused (AQE materializes them), but everything ABOVE
    * the last exchange — a cartesian pair predicate, a codec decode,
    * a scan-fused scoring projection — executes twice per run.
    * Pinning the frontier makes the sample pass populate the cache
    * and the shuffle pass read it: the dominant work runs once.
    * (jstack-verified on the sf10 board: q_dedup_embed_cos's
    * RangePartitioner sample sat inside CartesianProductExec.)
    */
  def sortedOnce[T](ds: Dataset[T],
                    cols: org.apache.spark.sql.Column*): Dataset[T] =
    pin(ds).orderBy(cols: _*)

  /** RDD-level twin of [[pin]] for genuine RDD persists (per-partition
    * training accumulators etc.), which never enter the CacheManager.
    */
  def pinRdd[T](rdd: RDD[T],
                level: StorageLevel = StorageLevel.MEMORY_AND_DISK): RDD[T] = {
    acquire(rdd, rdd.getStorageLevel != StorageLevel.NONE)(
      rdd.persist(level), rdd.unpersist(blocking = true))
    rdd
  }

  /** Hand a pin on `rdd` that [[held]] returned with `release` over to
    * the innermost scope on this thread: that scope takes a reference,
    * then `release` drops the held one, so the cache stays live
    * throughout. Unscoped, the held reference is forgotten instead: the
    * RDD stays persisted, as an unscoped [[pinRdd]] leaves it, until it
    * is garbage-collected. Do not call `release` afterwards.
    */
  def adopt[T](rdd: RDD[T], release: () => Unit): RDD[T] = lock.synchronized {
    if (current.get().nonEmpty) { pinRdd(rdd); release() }
    else entries.find(_.key eq rdd).foreach(entries -= _)
    rdd
  }

  /** Run `f` in a fresh scope and return its result with the scope's
    * release instead of running it: the caller decides when the pins
    * taken during `f` on THIS thread are dropped (each one only once
    * its last holder lets go). Calling the release again does nothing.
    * If `f` throws, its pins are released before the exception leaves.
    * Pins taken on other threads (including threads `f` spawns) are
    * not in this scope: `current` is deliberately non-inheritable (see
    * its comment), so each worker thread opens its own scope.
    */
  def held[T](f: => T): (T, () => Unit) = {
    val s = new Scope
    current.set(s :: current.get())
    try (f, () => s.release())
    catch { case t: Throwable => s.release(); throw t }
    finally current.set(current.get().filterNot(_ eq s))
  }

  /** Run `f` in a fresh scope; the pins taken during `f` on this
    * thread are released when `f` finishes ([[held]] plus an immediate
    * release).
    */
  def scoped[T](f: => T): T = {
    val (out, release) = held(f)
    release()
    out
  }
}
