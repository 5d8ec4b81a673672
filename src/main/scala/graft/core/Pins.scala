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
  * for the session (the memoized churn dataset), an RDD until it is
  * garbage-collected.
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
    requireConsumable(ds, "pin() input")
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

  /** Register an eagerly-checkpointed Dataset for release at the
    * innermost scope's exit (no scope → not released here; the blocks
    * go when the checkpoint RDD is garbage-collected). This is how an
    * iterative operator's FINAL checkpoint — the one round the
    * rotation can't release, because the returned frame reads it —
    * gets released once the caller's scope closes.
    *
    * Same safety contract as [[releaseCheckpoint]]: the scope must
    * materialize every consumer of the returned frame before it exits
    * — a truncated-lineage block can never recompute ("consume the
    * result inside the scope").
    *
    * HAZARD (scope nesting): registration is with the INNERMOST scope
    * on the current thread. If an operator returning a
    * checkpoint-backed frame is ever invoked inside a narrower
    * internal `scoped` block, the blocks are released at that inner
    * scope's exit and the caller's later consumption fails — the
    * frame must escape no scope narrower than its consumers. Released
    * ids are tombstoned ([[requireConsumable]]) so the failure names
    * the contract instead of surfacing as a block-manager error.
    */
  def pinCheckpoint(ds: Dataset[_]): Unit =
    current.get().headOption.foreach(_.add(() => releaseCheckpoint(ds)))

  // ---- use-after-release tombstones -------------------------------
  // RDD ids of checkpoints released through releaseCheckpoint (state
  // rotation AND scope-exit checkpoint pins). A released local checkpoint's
  // lineage is truncated, so any later execution over it dies deep in
  // the block manager with a generic "block not found" that names
  // neither the operator nor the contract; the tombstones let the
  // entry points that stale frames cross (bridge.rebind, [[pin]])
  // fail loudly with the fix in the message instead. Bounded ring —
  // ids are context-unique and never reused, so there are no ID-REUSE
  // false positives; eviction only ever FORGETS an old release (back
  // to the generic error), never misreports a live one. (The check is
  // a LINEAGE property, not a cache one — see the caveat on
  // [[requireConsumable]].)
  private val TombstoneCap = 4096
  private val tombstoneRing =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // ring occupancy tracked explicitly: ConcurrentLinkedQueue.size() is
  // an O(n) traversal, so calling it per released checkpoint turns the
  // eviction loop quadratic once the ring sits near the cap
  private val tombstoneCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val tombstones =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // RDD ids restart at 0 per SparkContext, so the key carries the
  // context's epoch-unique startTime — a tombstone can never flag an
  // RDD of a LATER context that happens to reuse the integer id.
  private def tombstoneKey(rdd: RDD[_]): String =
    s"${rdd.context.startTime}:${rdd.id}"

  private def recordTombstone(rdd: RDD[_]): Unit = {
    val key = tombstoneKey(rdd)
    if (tombstones.add(key)) {
      tombstoneRing.add(key)
      // count races concurrent adds at worst into harmless transient
      // over-eviction (one extra old entry forgotten), never a miss
      if (tombstoneCount.incrementAndGet() > TombstoneCap) {
        val old = tombstoneRing.poll()
        if (old != null) { tombstoneCount.decrementAndGet(); tombstones.remove(old) }
      }
    }
  }

  private def lineageHitsTombstone(rdd: RDD[_],
                                   seen: scala.collection.mutable.Set[Int]): Option[Int] =
    if (!seen.add(rdd.id)) None
    else if (tombstones.contains(tombstoneKey(rdd))) Some(rdd.id)
    else rdd.dependencies.iterator
      .flatMap(d => lineageHitsTombstone(d.rdd, seen)).nextOption()

  /** First released-checkpoint RDD id reachable from `ds`'s plan
    * (LogicalRDD leaves and their lineage — a re-bound frame's leaf is
    * a DERIVED scan over the checkpoint RDD, so the walk follows
    * dependencies; checkpoint lineage is truncated, keeping it
    * shallow). None → every checkpoint under `ds` is still live.
    */
  def releasedCheckpointIn(ds: Dataset[_]): Option[Int] = {
    if (tombstones.isEmpty) return None // nothing released yet: no walk
    val seen = scala.collection.mutable.Set.empty[Int]
    ds.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.iterator.flatMap(lineageHitsTombstone(_, seen)).nextOption()
  }

  /** Fail loudly — naming the operator contract and the fix — when
    * `ds` reads a checkpoint that state rotation or a pin-scope exit
    * already released. Called where stale frames cross operator
    * boundaries (bridge.rebind, [[pin]]); also a standalone debug
    * helper for diagnosing a raw "block not found".
    *
    * CAVEAT (conservative by design): the walk is a LINEAGE property —
    * it is blind to CacheManager coverage. A frame whose lineage roots
    * in a released checkpoint but whose subtree is fully served by a
    * live InMemoryRelation pin would execute fine off the cache, yet
    * is rejected here; cache entries are evictable, so treating a
    * cache hit as consumability would make the check load-dependent
    * (pass under memory headroom, "block not found" under pressure).
    * No in-repo call path pins/rebinds over released lineage, but
    * library callers composing their own scopes may hit this: keep
    * the checkpoint live until its cached consumers are materialized
    * (the documented scope contract), exactly as the error says.
    */
  def requireConsumable(ds: Dataset[_], what: String = "frame"): Unit =
    releasedCheckpointIn(ds).foreach { id =>
      throw new IllegalStateException(
        s"$what is backed by a local checkpoint (RDD $id) that was " +
          "already released at pin-scope exit or by state rotation — a " +
          "truncated-lineage checkpoint cannot recompute, so this frame " +
          "is permanently dead (Spark would fail with a generic 'block " +
          "not found' at execution). Consume an operator's result inside " +
          "the Pins.scoped block that produced it.")
    }

  /** Release the cached blocks of a locally-checkpointed Dataset —
    * the per-iteration STATE ROTATION primitive for the k-means
    * quantizer, the one iterative operator that still checkpoints
    * (the RDD kernels rotate persists through `Rounds`). Without
    * rotation a 20-round loop leaves 20 superseded checkpoint RDDs in the
    * storage pool; at scale the pool saturates and every block
    * unroll fights task execution for the ONE UnifiedMemoryManager
    * monitor (jstack on the sf10 board's slow PageRank runs: 18–30
    * of 32 task threads BLOCKED in acquireExecutionMemory /
    * reserveUnrollMemoryForThisTask while guest CPUs sat idle).
    *
    * A checkpointed Dataset's plan is a bare LogicalRDD over the
    * checkpoint RDD (possibly under later projections), so the RDD
    * is recovered from the analyzed plan and unpersisted directly —
    * `Dataset.unpersist` can't reach it (checkpoint blocks never
    * enter the CacheManager, so there is no entry to poison either).
    *
    * SAFETY: only call once every consumer of `ds` has been
    * materialized into its own (eager) checkpoint or count — a
    * locally-checkpointed RDD's lineage is truncated, so an
    * unpersisted block can never be recomputed. Anything still lazy
    * over `ds` will throw on next execution.
    */
  def releaseCheckpoint(ds: Dataset[_]): Unit = {
    val rdds = ds.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    // Exactly ONE LogicalRDD by contract: every caller passes a single
    // eagerly-checkpointed dataset (possibly under later projections).
    // A plan with several — e.g. a JOIN of two checkpoints — would
    // silently release a still-live sibling whose truncated lineage
    // can never recompute ("block not found" far from the bug), so
    // misuse fails loudly here instead.
    require(rdds.size == 1,
      s"releaseCheckpoint expects exactly one checkpoint RDD in the plan, " +
        s"found ${rdds.size} — pass the checkpointed dataset itself, not a " +
        "composition of checkpoints")
    rdds.foreach { r => recordTombstone(r); r.unpersist(blocking = false) }
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
