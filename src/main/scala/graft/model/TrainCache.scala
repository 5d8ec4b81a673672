package graft.model

import java.util.concurrent.ConcurrentHashMap

/** Sharing of config-independent prep across model fits and scores.
  *
  * Every trainer's `fit` starts with the same hyperparameter-FREE
  * prefix — tensorize the train split, fit the scaler / duration cuts,
  * persist the encoded rows. Inside a Hyperband search that prefix was
  * rebuilt (and re-persisted) once per evaluated config: a rung of 27
  * configs paid 27 identical tensorize+standardize jobs for at most 3
  * distinct results (one per model family). At 100 TB the prep is a
  * full pass over the train split, so the rebuild count — not the
  * training math — dominates rung cost. Scoring has the same shape:
  * every config is scored on the same test split, and the split's
  * scoring facts ([[graft.eval.ScoringSplit]]: tensorized test rows,
  * grid, censoring-KM weights, N) do not depend on the
  * config, so [[FittedSurvModel.score]] takes them through [[acquire]]
  * too (key `score_split`).
  *
  * [[sharing]] activates a process-wide memo for the duration of a
  * search ([[graft.automl.Hyperband.selectModel]] wraps itself in it);
  * trainers route their prefix, and `score` its test-split facts,
  * through [[acquire]]. With no sharing active, `acquire` degenerates
  * to running the build — single fits and scores release their own
  * prep when they end.
  * With sharing active, the first config of a family builds and later
  * configs (any rung, any thread) reuse; the scope releases every
  * entry on exit.
  *
  * The build runs in its own [[graft.core.Pins.held]] scope, so its
  * pins belong to the entry, not to the config whose evaluation thread
  * happened to build it: that config's scope can end while other
  * configs still read the entry.
  */
object TrainCache {

  private final case class Entry(value: Any, release: () => Unit)

  // DELIBERATELY process-global (not a ThreadLocal): the memo is
  // installed by the search thread but READ from the pooled worker
  // threads evaluating configs, so per-thread scoping would hide it
  // from exactly the consumers it exists for. The consequence — two
  // CONCURRENT searches would clobber each other's save/restore and
  // release entries the other still reads — is guarded below: at most
  // one sharing scope may be active per JVM (same-thread nesting
  // stays allowed and restores the outer memo).
  @volatile private var memo: ConcurrentHashMap[String, Entry] = null
  @volatile private var owner: Thread = null

  /** Activate sharing for the duration of `f`; releases every cached
    * entry (its pins) on exit. Same-thread
    * nesting restores the outer memo; a concurrent scope from another
    * thread throws (see the memo field comment).
    */
  def sharing[T](f: => T): T = {
    val self = Thread.currentThread()
    val (prevMemo, prevOwner) = synchronized {
      if (memo != null && (owner ne self))
        throw new IllegalStateException(
          s"TrainCache.sharing already active on thread '${owner.getName}' " +
            "— the memo is process-global, one sharing scope per JVM")
      val p = (memo, owner)
      memo = new ConcurrentHashMap[String, Entry]()
      owner = self
      p
    }
    val m = memo
    try f
    finally {
      synchronized { memo = prevMemo; owner = prevOwner }
      m.values.forEach(_.release())
      m.clear()
    }
  }

  /** Build-or-reuse a config-independent prep. `build` runs in a
    * fresh [[graft.core.Pins.held]] scope; returns its value plus the
    * release the caller must invoke when done: outside a sharing scope
    * that drops the build's own pins, inside one it is a no-op and the
    * sharing scope releases at exit.
    */
  def acquire[A](key: String)(build: => A): (A, () => Unit) = {
    val m = memo
    if (m == null) graft.core.Pins.held(build)
    else {
      val e = m.computeIfAbsent(key, _ => {
        val (a, release) = graft.core.Pins.held(build)
        Entry(a, release)
      })
      (e.value.asInstanceOf[A], () => ())
    }
  }

  /** Memo key namespace helper: family + dataset identity. Identity
    * (not content) is correct here — a sharing scope spans one search
    * over one immutable SurvDataset instance.
    */
  def key(family: String, ds: graft.surv.SurvDataset, extra: String = ""): String =
    family + "|" + System.identityHashCode(ds) +
      (if (extra.isEmpty) "" else "|" + extra)
}
