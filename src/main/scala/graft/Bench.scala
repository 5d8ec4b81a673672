package graft
object Bench {
  /** The quadratic-BY-DESIGN parity baselines: each reproduces the
    * reference's all-pairs semantics verbatim and exists so its scale
    * twin (q_cindex_td_sorted, q_dedup_simhash60_pairs_bucketed,
    * q_dedup_embed_lsh) can be measured against it on the same board.
    * At sf1 the first three cost 110 of 300 s while measuring the DATA
    * SHAPE, not the engine — so scale rehearsals (sf1+) may skip them
    * via `--parity-baselines=skip`.
    * The default board (and every correctness gate) runs them.
    *
    * Round-13 additions, each measured super-linear on the sf10 board
    * with its scale twin green beside it: q_dedup_embed_cos (all-pairs
    * cosine cartesian — 2×10¹⁰ interpreted predicate evaluations at
    * 200k vectors; twin q_dedup_embed_lsh), q_cindex (Harrell via the
    * all-pairs join — 55 s at sf10; twin q_cindex_sorted), and the two
    * FIXED-8-cell semdedup configs (25k-vector cells at sf10 put 5×10⁹
    * dot products through the within-cell witness join — 518 s; twin
    * q_sim_semdedup_auto sizes cells to ~1k vectors from a corpus
    * count), and q_dedup_embed_lsh's FIXED 4-plane config (16 buckets
    * of 12.5k vectors at sf10 — 370 s; twin q_dedup_embed_lsh_auto
    * sizes planes so expected occupancy stays ~500).
    */
  private val ParityBaselines =
    Set("q_cindex_td", "q_dedup_simhash_pairs", "q_dedup_simhash_pairs_bucketed",
      "q_dedup_embed_cos", "q_cindex", "q_sim_semdedup", "q_sim_semdedup_kmeans",
      "q_dedup_embed_lsh")

  /** One measured run: wall seconds + the cluster-side logical metrics
    * that classify a wall-time mover without re-running anything —
    * flat cpu/tasks with a ballooning wall is host scheduling, not the
    * engine (the measurement contract in BASELINE.md). Failure
    * sentinel: wall = -1, metrics zeroed.
    */
  private final case class Obs(wall: Double, cpuS: Double,
                               spillMB: Long, tasks: Long)
  private val Failed = Obs(-1.0, 0.0, 0L, 0L)
  private val Unmeasured = Obs(Double.MaxValue, 0.0, 0L, 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val skipParity = args.contains("--parity-baselines=skip")
    if (skipParity)
      System.err.println("[bench] skipping parity baselines: " +
        ParityBaselines.toSeq.sorted.mkString(", "))
    val spark = Session.builder("graft-bench").getOrCreate()
    // Task-metrics listener, always on (one atomic-add per task end):
    // every reported warm number carries its execCpu/spill/tasks
    // decomposition so a between-rounds mover can be classified from
    // the bench artifact alone instead of re-litigating host drift.
    val listener = new graft.tools.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def measure(f: => Unit): Obs = {
      // drain before both snaps: listener dispatch is async even in
      // local mode — tail onTaskEnd events must not cross run windows
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      val (_, c0, _, _, s0, n0) = listener.snap()
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      val (_, c1, _, _, s1, n1) = listener.snap()
      Obs(wall, (c1 - c0) / 1e9, (s1 - s0) / 1000000L, n1 - n0)
    }
    def minByWall(a: Obs, b: Obs): Obs = if (a.wall <= b.wall) a else b
    // shared-input setup (stable-order churn dataset build + encoder
    // fits), memoized across queries — timed once, reported as _setup
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // -1 sentinel on failure: the elapsed-until-throw value would be
    // SMALLER than a healthy setup and make the headline improve when
    // setup crashed (the invariant below: failures never help totals)
    val setupObs =
      try measure { graft.surv.ChurnView.dataset(spark, sfDir); () }
      catch {
        case e: Throwable =>
          failed += "_setup"
          System.err.println(s"[bench] _setup FAILED: $e")
          Failed
      }
    // Each query runs three times: the first (cold) pays JIT/codegen
    // warmup (single-shot numbers moved 3-16x between identical-code
    // rounds purely from warmup order); the reported warm time is the
    // MIN of the two post-cold runs — a single GC/scheduler spike on
    // one run (observed up to 6x on untouched queries) then can't
    // pollute the headline. Cold is reported alongside in
    // `queries_cold` so differently-measured rounds stay comparable.
    // A failed query reports -1 and is excluded from the total so the
    // headline can't improve when queries crash.
    // Operators persist intermediates (shingle sets, signatures, …)
    // and those blocks outlive the query: by late bench the block
    // manager was full of dead cache (round-2's 138 s minhash outlier
    // was this — 13 s in a fresh JVM). Release each query's OWN
    // persists after measuring it (Pins.scoped); setup-level caches
    // (the stable-order churn dataset) were pinned outside any scope,
    // so they survive every query.
    def once(name: String): Obs = measure {
      // execute the EXACT planned query: df.count() would let Catalyst
      // column-prune the measured work (a projection-shaped query like
      // q_text_tokens times as a bare scan with its token expressions
      // optimized away); driving the already-planned physical tree
      // pays every projection, expression, and sort the query declares
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.execute().count()
      ()
    }
    val benchQueries =
      if (skipParity) SparkEntry.queries.view.filterKeys(
        !ParityBaselines(_)).toMap
      else SparkEntry.queries
    val measured = benchQueries.map { case (name, _) =>
      val (cold, warm) = graft.core.Pins.scoped {
        try {
          val c = once(name)
          (c, minByWall(once(name), once(name)))
        } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: $e")
            (Failed, Failed)
        }
      }
      // cache-state drift diagnostic: entry count after the sweep
      // should stay flat at the setup-cache size for the whole run
      System.err.println(f"[bench] $name cold=${cold.wall}%.2f " +
        f"warm=${warm.wall}%.2f " +
        s"cacheEntries=${spark.sparkContext.getPersistentRDDs.size}")
      name -> (cold, warm)
    }
    // Outlier guard: warm-min-of-2 cannot reject a transient (GC / IO /
    // co-tenant pressure) that spans BOTH warm runs — round 7 recorded
    // q_cindex at 8.91 s where identical code re-ran at 0.45 s. A warm
    // min that exceeds max(2×cold, cold+1 s) is physically suspect
    // (warm has strictly less work than cold: JIT and codegen caches
    // are hot), so those queries get ONE re-measure at the END of the
    // run — far from whatever disturbed their window — and report the
    // min of all observations.
    val guarded = measured.map { case (name, (cold, warm)) =>
      if (cold.wall >= 0 &&
          warm.wall > math.max(2.0 * cold.wall, cold.wall + 1.0)) {
        val re = graft.core.Pins.scoped {
          try once(name)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name re-measure FAILED: $e")
            Unmeasured
          }
        }
        System.err.println(f"[bench] $name warm outlier " +
          f"(cold=${cold.wall}%.2f warm=${warm.wall}%.2f) " +
          f"re-measured=${re.wall}%.2f")
        name -> (cold, minByWall(warm, re))
      } else name -> (cold, warm)
    }
    // End-of-run settle pass: a transient (GC / IO / co-tenant
    // pressure) spanning a query's ENTIRE measurement window — cold
    // and both warm runs — defeats both the min-of-2 and the outlier
    // guard above (the r8 driver run recorded 6.63 s for a 0.2 s
    // single-shuffle aggregate this way; cold was equally polluted so
    // the warm>2×cold test never fired). Every query still reading
    // ≥ 1 s gets ONE more measurement at the end of the run, far from
    // its original window; the min of all observations is reported.
    // Bounded cost: only the handful of genuinely-slow queries pay it.
    val results = guarded.map { case (name, (cold, warm)) =>
      if (cold.wall >= 0 && warm.wall >= 1.0) {
        val re = graft.core.Pins.scoped {
          try once(name)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name settle FAILED: $e")
            Unmeasured
          }
        }
        if (re.wall < warm.wall)
          System.err.println(
            f"[bench] $name settle ${warm.wall}%.2f -> ${re.wall}%.2f")
        name -> (cold, minByWall(warm, re))
      } else name -> (cold, warm)
    } ++ Map("_setup" -> (setupObs, setupObs))
    // Two decimals keeps the headline line short: the driver recovers
    // the metric line from a bounded (~2 kB) tail of stdout, and the
    // round-4 line — with full-precision doubles AND the cold map
    // inline — outgrew that window, so the round recorded no parsed
    // bench at all. Cold times go on their OWN earlier line (free to
    // be truncated); the final line stays the compact contract line.
    // Adaptive precision bounds every value at <=5 chars: the driver
    // recovers the metric line from a 2000-char tail of stdout (the
    // round-4 full-precision line outgrew it and the round parsed no
    // bench at all); at 75+ queries the line budget is the binding
    // constraint, so sub-centisecond digits lose to fitting at all.
    def fmt(v: Double): String =
      if (v.isNaN) "-1" // corrupted timing = failure sentinel, never a 0s "success"
      else if (v < 0) "-1"
      else if (v < 10) (math.round(v * 100.0) / 100.0).toString
      else if (v < 100) (math.round(v * 10.0) / 10.0).toString
      else math.round(v).toString
    def jsonMap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val warmQs = results.map { case (k, (_, w)) => k -> w.wall }
    val coldQs = results.map { case (k, (c, _)) => k -> c.wall }
    val total = warmQs.values.filter(_ >= 0).sum
    // per-query decomposition of the CHOSEN warm run, compact
    // "execCpuS|spillMB|tasks" — the triple that classifies a mover
    def dec(o: Obs): String = s"${fmt(o.cpuS)}|${o.spillMB}|${o.tasks}"
    // board totals over the reported warm runs: a uniform wall drift
    // with flat total cpu+tasks is the host, not the engine
    val okWarm = results.values.map(_._2).filter(_.wall >= 0)
    val totCpu = okWarm.map(_.cpuS).sum
    val totSpill = okWarm.map(_.spillMB).sum
    val totTasks = okWarm.map(_.tasks).sum
    // bounded: a mass-failure round's full name list alone would blow
    // the ~2 kB driver tail the metric line must fit in (the fold loop
    // below can only shrink the QUERIES map) — cap at 8 names + count
    val failedJson =
      (if (failed.size <= 8) failed.toSeq
       else failed.take(8).toSeq :+ s"+${failed.size - 8} more")
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"bench_cold":${jsonMap(coldQs)},"timing":"warm-min-of-2"}""")
    // FULL decomposition on its own line (builder-captured boards read
    // it whole; the driver's bounded tail may truncate it — the final
    // line below carries totals + the slowest queries' triples)
    println(results.toSeq.sortBy(_._1)
      .map { case (k, (_, w)) => s"\"$k\":\"${dec(w)}\"" }
      .mkString("{\"bench_metrics\":{", ",", "}}"))
    // Hard length budget on the final metric line: the driver recovers
    // it from a ~2000-char stdout tail that ALSO holds sbt's closing
    // [success] line — an overgrown line loses the whole round's bench
    // (round 4 did exactly that). If the per-query map would overflow,
    // fold the SMALLEST timings into one "_rest" aggregate (sum +
    // count) until the line fits: every slow query keeps its own
    // number, only sub-noise entries collapse, and the total always
    // covers every query. Failed (-1) entries are never folded.
    // "qm" carries the decomposition triples for the SLOWEST kept
    // queries (capped at 25) — the ones whose movement between rounds
    // ever needs classifying.
    def metricLine(qs: Seq[(String, Double)], restSum: Double, restN: Int): String = {
      val m = jsonMap(qs.toMap ++
        (if (restN > 0) Map("_rest" -> restSum, "_rest_n" -> restN.toDouble)
         else Map.empty))
      val qm = qs.take(25).map { case (k, _) =>
        s"\"$k\":\"${dec(results(k)._2)}\"" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${math.round(total * 1000.0) / 1000.0},"unit":"sec","execCpuS":${fmt(totCpu)},"spillMB":$totSpill,"tasks":$totTasks,"queries":$m,"qm":$qm,"failed":$failedJson,"sf":"$sfDir"}"""
    }
    // fold order: smallest first; failures pinned at the front (kept)
    val byAsc = warmQs.toSeq.sortBy { case (k, v) =>
      (if (v < 0) Double.MaxValue else v, k) }.reverse
    var keep = byAsc
    var restSum = 0.0
    var restN = 0
    var out = metricLine(keep, restSum, restN)
    // stop once only failure sentinels remain: folding a -1 into _rest
    // would hide the failure (the comment above promises it never is)
    while (out.length > 1880 && keep.exists(_._2 >= 0)) {
      val (_, v) = keep.last
      keep = keep.init
      restSum += math.max(v, 0.0)
      restN += 1
      out = metricLine(keep, restSum, restN)
    }
    println(out)
    spark.stop()
  }
}
