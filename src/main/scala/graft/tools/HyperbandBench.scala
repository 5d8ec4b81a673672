package graft.tools

/** End-to-end Hyperband wall-time record — the reference's tutorial_3
  * composite workflow (reference src/elastic_surv/optimizer.py:123-180)
  * at a real scale factor, the one entry point with no scale number on
  * record before round 10.
  *
  * Usage: HyperbandBench <sfDir> [parallelism=4] [maxIter=81] [sync|async]
  *
  * `sfDir` may also be the pseudo-dir `gbsg2[:n]` — the deterministic
  * GBSG2-schema fixture (the reference's own CoxPH test table shape,
  * tests/models/test_cox_ph.py:9-16) instead of the churn view, so the
  * async-vs-sync quality comparison runs on a SECOND workload with
  * mixed categorical + numeric covariates.
  *
  * Prints one HYPERBAND line with the wall time and the COMPLETE
  * selection state (winner, params, best score, per-model bests incl.
  * the H4 quirk fold) so two runs at different parallelism can be
  * diffed for bit-identity.
  */
object HyperbandBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val par = if (args.length > 1) args(1).toInt else 4
    val maxIter = if (args.length > 2) args(2).toInt else 81
    val async = args.length > 3 && args(3) == "async"
    val spark = graft.Session.builder("graft-hyperband")
      // FAIR interleaves the concurrent configs' jobs (Hyperband doc)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    val ds =
      if (sfDir.startsWith("gbsg2")) {
        val n = sfDir.split(':') match {
          case Array(_, c) => c.toInt
          case _           => 686
        }
        graft.surv.Gbsg2Fixture.dataset(spark, n)
      } else graft.surv.ChurnView.dataset(spark, sfDir)
    val t0 = System.nanoTime()
    val hb = new graft.automl.Hyperband(maxIter = maxIter,
      parallelism = par, async = async)
    val fitted = hb.selectModel(ds)
    val wall = (System.nanoTime() - t0) / 1e9
    val sc = fitted.score(ds)
    println(f"HYPERBAND dir=$sfDir par=$par maxIter=$maxIter " +
      s"async=$async " +
      f"wall=$wall%.1f " +
      s"winner=${hb.bestModel.map(_.name).getOrElse("none")} " +
      s"params=${hb.bestParams.toSeq.sortBy(_._1)} " +
      f"best=${hb.bestScore}%.8f " +
      f"cindex=${sc("c_index")}%.8f ibs=${sc("brier_score")}%.8f " +
      s"modelBests=${hb.modelBestScore.toSeq.sortBy(_._1)} " +
      s"finalSeeds=${hb.seeds.map(_.name)}")
    fitted.release()
    spark.stop()
  }
}
