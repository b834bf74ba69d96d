package graft.tools

/** Targeted per-query timing: the per-query phase of [[graft.Bench]] for an
  * arbitrary subset, without the scaling/headline phases — for re-baselining
  * one regressed query on a quiet box or A/B-ing a plan change quickly.
  * Same session shape and noop-write measurement as Bench's phase 3.
  *
  * The named leaves first run in untimed round-robin rounds until a
  * round's total is within 5 % of the previous round's, for at most 6
  * rounds: a leaf's cold run (class loading, codegen, JIT) ran 1.4–3.3× its
  * warm reps at sf0.01, and after one warm-up round the reps still fell for
  * 3–5 rounds while the driver's planner JIT warmed. The round totals print
  * on one `QTIME warmup` line, which ends `settled=false` when the cap was
  * reached with the last two totals still more than 5 % apart: the reps
  * that follow are still warming, so their medians sit above the settled
  * time. The timed reps then go round-robin (rep 1 of
  * every leaf, then rep 2, ...), so a slow spell on a shared box spreads
  * over all leaves instead of landing on one.
  *
  * Usage: runMain graft.tools.QTime <sfDir> <reps> <query>[,query...]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("q_minhash_pairs"))
    val spark = graft.E2eRunner.session(graft.Session.cpus)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def round(): Double = names.map(once).sum
    val warmup = scala.collection.mutable.ArrayBuffer(round(), round())
    def settled = math.abs(warmup.last - warmup.init.last) <= 0.05 * warmup.init.last
    while (warmup.size < 6 && !settled) warmup += round()
    println(warmup.map(r => f"$r%.2f").mkString("QTIME warmup rounds=[", ",", s"] settled=$settled"))
    val runsByLeaf = (1 to reps).map(_ => names.map(once)).transpose
    names.zip(runsByLeaf).foreach { case (name, runs) =>
      // Bench's median (even rep counts average the middle two) — a QTime
      // re-baseline must report the same statistic as the headline it A/Bs
      val med = graft.Bench.median(runs)
      println(f"QTIME $name median=$med%.2f min=${runs.min}%.2f " +
        runs.map(r => f"$r%.2f").mkString("runs=[", ",", "]"))
    }
    spark.stop()
  }
}
