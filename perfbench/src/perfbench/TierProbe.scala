package perfbench

import scala.util.control.NonFatal

/** One-off memory probe of the scale tiers at the session's heap: the
  * heavy set at 32x and the third-decade set at 64x of a base data dir,
  * each query once, noop sink, cached intermediates dropped before each.
  * Prints one line per query and stops starting queries once the time
  * budget is spent (those read "not run").
  *
  *   TierProbe <baseDir> <scratchDir> <budgetSeconds>
  */
object TierProbe {
  def main(args: Array[String]): Unit = {
    val Array(base, scratch, budget) = args
    val deadline = System.nanoTime() + budget.toLong * 1000000000L
    val spark = graft.Sessions.local(
      cpus = Runtime.getRuntime.availableProcessors, appName = "tier-probe")
    println(s"heap_mb ${Runtime.getRuntime.maxMemory / (1024 * 1024)}")
    try Seq(32 -> graft.ScaleFixture.heavyQueries,
        64 -> graft.ScaleFixture.thirdDecadeQueries).foreach { case (factor, qs) =>
      val dir = s"$scratch/x$factor"
      val t0 = System.nanoTime()
      val built =
        try { graft.ScaleFixture.build(spark, base, dir, factor); "ok" }
        catch { case NonFatal(e) => s"failed ${e.getClass.getSimpleName}" }
      println(f"x$factor fixture $built ${(System.nanoTime() - t0) / 1e9}%.1f s")
      qs.foreach { q =>
        if (built != "ok" || System.nanoTime() > deadline) println(s"x$factor $q not run")
        else {
          graft.Intermediates.dropAll()
          val t = System.nanoTime()
          val outcome =
            try {
              graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
              "finished"
            } catch { case NonFatal(e) =>
              s"failed ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}" }
          println(f"x$factor $q $outcome ${(System.nanoTime() - t) / 1e9}%.1f s " +
            s"context_stopped=${spark.sparkContext.isStopped}")
        }
      }
    } finally spark.stop()
  }
}
