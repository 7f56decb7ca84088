package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{BenchShim, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set up, run a closed loop of ops (one
  * client, one op at a time) for at least `--seconds`, check every
  * result outside the timed ops, print one JSON line.
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` installs the
  * benchmark's listeners and prints the per-layer metrics.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cache: String,
      expected: String, details: String, scale: String,
      wrongExpected: Option[String], throwOp: Boolean, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("cache"),
      get("expected"), get("details"), kv.getOrElse("scale", "sf0.01"),
      kv.get("wrong-expected"), kv.get("throw-op").contains("1"),
      kv.get("record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val spark = graft.Sessions.local(
      cpus = Runtime.getRuntime.availableProcessors, appName = "perfbench")
    val code =
      try { new Run(spark, a, jvmStart).apply(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }
}

/** A timed op: wall interval (epoch ns), outcome, and what the traced
  * run adds (planning time, exchanges, seams built).
  */
final class Op(val kind: String, val name: String) {
  var start = 0L
  var end = 0L
  var ok = true
  var wrong = false
  var err = ""
  var planNs = 0L
  var exchanges = 0
  var builds = 0
  def secs: Double = (end - start) / 1e9
}

final class Run(spark: SparkSession, a: Main.Args, jvmStartMs: Long) {
  import Run._

  private val sc = spark.sparkContext
  private var tracing = a.trace
  private val rng = new scala.util.Random(a.seed)
  private val trace = if (a.trace) Some(new Trace) else None
  val ops = mutable.ArrayBuffer.empty[Op]
  private var resident = 0L

  /** Epoch nanoseconds on the monotonic clock, comparable with the
    * millisecond event times Spark stamps on jobs.
    */
  private val (baseMs, baseNs) = (System.currentTimeMillis(), System.nanoTime())
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  /** Run `body` as one timed op under its own job group. A throw is
    * the op's failure, never the run's.
    */
  def op(kind: String, name: String)(body: Op => Unit): Op = {
    val o = new Op(kind, name)
    val seams0 = seamCount
    sc.setJobGroup(s"perfbench-${ops.size}", s"$kind $name", interruptOnCancel = false)
    o.start = now
    try body(o)
    catch { case NonFatal(e) =>
      o.ok = false
      o.err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    o.end = now
    sc.clearJobGroup()
    o.builds = math.max(0, seamCount - seams0)
    if (trace.nonEmpty) resident = math.max(resident, residentBytes)
    ops += o
    o
  }

  /** A registered query, every row and column materialized. The traced
    * run forces the physical plan first so planning is timed alone.
    */
  def query(o: Op, name: String, dir: String): Unit = {
    if (a.throwOp && ops.size == 1) sys.error("injected failure")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    if (tracing) {
      val t0 = now
      val p = BenchShim.executedPlan(df)
      o.planNs = now - t0
      o.exchanges = exchanges(p)
    }
    df.write.format("noop").mode("overwrite").save()
  }

  /** Each sample runs once untraced and once traced, alternating which
    * goes first: (traced ÷ untraced seconds, untraced seconds).
    */
  def calibrate(samples: Seq[() => Unit]): (Double, Double) = {
    val t = trace.get
    val secs = samples.zipWithIndex.flatMap { case (f, i) =>
      (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).map { traced =>
        if (!traced) { sc.removeSparkListener(t); tracing = false }
        val t0 = System.nanoTime()
        f()
        val s = (System.nanoTime() - t0) / 1e9
        if (!traced) { sc.addSparkListener(t); tracing = true }
        traced -> s
      }
    }
    val untraced = secs.filterNot(_._1).map(_._2).sum
    (secs.filter(_._1).map(_._2).sum / math.max(untraced, 1e-9), untraced)
  }

  /** Entries in the engine's materialize-once cache; its growth across
    * an op counts the seams the op built. The cache is private, so this
    * reads it by reflection and counts 0 if the field is gone.
    */
  private def seamCount: Int =
    try seamField.get(graft.Intermediates).asInstanceOf[scala.collection.Map[_, _]].size
    catch { case NonFatal(_) => 0 }

  private def residentBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def apply(): Unit = {
    trace.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    val w: Workload = a.workload match {
      case "registry_sf001" => new QueryWorkload(this, spark, a, RegistrySample, heavy = false)
      case "heavy_x10" => new QueryWorkload(this, spark, a, HeavySample, heavy = true)
      case "dml_mix" => new DmlWorkload(this, spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: the session and its first-touch warm-up once per JVM,
    // then the workload's own set-up three times; the median repetition
    // is reported
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phases("session") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    phase("warm_up")(w.warmUp())
    ops.clear()
    val reps = (0 until 3).map { i => phase(s"setup_$i")(w.setup(i)); phases(s"setup_$i") }
    val setupS = phases("session") + phases("warm_up") + median(reps)

    if (a.record) { w.record(); return }

    val gc0 = gcMillis
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val deadline = now + (a.seconds * 1e9).toLong
    phase("body")(w.body(deadline, rng))
    val gcS = (gcMillis - gc0) / 1e3
    val peakHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

    val timed = ops.filter(_.kind != "drop").toSeq
    val lat = timed.map(_.secs)
    val e2e = Seq(
      m("setup_s", setupS, "s"),
      m("op_mean_s", lat.sum / lat.size, "s"),
      m("op_p50_s", pct(lat, 0.5), "s"))
    val layer = phase("trace")(trace.map(t => layers(t, timed, w, gcS, peakHeap)).getOrElse(Nil))

    val failed = timed.count(!_.ok)
    val wrong = timed.count(_.wrong)
    writeDetails(timed, w, e2e ++ layer)
    timed.filter(o => !o.ok || o.wrong).take(5).foreach { o =>
      println(s"op ${o.kind} ${o.name} ok=${o.ok} wrong=${o.wrong} ${o.err}") }
    println(Json.obj(Seq("summary" -> Json.obj(Seq(
      "ops" -> timed.size.toString,
      "failed_ratio" -> Json.num(failed.toDouble / timed.size),
      "wrong_results" -> wrong.toString,
      "phase_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "box" -> boxJson)))))
    println(Json.obj(Seq(
      "correct" -> (wrong == 0).toString,
      "attempted" -> timed.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj((if (a.trace) layer else e2e).map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }

  /** Per-layer metrics from the traced run. Times and counts are means
    * per op; the parts of an op's wall time (spark.driver_s and the
    * *.job_s / build_s / fixture_s shares) sum to op_mean_s.
    */
  private def layers(t: Trace, timed: Seq[Op], w: Workload, gcS: Double,
      peakHeap: Long): Seq[(String, Double, String)] = {
    BenchShim.drainListeners(spark)
    val jobs = t.allJobs
    val byGroup = jobs.groupBy(_.group)
    val opJobs = timed.map { o =>
      val own = byGroup.getOrElse(s"perfbench-${ops.indexOf(o)}", Nil)
      val stray = jobs.filter(j => !j.group.startsWith("perfbench-") &&
        j.start >= o.start && j.start <= o.end)
      o -> (own ++ stray)
    }
    val split = opJobs.map { case (o, js) =>
      Trace.split(o.start, o.end,
        js.map(j => (j.start, if (j.end < 0) o.end else math.min(j.end, o.end), j.layer)))
    }
    val n = timed.size.toDouble
    def share(l: String) = split.map(_(l)).sum / 1e9 / n
    val all = opJobs.flatMap(_._2)
    val opsL = all.filter(_.layer == "operators")
    def per(x: Double) = x / n
    val mb = 1024.0 * 1024.0
    val queryOps = timed.filter(_.kind == "query")
    val writes = opJobs.zip(split).filter(_._1._1.kind == "write")
    val batches = t.allBatches
    val (overhead, base) = w.calibrate()
    val own = w.layerMetrics()
    val got = Map(
      "plans.plan_s" -> queryOps.map(_.planNs).sum / 1e9 / math.max(1, queryOps.size),
      "plans.exchanges" -> queryOps.map(_.exchanges).sum.toDouble / math.max(1, queryOps.size),
      "spark.jobs" -> per(all.size),
      "spark.stages" -> per(all.map(_.stages).sum),
      "spark.tasks" -> per(all.map(_.tasks).sum),
      "spark.driver_s" -> share("driver"),
      "operators.job_s" -> share("operators"),
      "operators.exec_s" -> per(opsL.map(_.runMs).sum / 1e3),
      "operators.cpu_s" -> per(opsL.map(_.cpuNs).sum / 1e9),
      "operators.shuffle_write_mb" -> per(opsL.map(_.shuffleWrite).sum / mb),
      "operators.shuffle_read_mb" -> per(opsL.map(_.shuffleRead).sum / mb),
      "operators.spill_mb" -> per(opsL.map(_.spill).sum / mb),
      "operators.input_mb" -> per(opsL.map(_.input).sum / mb),
      "intermediates.builds" -> per(timed.map(_.builds).sum),
      "intermediates.build_s" -> share("intermediates"),
      "intermediates.resident_mb" -> resident / mb,
      "snapshots.fixture_s" -> share("fixture"),
      "snapshots.job_s" -> share("snapshots"),
      "snapshots.jobs_per_write" ->
        writes.map(_._1._2.size).sum.toDouble / math.max(1, writes.size),
      "snapshots.driver_s" -> writes.map(_._2("driver")).sum / 1e9 / math.max(1, writes.size),
      "streaming.job_s" -> share("streaming"),
      "streaming.batch_s" -> median(batches.map(_._1 / 1e3)),
      "streaming.rows_per_s" ->
        (if (batches.isEmpty) 0.0 else batches.map(_._2).sum / (batches.map(_._1).sum / 1e3)),
      "jvm.gc_s" -> per(gcS),
      "jvm.peak_heap_mb" -> peakHeap / mb,
      "jvm.peak_rss_mb" -> vmHwmMb,
      "trace_overhead" -> overhead,
      "trace_base_s" -> base) ++ own
    LayerMetrics.map { case (k, u) => m(k, got.getOrElse(k, 0.0), u) }
  }

  private def writeDetails(timed: Seq[Op], w: Workload,
      ms: Seq[(String, Double, String)]): Unit = {
    val p = Paths.get(a.details)
    Files.createDirectories(p.getParent)
    val opLines = timed.map { o => Json.obj(Seq("kind" -> Json.str(o.kind),
      "name" -> Json.str(o.name), "s" -> Json.num(o.secs), "ok" -> o.ok.toString,
      "wrong" -> o.wrong.toString, "plan_s" -> Json.num(o.planNs / 1e9),
      "exchanges" -> o.exchanges.toString, "seam_builds" -> o.builds.toString,
      "err" -> Json.str(o.err))) }
    val doc = Json.obj(Seq(
      "box" -> boxJson,
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "metrics" -> Json.obj(ms.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "extra" -> w.details,
      "ops" -> opLines.mkString("[\n", ",\n", "]")))
    Files.write(p, doc.getBytes("UTF-8"))
  }

  /** The box and the run, recorded with every result. */
  private def boxJson: String = {
    val memKb = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1)).getOrElse("0")
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_kb" -> memKb,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "git_head" -> sys.env.getOrElse("PERFBENCH_GIT_HEAD", "unknown"),
      "seed" -> a.seed.toString).map { case (k, v) => k -> Json.str(v) })
  }
}

object Run {
  private lazy val seamField = {
    val f = graft.Intermediates.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f
  }

  /** Every per-layer metric and its unit; a workload without the layer
    * reports 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "plans.plan_s" -> "s", "plans.exchanges" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_s" -> "s",
    "operators.job_s" -> "s", "operators.exec_s" -> "s", "operators.cpu_s" -> "s",
    "operators.shuffle_write_mb" -> "MB", "operators.shuffle_read_mb" -> "MB",
    "operators.spill_mb" -> "MB", "operators.input_mb" -> "MB",
    "intermediates.builds" -> "count", "intermediates.build_s" -> "s",
    "intermediates.resident_mb" -> "MB",
    "snapshots.fixture_s" -> "s", "snapshots.job_s" -> "s",
    "snapshots.write_p50_s" -> "s", "snapshots.read_p50_s" -> "s",
    "snapshots.commit_s" -> "s", "snapshots.delete_cow_s" -> "s",
    "snapshots.delete_mor_s" -> "s", "snapshots.merge_s" -> "s",
    "snapshots.upsert_eq_s" -> "s", "snapshots.compact_s" -> "s",
    "snapshots.read_s" -> "s", "snapshots.change_feed_s" -> "s",
    "snapshots.sidecars_live" -> "count", "snapshots.jobs_per_write" -> "count",
    "snapshots.driver_s" -> "s", "snapshots.bytes_written_mb" -> "MB",
    "snapshots.files_live" -> "count", "snapshots.write_amp" -> "ratio",
    "snapshots.space_amp" -> "ratio",
    "streaming.job_s" -> "s", "streaming.batch_s" -> "s", "streaming.rows_per_s" -> "1/s",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
    "continuity.pairs" -> "count", "continuity.noop_over_count" -> "ratio",
    "trace_overhead" -> "ratio", "trace_base_s" -> "s")

  /** Every 14th registered query in name order at the time the
    * benchmark was defined: every family, snapshot fixtures and seam
    * consumers among them; about 9 s cold at sf0.01 on 4 cores (the
    * whole registry takes about 145 s, too long for one run). Pinned,
    * so queries added later do not shift the sample.
    */
  val RegistrySample: Seq[String] = Seq(
    "d10_sketch_error", "d4_simhash", "m7_silence_runs", "p4_quality_report",
    "q108_mor_merge", "q120_cdc_across_compact", "q23_mode", "q36_ntile",
    "q49_calendar", "q61_skew_join", "q74_hist_quantiles",
    "q87_snapshot_pruned_read", "q9_having", "s7_ann_recall", "t3_lang_id")

  /** One query per kernel kind from ScaleFixture.heavyQueries: scan and
    * aggregate, sessionizing window, pair generation, iterated graph,
    * LSH with connected components. About 11 s at 10x sf0.01 on 4
    * cores; all 25 take 47 s.
    */
  val HeavySample: Seq[String] = Seq(
    "q1_agg", "q26_sessionize", "q64_basket_pairs", "q67_pagerank",
    "d5_dedup_clusters")

  def m(k: String, v: Double, u: String): (String, Double, String) = (k, v, u)

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (0 for an empty sample). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Exchange nodes in a physical plan, looking through adaptive
    * wrappers and into subqueries.
    */
  def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case _ =>
        (p match { case _: Exchange => 1; case _ => 0 }) +
          p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
    }
  }
}

/** Minimal JSON writer: the values are already-rendered JSON. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
