package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.Snapshots
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload adds to [[Run]]: its set-up, its ops, the check of
  * their results, and its own per-layer numbers.
  */
trait Workload {
  /** The JVM's first-touch costs (class loading, JIT, codegen): the
    * workload's own ops on sf0.001 data, untimed and unchecked, so the
    * timed ops do not pay them in whatever order the seed puts them.
    */
  def warmUp(): Unit
  /** One repetition of the set-up; `rep` 0 runs first. */
  def setup(rep: Int): Unit
  /** Whole passes of ops until the deadline (epoch ns) has passed, and
    * at least the workload's minimum: a fixed pass count today keeps
    * runs of different speed comparable. Each result is checked outside
    * the timed op.
    */
  def body(deadline: Long, rng: scala.util.Random): Unit
  /** Write the expected fingerprints instead of running. */
  def record(): Unit = sys.error("this workload has no expected file")
  /** Warm ops run untraced and traced in turn: (traced ÷ untraced,
    * untraced seconds).
    */
  def calibrate(): (Double, Double)
  /** Per-layer numbers only this workload has (the rest read 0). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** JSON object for the details file. */
  def details: String = "{}"
}

/** registry_sf001 and heavy_x10: registered queries, each written to a
  * noop sink. heavy_x10 drops every cached intermediate before each
  * query, so each one pays for its own seams.
  */
final class QueryWorkload(r: Run, spark: SparkSession, a: Main.Args,
    queries: Seq[String], heavy: Boolean) extends Workload {
  private val base = s"${a.data}/${a.scale}"
  private val dir = if (heavy) s"${a.cache}/x10-${a.scale}" else base
  private val pairs = mutable.ArrayBuffer.empty[(String, Double, Double)]

  private lazy val want = Check.load(a.expected) ++
    a.wrongExpected.map(q => q -> Check.Print(-1L, -1L))
  private var pass = 0
  private var current = dir
  private val minPasses = if (heavy) 1 else 2

  /** The sample at sf0.001, four queries at a time. */
  def warmUp(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try queries.map(q => pool.submit(new Runnable {
      def run(): Unit = r.query(new Op("query", q), q, s"${a.data}/sf0.001")
    })).foreach(_.get())
    finally pool.shutdown()
    graft.Intermediates.dropAll()
  }

  /** The heavy fixture is built once per checkout (its marker makes
    * later runs reuse it); each repetition re-reads its footers.
    */
  def setup(rep: Int): Unit = {
    if (heavy) graft.ScaleFixture.build(spark, base, dir, 10)
    graft.Tables.starTables.foreach(t => graft.Tables.load(spark, dir, t).count())
  }

  /** The registry data dir of one pass: a fresh copy, so every pass
    * builds its seams and fixtures where first needed, as the first
    * pass does. heavy_x10 drops seams before each query instead.
    */
  private def passDir(): String =
    if (heavy) dir else {
      val to = Paths.get(s"${a.work}/registry_pass_$pass")
      Files.createDirectories(to)
      Files.list(Paths.get(base)).iterator.asScala.foreach(f =>
        Files.copy(f, to.resolve(f.getFileName)))
      to.toString
    }

  /** Each query's answer is checked the first time it runs, right after
    * its timed op while its seams are still cached.
    */
  def body(deadline: Long, rng: scala.util.Random): Unit =
    do {
      val d = passDir()
      current = d
      rng.shuffle(queries).foreach { q =>
        if (heavy) r.op("drop", "Intermediates.dropAll")(_ => graft.Intermediates.dropAll())
        val o = r.op("query", q)(o => r.query(o, q, d))
        if (o.ok && pass == 0) o.wrong = !want.get(q).contains(fingerprint(q, d))
      }
      pass += 1
    } while (r.now < deadline || pass < minPasses)

  private def fingerprint(q: String, d: String = dir): Check.Print =
    Check.fingerprint(graft.SparkEntry.queries(q)(spark, d))

  override def record(): Unit =
    Check.save(a.expected, s"${a.workload} at ${a.scale}: rows, content hash",
      queries.map { q =>
        if (heavy) graft.Intermediates.dropAll()
        q -> fingerprint(q)
      })

  /** Warm queries from the front of the list, on the last pass's data:
    * the first heavy query, or the first three of the registry sample.
    */
  def calibrate(): (Double, Double) =
    r.calibrate(queries.take(if (heavy) 1 else 3).map(q => () => {
      if (heavy) graft.Intermediates.dropAll()
      r.query(new Op("query", q), q, current)
    }))

  /** Continuity with the `.count()` series: warm count and noop times
    * of the same query (best of two each, interleaved), count time as
    * the base. Registry only, for as many queries as --seconds allows.
    */
  override def layerMetrics(): Map[String, Double] = {
    if (heavy) return Map.empty
    def t(f: => Unit) = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def count(q: String) = t(graft.SparkEntry.queries(q)(spark, current).count(): Unit)
    def noop(q: String) = t(graft.SparkEntry.queries(q)(spark, current)
      .write.format("noop").mode("overwrite").save())
    val budget = System.nanoTime() + (a.seconds * 1e9).toLong
    queries.iterator.takeWhile(_ => System.nanoTime() < budget).foreach { q =>
      val (c1, n1, c2, n2) = (count(q), noop(q), count(q), noop(q))
      pairs += ((q, math.min(c1, c2), math.min(n1, n2)))
    }
    val logs = pairs.map { case (_, c, n) => math.log(n / c) }
    Map("continuity.pairs" -> pairs.size.toDouble,
      "continuity.noop_over_count" ->
        (if (logs.isEmpty) 0.0 else math.exp(logs.sum / logs.size)))
  }

  override def details: String = Json.obj(Seq("count_noop_pairs" ->
    pairs.map { case (q, c, n) => Json.obj(Seq("query" -> Json.str(q),
      "count_s" -> Json.num(c), "noop_s" -> Json.num(n))) }.mkString("[", ", ", "]")))
}

/** dml_mix: a snapshot table seeded from orders, then passes of the six
  * write kinds in a fixed order, each followed by an aggregate read; one
  * change-feed read and one maintenance step (compact, or purgeDeletes)
  * per pass. A plain in-memory model of the live rows gives the expected
  * answer of every read.
  */
final class DmlWorkload(r: Run, spark: SparkSession, a: Main.Args)
    extends Workload {
  private val orders = graft.Tables.orders(spark, s"${a.data}/${a.scale}")
  private val schema = orders.schema
  private var baseRows = IndexedSeq.empty[Row]
  private val keyIdx = schema.fieldIndex("o_orderkey")
  private val custIdx = schema.fieldIndex("o_custkey")
  private val priceIdx = schema.fieldIndex("o_totalprice")
  private val model = mutable.LinkedHashMap.empty[Long, Row]
  private var nextKey = 0L
  private var table = ""
  private var stream: MemoryStream[Row] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var eqOutstanding = false
  private var feedFrom = (0L, Map.empty[Row, Int])
  private var pass = 0
  private val seen = mutable.HashSet.empty[String]
  private var bytesWritten = 0L
  private var bytesSupplied = 0L
  private var supplied = 0
  private val writeKinds = Seq("append", "stream", "delete_cow", "delete_mor",
    "merge", "upsert_eq")

  /** One pass on a table seeded from sf0.001 orders. */
  def warmUp(): Unit = {
    seed("warm", graft.Tables.orders(spark, s"${a.data}/sf0.001"))
    onePass(new scala.util.Random(0))
  }

  def setup(rep: Int): Unit = seed(rep.toString, orders)

  private def seed(tag: String, src: org.apache.spark.sql.DataFrame): Unit = {
    Option(query).foreach(_.stop())
    table = s"${a.work}/dml_orders_$tag"
    Snapshots.commit(src, table)
    baseRows = src.collect().toIndexedSeq
    model.clear()
    baseRows.foreach(row => model(row.getLong(keyIdx)) = row)
    nextKey = model.keys.max + 1
    stream = MemoryStream[Row](Encoders.row(schema), spark)
    query = graft.streaming.Streams.snapshotSink(stream.toDF(), table,
      s"${a.work}/dml_checkpoint_$tag")
    eqOutstanding = false
    feedFrom = (latest, multiset)
    seen.clear()
    tableFiles()
    pass = 0
    bytesWritten = 0L
    bytesSupplied = 0L
  }

  private def latest: Long = Snapshots.versions(spark, table).last
  private def multiset: Map[Row, Int] =
    model.values.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Bytes of files that appeared under the table since the last call. */
  private def tableFiles(): Long = {
    val fs = Files.walk(Paths.get(table)).iterator.asScala
      .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toSeq
    val fresh = fs.filterNot(f => seen(f._1))
    fresh.foreach(f => seen += f._1)
    fresh.map(_._2).sum
  }

  private def tableBytes: Long =
    Files.walk(Paths.get(table)).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  /** Plain parquet bytes of `rows`, the yardstick of write and space
    * amplification.
    */
  private def plainBytes(rows: Seq[Row]): Long = {
    supplied += 1
    val out = s"${a.work}/plain_$supplied"
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(out)
    val n = Files.walk(Paths.get(out)).iterator.asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size(_)).sum
    Files.walk(Paths.get(out)).iterator.asScala.toSeq.reverse.foreach(Files.delete(_))
    n
  }

  private def withPrice(row: Row, key: Long, rng: scala.util.Random): Row = {
    val v = row.toSeq.toArray
    v(keyIdx) = key
    v(priceIdx) = (rng.nextInt(40000000) + 100) / 100.0
    Row.fromSeq(v.toSeq)
  }

  private def fresh(n: Int, rng: scala.util.Random): Seq[Row] =
    (0 until n).map { _ =>
      val row = withPrice(baseRows(rng.nextInt(baseRows.size)), nextKey, rng)
      nextKey += 1
      row
    }

  private def updates(rng: scala.util.Random): Seq[Row] = {
    val keys = model.keys.toIndexedSeq
    val hit = rng.shuffle(keys.indices.toList).take(100).map(i => keys(i))
      .map(k => withPrice(model(k), k, rng))
    hit ++ fresh(50, rng)
  }

  private def df(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)

  private def write(kind: String, rng: scala.util.Random): Unit = {
    if (eqOutstanding && Set("delete_cow", "delete_mor", "merge")(kind)) maintain("purge_eq")
    var rows: Seq[Row] = Nil
    val o = kind match {
      case "append" =>
        rows = fresh(200, rng)
        val d = df(rows)
        r.op("write", kind)(_ => Snapshots.commit(d, table))
      case "stream" =>
        rows = fresh(200, rng)
        r.op("write", kind) { _ =>
          stream.addData(rows)
          query.processAllAvailable()
        }
      case "delete_cow" | "delete_mor" =>
        val m = rng.nextInt(97)
        val p = col("o_custkey") % 97 === m
        val o = r.op("write", kind) { _ =>
          if (kind == "delete_cow") Snapshots.deleteWhere(spark, table, p)
          else Snapshots.deleteWhereMor(spark, table, p)
        }
        if (o.ok) model.filterInPlace((_, row) => row.getLong(custIdx) % 97 != m)
        o
      case "merge" | "upsert_eq" =>
        rows = updates(rng)
        val d = df(rows)
        val o = r.op("write", kind) { _ =>
          if (kind == "merge") Snapshots.merge(spark, table, d, "o_orderkey")
          else Snapshots.upsertEq(spark, table, d, Seq("o_orderkey"))
        }
        if (o.ok && kind == "upsert_eq") eqOutstanding = true
        o
    }
    if (o.ok) rows.foreach(row => model(row.getLong(keyIdx)) = row)
    bytesWritten += tableFiles()
    if (rows.nonEmpty) bytesSupplied += plainBytes(rows)
  }

  private def maintain(kind: String): Unit = {
    if (eqOutstanding && kind == "purge_deletes") maintain("purge_eq")
    val o = r.op("maintain", kind) { _ =>
      kind match {
        case "compact" => Snapshots.compact(spark, table)
        case "purge_deletes" => Snapshots.purgeDeletes(spark, table)
        case "purge_eq" => Snapshots.purgeEqDeletes(spark, table)
      }
    }
    if (o.ok && kind != "purge_deletes") eqOutstanding = false
    bytesWritten += tableFiles()
  }

  /** An aggregate read of the live rows, checked against the model. */
  private def read(): Unit = {
    var got = Check.Print(0, 0)
    val o = r.op("read", "read")(_ => got = Check.fingerprint(Snapshots.read(spark, table)))
    if (o.ok) o.wrong = got != Check.fingerprint(df(model.values.toSeq)) ||
      a.wrongExpected.contains("read") && r.ops.count(_.name == "read") == 1
  }

  /** Net change feed since the previous one, checked against the
    * multiset difference of the model's two states.
    */
  private def changeFeed(): Unit = {
    val (from, before) = feedFrom
    val to = latest
    var got = Map.empty[String, Long]
    val o = r.op("read", "change_feed") { _ =>
      got = Snapshots.changeFeed(spark, table, from, to).groupBy("_change_type").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    val after = multiset
    val ins = after.map { case (k, n) => math.max(0, n - before.getOrElse(k, 0)) }.sum
    val del = before.map { case (k, n) => math.max(0, n - after.getOrElse(k, 0)) }.sum
    if (o.ok) o.wrong = got.getOrElse("insert", 0L) != ins || got.getOrElse("delete", 0L) != del
    feedFrom = (to, after)
  }

  /** Each write kind in a fixed order, each followed by a read; then a
    * change feed and a maintenance step.
    */
  private def onePass(rng: scala.util.Random): Unit = {
    if (a.throwOp && pass == 0) r.op("write", "injected")(_ => sys.error("injected failure"))
    writeKinds.foreach { k => write(k, rng); read() }
    changeFeed()
    maintain(if (pass % 2 == 0) "compact" else "purge_deletes")
    pass += 1
  }

  /** Three passes: later passes see a bigger, more fragmented table. */
  def body(deadline: Long, rng: scala.util.Random): Unit =
    do onePass(rng) while (r.now < deadline || pass < 3)

  def calibrate(): (Double, Double) =
    r.calibrate(Seq.fill(4)(() => Check.fingerprint(Snapshots.read(spark, table)): Unit))

  override def layerMetrics(): Map[String, Double] = {
    query.stop()
    val live = model.values.toSeq
    def med(kind: String) =
      Run.median(r.ops.filter(o => o.name == kind && o.ok).map(_.secs).toSeq)
    val writes = r.ops.filter(_.kind == "write").toSeq
    val reads = r.ops.filter(_.kind == "read").toSeq
    Map(
      "snapshots.write_p50_s" -> Run.median(writes.map(_.secs)),
      "snapshots.read_p50_s" -> Run.median(reads.map(_.secs)),
      "snapshots.commit_s" -> med("append"),
      "snapshots.delete_cow_s" -> med("delete_cow"),
      "snapshots.delete_mor_s" -> med("delete_mor"),
      "snapshots.merge_s" -> med("merge"),
      "snapshots.upsert_eq_s" -> med("upsert_eq"),
      "snapshots.compact_s" -> Run.median(r.ops.filter(_.kind == "maintain").map(_.secs).toSeq),
      "snapshots.read_s" -> med("read"),
      "snapshots.change_feed_s" -> med("change_feed"),
      "snapshots.sidecars_live" -> (Snapshots.deleteFiles(spark, table).size +
        Snapshots.eqDeleteFiles(spark, table).size).toDouble,
      "snapshots.files_live" -> Snapshots.dataFiles(spark, table).size.toDouble,
      "snapshots.bytes_written_mb" -> bytesWritten / 1048576.0 / math.max(1, writes.size),
      "snapshots.write_amp" -> bytesWritten.toDouble / math.max(1L, bytesSupplied),
      "snapshots.space_amp" -> tableBytes.toDouble / plainBytes(live))
  }
}
