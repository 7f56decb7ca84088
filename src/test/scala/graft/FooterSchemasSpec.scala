package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{FooterSchemas, Snapshots}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Driver-side parquet metadata ([[FooterSchemas]]): the schema a table
  * load or a snapshot resolve takes from the footers is exactly the one
  * Spark's inference job would have produced, and taking it runs no
  * Spark job.
  */
class FooterSchemasSpec extends SparkTestBase {

  import spark.implicits._

  /** Spark jobs `f` starts on this thread. A sentinel job in the same
    * job group closes the count: the listener bus delivers in order, so
    * once the sentinel's start arrives every earlier one has too.
    */
  private def jobsOf[A](f: => A): Int = {
    val sc = spark.sparkContext
    val group = s"footer-spec-${java.util.UUID.randomUUID}"
    val seen = new AtomicInteger(0)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          if (js.properties.getProperty("footer.spec.sentinel") == "1")
            sentinel.countDown()
          else seen.incrementAndGet(): Unit
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "FooterSchemasSpec")
      f
      sc.setLocalProperty("footer.spec.sentinel", "1")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job start never reached the listener")
      seen.get
    } finally {
      sc.setLocalProperty("footer.spec.sentinel", null)
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("Tables.load takes every star table's schema from its footer, field metadata included") {
    for (dir <- Seq(sf0001, sf001); t <- Tables.starTables) {
      val loaded = Tables.load(spark, dir, t) // sets the session's nanos flag
      val path = s"$dir/$t.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(FooterSchemas.inferFresh(spark, path).isDefined, s"$dir $t")
      assert(Tables.read(spark, path).schema === inferred, s"$dir $t")
      assert(Tables.read(spark, path).schema.json === inferred.json, s"$dir $t")
      if (t != "events") assert(loaded.schema === inferred, s"$dir $t")
    }
  }

  test("Tables.load runs no Spark job, where Spark's inference runs one") {
    val path = s"$sf0001/orders.parquet"
    assert(jobsOf(spark.read.parquet(path).schema) >= 1,
      "the listener must see the inference job Tables.load avoids")
    for (t <- Tables.starTables)
      assert(jobsOf(Tables.load(spark, sf0001, t).schema) === 0, t)
  }

  test("a multi-file directory whose footers agree reads like Spark's inference, with no job") {
    val root = tmp("footer-multi")
    (1L to 400L).toDF("id").withColumn("v", col("id") * 3)
      .withColumn("s", concat(lit("k"), col("id").cast("string")))
      .repartition(4).write.parquet(s"$root/m.parquet")
    val path = s"$root/m.parquet"
    val inferred = spark.read.parquet(path).schema
    assert(FooterSchemas.inferFresh(spark, path).isDefined)
    assert(jobsOf(Tables.load(spark, root, "m").schema) === 0)
    assert(Tables.load(spark, root, "m").schema === inferred)
    assert(Tables.load(spark, root, "m").count() === 400)
  }

  test("a directory whose footers disagree keeps Spark's inference") {
    val root = tmp("footer-disagree")
    val path = s"$root/d.parquet"
    (1L to 10L).toDF("id").write.parquet(path)
    (11L to 20L).toDF("id").withColumn("extra", lit("x"))
      .write.mode("append").parquet(path)
    assert(FooterSchemas.inferFresh(spark, path) === None)
    assert(Tables.load(spark, root, "d").schema === spark.read.parquet(path).schema)
    assert(Tables.load(spark, root, "d").count() === 20)
  }

  test("footers that differ only in nullability still read from the driver, like Spark") {
    val root = tmp("footer-nullable")
    val path = s"$root/n.parquet"
    (1L to 10L).toDF("id").withColumn("s", lit("x")).write.parquet(path)
    (11L to 20L).toDF("id")
      .withColumn("s", when(col("id") > 15, lit("y"))).write.mode("append").parquet(path)
    assert(FooterSchemas.inferFresh(spark, path).isDefined)
    assert(jobsOf(Tables.load(spark, root, "n").schema) === 0)
    assert(Tables.load(spark, root, "n").schema === spark.read.parquet(path).schema)
    assert(Tables.load(spark, root, "n").filter(col("s").isNull).count() === 5)
  }

  test("a summary file, a partition directory or a rewrite in place keeps Spark's answer") {
    val root = tmp("footer-edge")
    val summary = s"$root/s.parquet"
    (1L to 10L).toDF("id").coalesce(1).write.parquet(summary)
    val part = new java.io.File(summary).listFiles()
      .filter(_.getName.startsWith("part-")).head.toPath
    Files.copy(part, new java.io.File(summary, "_common_metadata").toPath)
    assert(FooterSchemas.inferFresh(spark, summary) === None)
    assert(Tables.load(spark, root, "s").schema === spark.read.parquet(summary).schema)

    val parted = s"$root/p.parquet"
    (1L to 10L).toDF("id").withColumn("b", col("id") % 2)
      .write.partitionBy("b").parquet(parted)
    assert(FooterSchemas.inferFresh(spark, parted) === None)
    assert(Tables.load(spark, root, "p").schema === spark.read.parquet(parted).schema)

    // user paths are never served from the memo: a rewrite in place
    // with a new schema is seen on the next load
    val rewritten = s"$root/r.parquet"
    (1L to 10L).toDF("id").write.parquet(rewritten)
    assert(Tables.load(spark, root, "r").schema.fieldNames.toSeq === Seq("id"))
    (1L to 10L).toDF("id").withColumn("w", col("id") * 2)
      .write.mode("overwrite").parquet(rewritten)
    assert(Tables.load(spark, root, "r").schema.fieldNames.toSeq === Seq("id", "w"))
  }

  test("resolving a graft-snapshot table whose files agree runs no Spark job") {
    val t = s"${tmp("footer-snap")}/t"
    Snapshots.commit((1L to 300L).toDF("id").withColumn("v", col("id") * 7)
      .repartition(3), t)
    Snapshots.commit((301L to 400L).toDF("id").withColumn("v", col("id") * 7), t)
    // cold footers: the memo the commits seeded is dropped
    FooterSchemas.invalidate(new Path(t).toUri.getPath)
    val jobs = jobsOf(
      spark.read.format("graft-snapshot").option("path", t).load().schema)
    assert(jobs === 0)
    val df = spark.read.format("graft-snapshot").option("path", t).load()
    assert(df.schema === Snapshots.read(spark, t).schema)
    assert(df.count() === 400)
  }

  test("strict appends of a shape with non-null nested fields keep landing") {
    val t = s"${tmp("footer-strict")}/t"
    def batch(from: Long) = (from until from + 10L).toDF("id")
      .withColumn("s", struct(col("id").as("a"), lit("x").as("b")))
      .withColumn("xs", array(lit(1), lit(2)))
    val shape = batch(0L).schema
    assert(!shape("s").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("a").nullable)
    Snapshots.commit(batch(0L), t, strictAppendSchema = true)
    // memoized footers (the commit seeded them), then cold ones
    Snapshots.commit(batch(10L), t, strictAppendSchema = true)
    FooterSchemas.invalidate(new Path(t).toUri.getPath)
    Snapshots.commit(batch(20L), t, strictAppendSchema = true)
    val files = new java.io.File(t, "data").listFiles().toSeq
      .flatMap(_.listFiles().toSeq).map(_.getPath)
      .filter(p => new java.io.File(p).getName.startsWith("part-"))
    // the footers' exact shape, nested nullability included (the
    // field-id metadata the commits stamp aside)
    def types(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    assert(FooterSchemas.uniform(spark, files).map(types) === Some(types(shape)))
    assert(Snapshots.read(spark, t).count() === 30)
  }

  test("FooterSchemas.open returns what the one-argument open returns") {
    val conf = spark.sparkContext.hadoopConfiguration
    for (t <- Seq("orders", "lineitem", "events")) {
      val p = new Path(s"$sf001/$t.parquet")
      val slow = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      val fast = FooterSchemas.open(conf, p)
      try {
        assert(fast.getFooter.getFileMetaData.getSchema ===
          slow.getFooter.getFileMetaData.getSchema, t)
        assert(fast.getRecordCount === slow.getRecordCount, t)
        assert(fast.getRowGroups.size === slow.getRowGroups.size, t)
        assert(FooterSchemas.rowCount(conf, p.toString) === slow.getRecordCount, t)
      } finally { fast.close(); slow.close() }
    }
  }

  test("hadoopConf copies carry Hadoop's defaults and stay independent") {
    val a = FooterSchemas.hadoopConf()
    val b = FooterSchemas.hadoopConf()
    assert(a.get("fs.defaultFS") === new org.apache.hadoop.conf.Configuration()
      .get("fs.defaultFS"))
    a.set("graft.footer.spec.key", "1")
    assert(b.get("graft.footer.spec.key") === null)
  }
}
