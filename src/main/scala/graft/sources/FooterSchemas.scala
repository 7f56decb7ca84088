package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet metadata: the one way the engine opens a footer
  * and learns a parquet schema.
  *
  * Every schema-less `spark.read.parquet(...)` pays a Spark JOB for
  * footer inference (Spark 4 reads footers through a distributed pass
  * even for one file). Warm, on a 4-core box, inferring the schema of
  * sf0.01 `orders.parquet` that way takes about 55 ms: driver time
  * (mostly the closure cleaner serializing a Hadoop `Configuration`)
  * plus the job. [[open]] reads the same footer on the driver in
  * 0.2-0.3 ms. So every parquet read in the engine takes its schema
  * from here:
  *  - [[read]] / [[schemaOf]] for the engine's OWN immutable files
  *    (snapshot data and sidecars, sink output), served from a
  *    path-keyed memo forever — the commit-time stats loop seeds it;
  *  - [[inferFresh]] for user paths (the star tables of
  *    [[graft.Tables]]), read anew every time because user files can be
  *    rewritten in place.
  *
  * Exactness: [[of]] reproduces what Spark's inference returns for a
  * single file — the footer's serialized Spark schema when present
  * (Spark-written files always carry
  * `org.apache.spark.sql.parquet.row.metadata`), else the parquet →
  * Spark conversion under the session's own conf flags. A multi-file
  * read short-circuits only when EVERY file resolves to the SAME
  * schema up to nullability (which the relation drops anyway), where
  * merge-vs-first-file semantics cannot differ; any
  * disagreement (or unreadable footer) falls back to Spark's own
  * inference path, preserving its semantics bit-for-bit.
  */
object FooterSchemas {

  // Hadoop's default resources parsed once per JVM: `new Configuration()`
  // re-parses core-default.xml/core-site.xml on first use of every
  // instance; the copy constructor clones the parsed properties instead
  private lazy val parsedDefaults: Configuration = {
    val c = new Configuration()
    c.size() // forces the parse
    c
  }

  /** A fresh, mutable Hadoop `Configuration` with the default resources
    * loaded — for task-side writers that must not depend on the
    * driver's conf object. A copy, so it costs no XML parse.
    */
  def hadoopConf(): Configuration = new Configuration(parsedDefaults)

  /** Open `file`'s footer with read options built from `conf`. The
    * one-argument `ParquetFileReader.open(InputFile)` builds its options
    * from a fresh `new Configuration()`, re-parsing Hadoop's default
    * XML per call (7-9 ms against 0.2-0.3 ms here, sf0.01
    * `orders.parquet`, 4-core box). No record filter: footer readers see
    * every row group.
    */
  def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file)
        .withRecordFilter(FilterCompat.NOOP).build())

  /** Row count of `file` from its footer. */
  def rowCount(conf: Configuration, file: String): Long = {
    val r = open(conf, new Path(file))
    try r.getRecordCount finally r.close()
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[graft] def invalidate(tableNorm: String): Unit =
    memo.keySet.removeIf(p =>
      new Path(p).toUri.getPath.startsWith(tableNorm + "/"))

  /** Memo ceiling with PARTIAL eviction: crossing it drops ~1/8 of the
    * entries (arbitrary victims — every entry is a pure cache of an
    * immutable file) instead of wiping the whole memo, so a table just
    * above the ceiling stops re-paying every footer on every read
    * (round-11 advice: `clear()` made 64 Ki+ file tables thrash).
    */
  private val MaxEntries = 65536

  private def evictIfFull(): Unit = {
    if (memo.size <= MaxEntries) return
    val it = memo.keySet.iterator
    var n = MaxEntries >> 3
    while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1 }
  }

  private def fromMetadata(spark: SparkSession,
      md: org.apache.parquet.hadoop.metadata.FileMetaData): StructType = {
    val json = md.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    val fromJson =
      if (json == null) None
      else scala.util.Try(
        DataType.fromJson(json).asInstanceOf[StructType]).toOption
    fromJson.getOrElse(
      org.apache.spark.sql.GraftShim.footerSchema(spark, md.getSchema))
  }

  /** `file`'s schema read from its footer now, bypassing the memo. */
  private def footer(spark: SparkSession, file: String): StructType = {
    val reader = open(spark.sparkContext.hadoopConfiguration, new Path(file))
    try fromMetadata(spark, reader.getFooter.getFileMetaData)
    finally reader.close()
  }

  /** Seed the memo from a footer the caller ALREADY holds open — the
    * commit-time stats loop reads every fresh file's footer anyway, so
    * the first read of a new commit never pays the footer round-trip
    * twice. Never throws (seeding is a pure optimization).
    */
  private[sources] def seed(spark: SparkSession, file: String,
      md: org.apache.parquet.hadoop.metadata.FileMetaData): Unit =
    try {
      evictIfFull()
      memo.put(file, fromMetadata(spark, md)): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Per-file inferred schema, driver-side, memoized (data/sidecar
    * files are immutable and their UUID-dir paths never reused).
    */
  private def of(spark: SparkSession, file: String): StructType = {
    val hit = memo.get(file)
    if (hit != null) return hit
    val sch = footer(spark, file)
    evictIfFull()
    memo.put(file, sch)
    sch
  }

  /** Above this many cold footers, the driver path declines and the
    * caller uses Spark's own distributed inference: a cold driver-side
    * walk of 10⁵–10⁶ footers is serial O(n) round-trips on an object
    * store — slower than the one inference job it would replace. The
    * common reads (table loads, DML probes, feed steps, sidecars) touch
    * few files or hit the memo and stay on the driver path.
    */
  private def maxDriverReads(spark: SparkSession): Int =
    spark.conf.get("graft.snapshot.footerSchemaMaxDriverReads", "4096").toInt

  /** `f` over `files`, concurrently when there are more than a few:
    * footer round-trips dominate on remote storage and are independent.
    * Any failure propagates.
    */
  private def fetchAll[A](files: Seq[String])(f: String => A): Seq[A] =
    if (files.size <= 4) files.map(f)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, files.size))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(files.map(p =>
          new java.util.concurrent.Callable[A] {
            override def call(): A = f(p)
          }).asJava).asScala.toSeq.map(_.get())
      } finally pool.shutdown()
    }

  /** The one schema `schemas` share: the footer schema itself when they
    * are all equal (what Spark's inference gives for one file, nested
    * nullability included), else its nullable form when they differ only
    * in nullability — a file-source relation makes its data schema
    * nullable at any depth, which is what Spark's inference then yields.
    */
  private def agreed(schemas: Seq[StructType]): Option[StructType] =
    schemas.headOption.flatMap { h =>
      if (schemas.forall(_ == h)) Some(h)
      else {
        val n = org.apache.spark.sql.GraftShim.asNullable(h)
        if (schemas.forall(
          org.apache.spark.sql.GraftShim.asNullable(_) == n)) Some(n)
        else None
      }
    }

  /** The schema every file in `files` agrees on (see [[agreed]]) — None when
    * any two differ, any footer fails to read driver-side, or more
    * footers than the driver-read cap would need a cold open (the caller
    * then falls back to Spark's own distributed inference).
    */
  def uniform(spark: SparkSession, files: Seq[String]): Option[StructType] =
    try {
      val missing = files.filterNot(memo.containsKey)
      if (files.isEmpty || missing.size > maxDriverReads(spark)) None
      else {
        fetchAll(missing)(of(spark, _))
        agreed(files.map(of(spark, _)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The schema Spark's inference gives the engine's own `files`: from
    * the memoized footers when they agree, else from Spark's inference.
    */
  def schemaOf(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean = false): StructType =
    uniform(spark, files).getOrElse(
      readAs(spark, None, files, mergeSchema).schema)

  /** A parquet read of the engine's own `files` with no inference job
    * when their footers agree; else Spark's own inference.
    */
  def read(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean = false): DataFrame =
    readAs(spark, uniform(spark, files), files, mergeSchema)

  /** A parquet read of `paths` under `schema`, or under Spark's own
    * inference (merged across files when `mergeSchema`) when it is None.
    */
  def readAs(spark: SparkSession, schema: Option[StructType],
      paths: Seq[String], mergeSchema: Boolean = false): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read
        .option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
    }

  // Spark's file-index rule for names its listing skips
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The schema `spark.read.parquet(path)` would infer for a USER path,
    * from footers read now on the driver (never the memo: user files
    * can be rewritten in place). A file: its footer. A directory of
    * data files: their footers, when they all agree. None — the caller
    * keeps Spark's own inference — for globs, partition subdirectories,
    * `_metadata`/`_common_metadata` summary files, disagreeing or
    * unreadable footers, and directories above the driver-read cap.
    */
  def inferFresh(spark: SparkSession, path: String): Option[StructType] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      def name(s: FileStatus) = s.getPath.getName
      val entries = if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
      val data = entries.filterNot(s => hidden(name(s)))
      val decline = path.exists("{}[]*?\\".contains(_)) ||
        entries.exists(s => Seq("_metadata", "_common_metadata")
          .exists(name(s).startsWith)) ||
        data.isEmpty || data.size > maxDriverReads(spark) ||
        data.exists(_.isDirectory)
      if (decline) None
      else agreed(fetchAll(data.map(_.getPath.toString))(footer(spark, _)))
    } catch { case scala.util.control.NonFatal(_) => None }
}
