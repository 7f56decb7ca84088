package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.AvroCodec

/** Avro container-file read/write (SURVEY S22 — the fastavro
  * writer/reader round-trip, lab06-avro-streaming/avro_test.ipynb:43-100).
  *
  * Read path: binaryFile source → DataFileStream per file → records
  * re-encoded schemaless → decoded by the FromAvro expression, so file
  * and stream decoding share one codepath. Write path: one container
  * file per partition (the distributed layout — at scale each task
  * writes its own file, no driver collect).
  */
object AvroFiles {

  /** Read a directory/glob of .avro container files into a DataFrame. */
  def readAvro(spark: SparkSession, pathOrGlob: String,
      schemaJson: String): DataFrame = {
    import spark.implicits._
    val bytesDs = spark.read.format("binaryFile").load(pathOrGlob)
      .select(col("content")).as[Array[Byte]]
    val payloads = bytesDs.mapPartitions { files =>
      graft.functions.AvroLimits.install() // bound lengths before any decode
      files.flatMap { content =>
        val reader = new DataFileStream[GenericRecord](
          new ByteArrayInputStream(content),
          new GenericDatumReader[GenericRecord]())
        val writerSchema = reader.getSchema
        val datumWriter = new GenericDatumWriter[GenericRecord](writerSchema)
        val out = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        while (reader.hasNext) {
          val rec = reader.next()
          val bos = new ByteArrayOutputStream()
          val enc = EncoderFactory.get().binaryEncoder(bos, null)
          datumWriter.write(rec, enc)
          enc.flush()
          out += bos.toByteArray
        }
        reader.close()
        out
      }
    }
    payloads.toDF("value")
      .select(AvroCodec.from_avro(col("value"), schemaJson).as("data"))
      .select("data.*")
  }

  /** Write a DataFrame as Avro container files, one per partition.
    * Columns are encoded via the ToAvro expression (struct → schemaless
    * bytes) and wrapped in the container format executor-side.
    */
  def writeAvro(df: DataFrame, dir: String, schemaJson: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = struct(df.columns.map(col).toIndexedSeq: _*)
    val encoded = df.select(AvroCodec.to_avro(cols, schemaJson).as("value"))
      .as[Array[Byte]]
    // Hadoop FileSystem IO on BOTH sides, never java.io.File: a
    // java.io.File write inside mapPartitions lands on each executor's
    // LOCAL disk on a real cluster — scattered output the caller never
    // sees. Tasks resolve the filesystem from the path with the
    // executor's own Configuration (core-site ships with the deployment,
    // the standard Hadoop-conf distribution).
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(dirPath)
    encoded.rdd.mapPartitionsWithIndex { (pid, it) =>
      graft.functions.AvroLimits.install() // bound lengths before any decode
      val schema = new Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](schema)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      val p = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.avro")
      val out = p.getFileSystem(FooterSchemas.hadoopConf()).create(p, true)
      writer.create(schema, out)
      it.foreach { bytes =>
        val dec = org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(bytes, null)
        writer.append(reader.read(null, dec))
      }
      writer.close() // closes the stream
      Iterator.single(p.getName)
    }.count() // force the write
  }
}
