package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Order-independent result fingerprints: row count plus the sum of a
  * per-row xxhash64 over the columns sorted by name. Floating values are
  * rounded to 6 decimals first, so summation-order noise in the last
  * bits does not read as a different answer.
  */
object Check {
  final case class Print(rows: Long, hash: Long)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _ => c
  }

  def fingerprint(df: DataFrame): Print = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).map {
      case (f, i) => canon(col(s"c$i"), f.dataType)
    }
    // masked to 40 bits so the sum cannot overflow under ANSI mode
    val h = xxhash64(cols.toSeq: _*).bitwiseAND(lit((1L << 40) - 1))
    val r = named.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Print(r.getLong(0), r.getLong(1))
  }

  /** Expected fingerprints: one `name<TAB>rows<TAB>hash` line each. */
  def load(path: String): Map[String, Print] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, h) = l.split('\t')
        n -> Print(r.toLong, h.toLong)
      }.toMap

  def save(path: String, header: String, ps: Seq[(String, Print)]): Unit = {
    val lines = s"# $header" +: ps.sortBy(_._1).map { case (n, p) =>
      s"$n\t${p.rows}\t${p.hash}" }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
