package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: the slow metadata paths stay out.
  *  - The one-argument `ParquetFileReader.open(InputFile)` builds its
  *    read options from a fresh Hadoop `Configuration`, re-parsing the
  *    default XML on every footer open; footers open through
  *    `FooterSchemas.open(conf, path)`.
  *  - `new Configuration()` re-parses the same XML per instance;
  *    `FooterSchemas.hadoopConf()` copies one parsed instance.
  * Only `FooterSchemas.scala` itself may do either.
  */
class SourceLintSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")
  private val helper = "FooterSchemas.scala"

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  /** `src` with line and block comments removed; string literals are
    * kept intact, so a comment marker inside one is not taken for a
    * comment.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // nested block comments
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(src.length, j + 1)
        out ++= src.substring(i, stop); i = stop
      } else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Argument count of each call `name(` in `src`, by top-level commas
    * up to the matching close paren.
    */
  private def arities(src: String, name: String): Seq[Int] = {
    val at = name.r.findAllMatchIn(src).map(_.end).toSeq
    at.map { start =>
      var depth = 1
      var commas = 0
      var i = start
      while (i < src.length && depth > 0) {
        src(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ =>
        }
        i += 1
      }
      commas + 1
    }
  }

  private val openCall = """ParquetFileReader\s*\.\s*open\s*\("""
  private val newConf =
    """new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration\s*\(\s*\)""".r

  private def offenders(check: String => Boolean): Seq[String] =
    sources.filterNot(_.getName == helper).filter { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try check(code(s.mkString)) finally s.close()
    }.map(_.getPath)

  test("the lint sees the sources") {
    assert(sources.exists(_.getName == helper))
    assert(sources.size > 50)
  }

  test("no one-argument ParquetFileReader.open outside FooterSchemas") {
    val bad = offenders(arities(_, openCall).contains(1))
    assert(bad.isEmpty, s"open footers with FooterSchemas.open(conf, path): $bad")
  }

  test("no new Configuration() outside FooterSchemas") {
    val bad = offenders(newConf.findFirstIn(_).isDefined)
    assert(bad.isEmpty, s"copy FooterSchemas.hadoopConf() instead: $bad")
  }

  test("the lint catches what it bans and passes what it allows") {
    val slow = "val r = ParquetFileReader.open(\n  HadoopInputFile.fromPath(new Path(f), conf))"
    val fast = "val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, c),\n  opts)"
    assert(arities(code(slow), openCall) === Seq(1))
    assert(arities(code(fast), openCall) === Seq(2))
    assert(arities(code("// ParquetFileReader.open(x)\n/* ParquetFileReader.open(y) */"),
      openCall).isEmpty)
    assert(arities(code("val s = \"a//b\"; ParquetFileReader.open(x)"), openCall) === Seq(1))
    assert(newConf.findFirstIn(code("p.getFileSystem(new org.apache.hadoop.conf.Configuration())")).isDefined)
    assert(newConf.findFirstIn(code("val c = new Configuration()")).isDefined)
    assert(newConf.findFirstIn(code("new Configuration(other)")).isEmpty)
    assert(newConf.findFirstIn(code("// new Configuration()")).isEmpty)
  }
}
