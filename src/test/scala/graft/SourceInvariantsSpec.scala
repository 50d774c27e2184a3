package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** "One way to do each thing", kept by scanning `src/main`: one
  * parquet encoder (Spark's), one footer-open path and one
  * run-concurrently helper. Each case names the files that broke the
  * rule. */
class SourceInvariantsSpec extends AnyFunSuite {
  private val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      .map((p: Path) => p.toString -> new String(Files.readAllBytes(p), UTF_8))
      .sortBy(_._1)
    finally walk.close()
  }

  /** Files under `src/main` whose text matches `pattern`, except those
    * named in `allowed`. */
  private def offenders(pattern: String, allowed: String*): Seq[String] =
    sources.collect {
      case (p, text) if !allowed.contains(Paths.get(p).getFileName.toString) &&
          pattern.r.findFirstIn(text).isDefined => p
    }

  test("src/main is scanned") {
    assert(sources.exists(_._1.endsWith("ParquetFooters.scala")), sources.map(_._1))
  }

  test("no file uses parquet-mr's example Group API: Spark's writer encodes every file") {
    val bad = offenders("""org\.apache\.parquet\.example""")
    assert(bad.isEmpty, s"org.apache.parquet.example in ${bad.mkString(", ")}")
  }

  test("only ParquetFooters opens a parquet file reader") {
    val bad = offenders("""ParquetFileReader\.open\(""", "ParquetFooters.scala")
    assert(bad.isEmpty, s"ParquetFileReader.open( in ${bad.mkString(", ")}")
  }

  test("only Branches and SessionMemo await a future") {
    // the qualified call, or an import of Await (alone, in braces, or
    // by wildcard)
    val bad = offenders("""scala\.concurrent\.(Await\b|\{[^}]*\bAwait\b|_)""",
      "Branches.scala", "SessionMemo.scala")
    assert(bad.isEmpty, s"scala.concurrent.Await in ${bad.mkString(", ")}")
  }
}
