package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The md5 row hash is written once per engine, in `Stages.md5BitsSql`
  * (Spark) and `Stages.duckMd5BitsSql` (DuckDB). This spec scans the main
  * sources and fails on a hand-written md5 → BIGINT spelling anywhere
  * else: `conv(substring(md5` on the Spark side, a `'0x'` literal joined
  * to `substring(md5` on the DuckDB side. The one exception is the
  * SimHash oracle's 16-digit UBIGINT signature, which is not a BIGINT.
  */
class Md5HashSourceSpec extends AnyFunSuite {

  private val handWritten = Seq(
    """(?i)conv\s*\(\s*substring\s*\(\s*md5""".r,
    """(?i)'0x'\s*(,|\|\|)\s*substring\s*\(\s*md5""".r)

  private val allowed = Seq("SparkEntry.scala" -> "CAST(concat('0x', substring(md5(tok),1,16)) AS UBIGINT) AS h")

  test("no md5 row hash is spelled outside Stages") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("engine", "Stages.scala")))
      .toSeq
    def hits(p: Path): Seq[String] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if handWritten.exists(_.findFirstIn(line).isDefined) &&
            !allowed.exists { case (f, text) => p.endsWith(f) && line.contains(text) } =>
          s"${root.relativize(p)}:${i + 1}: ${line.trim}"
      }
    val found = files.flatMap(hits)
    if (found.nonEmpty) fail(found.mkString("hand-written md5 hash:\n", "\n", ""))
  }
}
