package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The SQL fragments both engines must spell alike are written once, in
  * `Stages`. This spec scans the main sources and fails on a hand-written
  * copy of one anywhere else:
  *  - the md5 row hash (`Stages.md5BitsSql` for Spark,
  *    `Stages.duckMd5BitsSql` for DuckDB): `conv(substring(md5` on the
  *    Spark side, a `'0x'` literal joined to `substring(md5` on the DuckDB
  *    side. The one exception is the SimHash oracle's 16-digit UBIGINT
  *    signature, which is not a BIGINT;
  *  - integer cents (`Stages.centsSql`): `round(… * 100) AS BIGINT)`;
  *  - lineitem revenue units (`Stages.lineitemRevUnitsSql`): a
  *    `(100 - <discount cents>` factor, in raw text or over `centsSql`;
  *  - whole lineitem quantities (`Stages.lineitemQtySql`):
  *    `round(l_quantity) AS BIGINT`;
  *  - event-time seconds and buckets (`Stages.epochBucketSql` for Spark,
  *    `Stages.duckEpochBucketSql` for DuckDB): a `CAST(<column> AS LONG)`
  *    or a `.cast("long")` of a timestamp column on the Spark side,
  *    `epoch(`, `epoch_us(` or `floor(epoch(` on the DuckDB side.
  */
class Md5HashSourceSpec extends AnyFunSuite {

  /** One fixed spelling: the patterns of a hand-written copy, and the
    * (file, line text) pairs that may match them.
    */
  private case class Fragment(
      label: String,
      handWritten: Seq[Regex],
      allowed: Seq[(String, String)] = Nil)

  private val fragments = Seq(
    Fragment(
      "md5 row hash",
      Seq(
        """(?i)conv\s*\(\s*substring\s*\(\s*md5""".r,
        """(?i)'0x'\s*(,|\|\|)\s*substring\s*\(\s*md5""".r),
      Seq("SparkEntry.scala" -> "CAST(concat('0x', substring(md5(tok),1,16)) AS UBIGINT) AS h")),
    Fragment("integer cents", Seq("""(?i)\*\s*100\s*\)\s*AS\s+BIGINT\s*\)""".r)),
    Fragment(
      "lineitem revenue unit",
      Seq("""(?i)\(\s*100\s*-\s*(CAST\s*\(\s*round\s*\(\s*\(?\s*l_discount|\$\{\s*(engine\.)?(Stages\.)?centsSql\s*\(\s*"l_discount")""".r)),
    Fragment("whole lineitem quantity", Seq("""(?i)round\s*\(\s*l_quantity\s*\)\s*AS\s+BIGINT""".r)),
    Fragment(
      "Spark epoch second",
      Seq(
        """(?i)CAST\s*\(\s*[\w.$]+\s+AS\s+LONG\s*\)""".r,
        """(?i)AS\s+TIMESTAMP\s*\)\s*AS\s+LONG\s*\)""".r,
        // a timestamp column, or its min or max, cast to long
        """(?i)col\s*\(\s*"[\w.]*(ts|ts_\w+|start|end|date)"\s*\)\s*\.cast\s*\(\s*"long"""".r,
        """(?i)\b(min|max)\s*\(\s*col\s*\(\s*"[\w.]*(ts|ts_\w+|start|end|date)"\s*\)\s*\)\s*\.cast\s*\(\s*"long"""".r)),
    Fragment("DuckDB epoch second", Seq("""(?i)\bepoch(_us)?\s*\(""".r, """(?i)floor\s*\(\s*epoch""".r)))

  private lazy val root = Paths.get("src/main/scala")

  /** Every main source but `Stages`, as (path, lines). */
  private lazy val sources: Seq[(Path, Seq[String])] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("engine", "Stages.scala")))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
      .toSeq
  }

  for (f <- fragments) test(s"no ${f.label} is spelled outside Stages") {
    val found = sources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if f.handWritten.exists(_.findFirstIn(line).isDefined) &&
            !f.allowed.exists { case (file, text) => p.endsWith(file) && line.contains(text) } =>
          s"${root.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    if (found.nonEmpty) fail(found.mkString(s"hand-written ${f.label}:\n", "\n", ""))
  }
}
