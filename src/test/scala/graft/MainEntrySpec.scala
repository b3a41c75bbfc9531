package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are the batch harness (`Bench`, `Verify`),
  * the plan tools (`Explain`, `PlanAudit`), the fixture rewriter and the
  * streaming pipeline. A one-off measurement belongs in a spec or in
  * `tools/bench_subset.sh`, not in a new `main` under `src/main`: this
  * spec lists every `object … { def main` in the main sources and fails
  * when the set changes.
  */
class MainEntrySpec extends AnyFunSuite {

  private val expected =
    Set("Bench", "Verify", "Explain", "PlanAudit", "RewriteFixture", "StreamMain")

  private val objectDecl = """\bobject\s+(\w+)""".r
  private val mainDef = """\bdef\s+main\s*\(""".r

  /** Each `def main` is attributed to the nearest `object` declared above it. */
  private def mainObjects(src: String): Seq[String] =
    mainDef.findAllMatchIn(src).toSeq.map { m =>
      objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        .map(_.group(1))
        .getOrElse(fail(s"def main at offset ${m.start} outside any object"))
    }

  test("src/main declares exactly the known main objects") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    val found = files.flatMap(p => mainObjects(Files.readString(p)).map(_ -> p))
    assert(found.map(_._1).toSet == expected,
      s"main objects: ${found.map { case (o, p) => s"$o ($p)" }.sorted.mkString(", ")}")
    assert(found.size == expected.size, s"a main object is declared twice: $found")
  }

  test("Explain rejects an unknown query name through SparkEntry.select") {
    val e = intercept[IllegalArgumentException](
      Explain.main(Array("no-such-fixture", "q_no_such_query")))
    assert(e.getMessage == "unknown queries: q_no_such_query")
  }
}
