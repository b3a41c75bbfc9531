package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are the batch harness (`Bench`, `Verify`),
  * the plan tools (`Explain`, `PlanAudit`), the fixture rewriter and the
  * streaming pipeline. A one-off measurement belongs in a spec or in
  * `tools/bench_subset.sh`, not in a new `main` under `src/main`: this
  * spec lists every `object … { def main` in the main sources and fails
  * when the set changes. It also fails on a public declaration in
  * `src/main` that no entry point reaches, so code that only specs call
  * cannot build up there.
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

  private lazy val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq

  private lazy val mainFiles: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    scalaFiles(root)
  }

  test("src/main declares exactly the known main objects") {
    val found = mainFiles.flatMap(p => mainObjects(Files.readString(p)).map(_ -> p))
    assert(found.map(_._1).toSet == expected,
      s"main objects: ${found.map { case (o, p) => s"$o ($p)" }.sorted.mkString(", ")}")
    assert(found.size == expected.size, s"a main object is declared twice: $found")
  }

  test("Explain rejects an unknown query name through SparkEntry.select") {
    val e = intercept[IllegalArgumentException](
      Explain.main(Array("no-such-fixture", "q_no_such_query")))
    assert(e.getMessage == "unknown queries: q_no_such_query")
  }

  /** Public names a spec alone may keep alive. It stays empty: such a name
    * is wired into an entry point, moved to `src/test`, or deleted.
    */
  private val specOnlyAllowlist = Set.empty[String]

  /** `src` with comments removed and the text of string and character
    * literals blanked, at the same offsets. The code of an interpolated
    * string's `${…}` or `$name` splice is kept: it is a reference.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r.pattern
    val ident = """[A-Za-z_]\w*""".r.pattern
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, src.length)).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    def matchAt(p: java.util.regex.Pattern, i: Int): Option[Int] = {
      val m = p.matcher(src).region(i, src.length)
      if (m.lookingAt()) Some(m.end) else None
    }
    // copies code from `start`; inside a splice, up to the `}` closing it
    def code(start: Int, inSplice: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < src.length && !(inSplice && depth == 0 && src(i) == '}')) {
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i)
          val end = if (j < 0) src.length else j
          blank(i, end); i = end
        } else if (src.startsWith("/*", i)) {
          var j = i; var nest = 0
          while (j < src.length && !(nest == 1 && src.startsWith("*/", j))) {
            if (src.startsWith("/*", j)) { nest += 1; j += 2 }
            else if (src.startsWith("*/", j)) { nest -= 1; j += 2 }
            else j += 1
          }
          blank(i, j + 2); i = j + 2
        } else if (src(i) == '"') i = string(i)
        else if (src(i) == '\'' && matchAt(charLit, i).isDefined) {
          val end = matchAt(charLit, i).get
          blank(i, end); i = end
        } else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i); i += 1
        }
      }
      i
    }
    def string(start: Int): Int = {
      val interpolated = start > 0 && (src(start - 1).isLetterOrDigit || src(start - 1) == '_')
      val quote = if (src.startsWith("\"\"\"", start)) "\"\"\"" else "\""
      def closes(k: Int): Boolean =
        if (quote.length == 3) src.startsWith(quote, k) && !src.startsWith(quote + "\"", k)
        else src(k) == '"'
      out ++= quote
      var i = start + quote.length
      while (i < src.length && !closes(i)) {
        if (quote.length == 1 && src(i) == '\\') { blank(i, i + 2); i += 2 }
        else if (interpolated && src.startsWith("$$", i)) { blank(i, i + 2); i += 2 }
        else if (interpolated && src.startsWith("${", i)) {
          out ++= " ("; i = code(i + 2, inSplice = true); out += ')'; i += 1
        } else if (interpolated && src(i) == '$' && matchAt(ident, i + 1).isDefined) {
          val end = matchAt(ident, i + 1).get
          out += ' '; out ++= src.substring(i + 1, end); i = end
        } else { blank(i, i + 1); i += 1 }
      }
      out ++= quote
      i + quote.length
    }
    code(0, inSplice = false)
    out.result()
  }

  private val declPattern = """\b(def|class|object|trait|val|var)\s+(`[^`]+`|[A-Za-z_]\w*)""".r
  private val usePattern = """([A-Za-z_]\w*)(?:\s*\.\s*([A-Za-z_]\w*))?""".r

  /** A declaration in a stripped source. `end` is where its body ends: the
    * next declaration at its brace depth, or the close of its block.
    * `owner` is the class, object or trait it is a member of, and a
    * declaration inside a def or val body is `local`: its text is part
    * of the enclosing member's.
    */
  private final class Decl(
      val file: Path, val kind: String, val name: String, val start: Int, val nameEnd: Int,
      val depth: Int, val mods: String, val line: Int) {
    var end = 0
    var owner: Option[Decl] = None
    var local = false
    var text = ""
    def isType: Boolean = kind == "class" || kind == "trait"
    def isMember: Boolean = !local && kind != "val" && kind != "var"
    private val modifiers = mods.split("\\W+").toSet
    def has(modifier: String): Boolean = modifiers(modifier)
    def label: String = s"${owner.fold("")(_.name + ".")}$name"
  }

  private def declarations(file: Path, code: String): Seq[Decl] = {
    val depthAt = code.scanLeft(0)((d, c) => if (c == '{') d + 1 else if (c == '}') d - 1 else d).toArray
    val decls = declPattern.findAllMatchIn(code).toSeq.flatMap { m =>
      val from = Seq('\n', ';', '{', '}').map(code.lastIndexOf(_, m.start - 1)).max
      val paramFrom = code.lastIndexOf('(', m.start - 1)
      // a `val` after an open paren on its line is a constructor parameter
      if ((m.group(1) == "val" || m.group(1) == "var") && paramFrom > from) None
      else Some(new Decl(file, m.group(1), m.group(2).stripPrefix("`").stripSuffix("`"),
        m.start, m.end, depthAt(m.start), code.substring(from + 1, m.start),
        code.substring(0, m.start).count(_ == '\n') + 1))
    }
    decls.zipWithIndex.foreach { case (d, k) =>
      val blockEnd = (d.start until code.length).find(q => depthAt(q) < d.depth).getOrElse(code.length)
      d.end = decls.drop(k + 1).takeWhile(_.start < blockEnd).find(_.depth == d.depth)
        .fold(blockEnd)(_.start)
    }
    val open = mutable.Stack.empty[Decl]
    decls.foreach { d =>
      while (open.nonEmpty && open.top.end <= d.start) open.pop()
      open.headOption.foreach { e =>
        if (e.local || !(e.kind == "class" || e.kind == "object" || e.kind == "trait")) d.local = true
        else d.owner = Some(e)
      }
      open.push(d)
    }
    decls.filter(_.isMember).foreach { d =>
      val inner = decls.filter(n => n.isMember && n.start > d.start && n.start < d.end)
      val pieces = mutable.ArrayBuffer.empty[String]
      var at = d.nameEnd
      inner.foreach { n => if (n.start >= at) { pieces += code.substring(at, n.start); at = n.end } }
      pieces += code.substring(at, d.end)
      d.text = pieces.mkString
    }
    decls
  }

  test("every public declaration in src/main is reached from an entry point, not only from specs") {
    val sources = mainFiles.map(p => p -> Files.readString(p))
    val all = sources.flatMap { case (p, src) => declarations(p, stripComments(src)) }
    val members = all.filter(_.isMember)
    // names declared directly in each object, to tell `Obj.member` (a use
    // of the object as a namespace) from a use of the object as a value
    val objectMembers = all.filter(_.kind == "object").map { o =>
      o.name -> all.filter(d => d.owner.contains(o) && !d.local).map(_.name).toSet
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
    val named = mutable.Set.empty[String]
    val asValue = mutable.Set.empty[String]
    def uses(text: String): Unit = usePattern.findAllMatchIn(text).foreach { m =>
      named += m.group(1)
      Option(m.group(2)).foreach(named += _)
      if (!Option(m.group(2)).exists(objectMembers.getOrElse(m.group(1), Set.empty[String]).contains))
        asValue += m.group(1)
    }
    val live = mutable.Set.empty[Decl]
    def reach(d: Decl): Unit = if (live.add(d)) uses(d.text)
    // the roots: every main, the driver's smoke entry, and what perfbench calls
    sources.foreach { case (p, src) =>
      val mains = mainObjects(src).toSet
      members.filter(d => d.file == p && d.name == "main" && d.owner.exists(o => mains(o.name)))
        .foreach { d => d.owner.foreach(reach); reach(d) }
    }
    members.filter(d => d.name == "entry" && d.owner.exists(_.name == "SparkEntry"))
      .foreach { d => d.owner.foreach(reach); reach(d) }
    scalaFiles(Paths.get("perfbench/src")).foreach(p => uses(stripComments(Files.readString(p))))
    // A member needs a live owner. A class or trait is live when its name
    // is used as a value or type; an override, or an object's apply, runs
    // only when its owner is used as a value; an implicit needs no name.
    def isLive(d: Decl): Boolean = d.owner.forall(live) && {
      if (d.has("implicit")) true
      else if (d.isType) asValue(d.name)
      else if (d.has("override")) d.owner.forall(o => o.kind != "object" || asValue(o.name))
      else named(d.name) ||
        (Set("apply", "unapply")(d.name) && d.owner.exists(o => asValue(o.name)))
    }
    var grew = true
    while (grew) {
      val next = members.filter(d => !live(d) && isLive(d))
      next.foreach(reach)
      grew = next.nonEmpty
    }
    val unreached = members.filter(d => !live(d) && !d.has("private") && !d.has("protected"))
      .filterNot(d => specOnlyAllowlist(d.label))
      .map(d => s"${d.label} (${root.relativize(d.file)}:${d.line})")
      .sorted
    if (unreached.nonEmpty)
      fail(unreached.mkString(
        "public declarations no entry point reaches (wire, move to src/test, or delete):\n", "\n", ""))
  }
}
