package graft

import java.lang.reflect.Modifier

import org.scalatest.funsuite.AnyFunSuite

/** The README's library-surface section is the API reference a user
  * copies from: every backticked `Obj.method` it names for a `graft`
  * object (ops, jobs, streaming, or the `Graft` session entry) must
  * resolve, by reflection, to a public method of that object — a renamed
  * or removed method fails here instead of leaving a dead name in the
  * docs. Mentions inside `//` comments of the section's code blocks are
  * not API claims and are skipped; names of non-graft objects (Spark's,
  * say) are skipped too.
  */
class LibrarySurfaceSpec extends AnyFunSuite {

  private val packages = Seq("graft.ops", "graft.jobs", "graft.streaming", "graft")

  /** The section from its heading to the next `## ` heading. */
  private def surfaceSection(readme: String): String = {
    val start = readme.indexOf("## Library surface")
    assert(start >= 0, "README has no '## Library surface' section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  /** Backticked text of the section: fenced code blocks with their `//`
    * comments stripped, then the inline code spans of the prose.
    */
  private def codeSpans(section: String): Seq[String] = {
    val fence = "(?s)```[a-z]*\n(.*?)```".r
    val fenced = fence.findAllMatchIn(section).map(_.group(1)
      .linesIterator.map(_.replaceAll("//.*$", "")).mkString("\n")).toSeq
    val prose = fence.replaceAllIn(section, "")
    fenced ++ "`([^`\n]+)`".r.findAllMatchIn(prose).map(_.group(1))
  }

  private def graftObject(pkg: Option[String], name: String): Option[Class[_]] =
    pkg.map(p => Seq(s"graft.$p")).getOrElse(packages).iterator
      .flatMap(p => scala.util.Try(Class.forName(s"$p.$name$$")).toOption)
      .nextOption()

  test("every Obj.method the README's library surface names resolves to a public method") {
    val f = new java.io.File("README.md")
    assert(f.exists, s"README not found at ${f.getAbsolutePath} " +
      "(test must run from the repo root)")
    val section = surfaceSection(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val ref = "(?:(?:graft\\.)?(ops|jobs|streaming)\\.)?\\b([A-Z]\\w*)\\.([a-z]\\w*)".r
    val named = codeSpans(section).flatMap(ref.findAllMatchIn(_)).flatMap { m =>
      graftObject(Option(m.group(1)), m.group(2))
        .map(cls => (m.group(2), m.group(3), cls))
    }.distinct
    assert(named.size >= 150,
      s"only ${named.size} graft Obj.method names found — is the section intact?")
    val missing = named.filterNot { case (_, method, cls) =>
      cls.getMethods.exists(m => m.getName == method &&
        Modifier.isPublic(m.getModifiers))
    }.map { case (obj, method, _) => s"$obj.$method" }
    assert(missing.isEmpty,
      s"README names methods that do not exist: ${missing.sorted.mkString(", ")}")
  }
}
