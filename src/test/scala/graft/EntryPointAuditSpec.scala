package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of every object that defines `def main` (or extends
  * `App`). The entry points are the timing and correctness-dump mains
  * (`Bench`, `Verify`), the scale ladder's data generator
  * (`ScaleUpMain`) and the pipeline CLI (`io.PipelineMain`); test scope
  * has none. A measurement goes into
  * perfbench's tracer (`perfbench/run.py --trace 1`) or into a spec, not
  * into a new main: a new entry point fails the suite until it is added
  * HERE, and a removed one fails as stale.
  */
class EntryPointAuditSpec extends AnyFunSuite {

  private val allow: Map[String, Set[String]] = Map(
    "src/main/scala" -> Set(
      "graft.Bench", "graft.Verify", "graft.ScaleUpMain", "graft.io.PipelineMain"),
    "src/test/scala" -> Set.empty)

  private def entryPoints(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    walk(new java.io.File(root)).flatMap { f =>
      val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.map(_.replaceAll("//.*", "")).mkString("\n")
      val prefix = pkg.findAllMatchIn(code).map(_.group(1) + ".").mkString
      // each entry point belongs to the nearest object declared before it
      main.findAllMatchIn(code).flatMap { m =>
        obj.findAllMatchIn(code.substring(0, m.end)).toSeq.lastOption
          .map(o => prefix + o.group(1))
      }
    }.toSet
  }

  test("the objects that define an entry point are exactly the allowlist") {
    val found = allow.keys.map(root => root -> entryPoints(root)).toMap
    val unlisted = allow.map { case (root, ok) => root -> found(root).diff(ok) }
      .filter(_._2.nonEmpty)
    val stale = allow.map { case (root, ok) => root -> ok.diff(found(root)) }
      .filter(_._2.nonEmpty)
    assert(unlisted.isEmpty,
      s"unlisted entry points (measure with perfbench's tracer or a spec, " +
        s"or add the object to EntryPointAuditSpec.allow): $unlisted")
    assert(stale.isEmpty, s"stale EntryPointAuditSpec allowlist entries: $stale")
  }
}
