package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of every `ConcurrentHashMap` construction in main.
  * A JVM-lifetime map keyed by a corpus path is a fit memo or an oracle
  * recording that serves a stale value once the corpus is rewritten in
  * place; fits and recordings go through `graft.io.Artifacts.once`, which
  * refits on changed content, and oracles read recordings back through
  * `Artifacts.single`, which ignores a stale one. Each remaining map must
  * carry its reason here. A new map fails the
  * suite until it goes through `Artifacts.once` or its file's count and
  * reason are updated HERE; a removed one fails as stale. Constructions
  * through a `type X = ConcurrentHashMap[...]` alias count as maps.
  */
class MemoAuditSpec extends AnyFunSuite {

  // file -> (expected ConcurrentHashMap constructions, why each is kept)
  private val allow: Map[String, (Int, String)] = Map(
    "Artifacts.scala" -> (1,
      "the fit-once store itself: one slot per (corpus, artifact), valid only for the content fingerprint it was fitted on"),
    "Bucketing.scala" -> (1,
      "lock: one monitor per bucketed table name, so racing ensureBucketed calls cannot both drop and re-create it"),
    "StreamOps.scala" -> (1,
      "stager: staged stream-source chunk dirs per (source, key, chunks), so every run of a stream replays the same drops"))

  test("every ConcurrentHashMap construction in main is allowlisted with a reason") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = walk(new java.io.File("src/main/scala")).flatMap { f =>
      val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.map(_.replaceAll("//.*", "")).mkString("\n")
      val aliases = """type\s+(\w+)\s*=\s*(?:java\.util\.concurrent\.)?ConcurrentHashMap\b""".r
        .findAllMatchIn(code).map(_.group(1)).toSeq
      val n = ("""new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\b""".r +: aliases
          .map(a => s"""new\\s+$a\\b""".r)).map(_.findAllIn(code).size).sum
      if (n > 0) Some(f.getName -> n) else None
    }.toMap
    val unlisted = found.filter { case (f, n) => allow.get(f).forall(_._1 != n) }
    val stale = allow.filter { case (f, (n, _)) => !found.get(f).contains(n) }
    assert(unlisted.isEmpty,
      s"ConcurrentHashMap constructions without a recorded reason (file -> " +
        s"actual count; route a fit memo through Artifacts.once, or update " +
        s"MemoAuditSpec.allow with the map's reason): $unlisted")
    assert(stale.isEmpty,
      s"stale MemoAuditSpec allowlist entries (expected counts): $stale")
  }
}
