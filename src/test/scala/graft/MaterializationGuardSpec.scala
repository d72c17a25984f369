package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps materialization and session set-up in their two modules: no
  * file under `src/main/scala` other than `ops/StagePersists.scala` and
  * `LocalSession.scala` may checkpoint, persist, read the persisted-RDD
  * registry or build a session. Comments are exempt. */
class MaterializationGuardSpec extends AnyFunSuite {

  private val Forbidden = Seq("localCheckpoint(", ".persist(",
    "getPersistentRDDs", "CheckpointRotation", "SparkSession.builder")
  private val Allowed = Set("ops/StagePersists.scala", "LocalSession.scala")

  /** `src` with every comment blanked; string literals are kept. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // nesting depth of /* */ comments
    var quote: String = null // the open string literal's delimiter
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (depth > 0) {
        if (at("*/")) { depth -= 1; i += 2 }
        else if (at("/*")) { depth += 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (quote != null) {
        if (quote == "\"" && at("\\")) { out ++= src.substring(i, i + 2); i += 2 }
        else if (at(quote)) { out ++= quote; i += quote.length; quote = null }
        else { out += src(i); i += 1 }
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("\"\"\"")) { quote = "\"\"\""; out ++= quote; i += 3 }
      else if (at("\"")) { quote = "\""; out += '"'; i += 1 }
      else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else { out += src(i); i += 1 }
    }
    out.result()
  }

  test("comments are exempt, code and strings are not") {
    val src = "val a = 1 // x.persist(\n/* localCheckpoint( /* nested */ */\n" +
      "val b = df.persist()\nval c = \"// not a comment\"; d.localCheckpoint(true)"
    val c = code(src)
    assert(!c.contains("x.persist("))
    assert(c.contains("df.persist("))
    assert(c.contains("d.localCheckpoint("))
    assert(c.linesIterator.size == src.linesIterator.size)
  }

  test("only StagePersists and LocalSession materialize or build sessions") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(root).filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "StagePersists.scala"))
    val violations = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if !Allowed.contains(rel)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      (line, n) <- code(src).linesIterator.zipWithIndex
      token <- Forbidden if line.contains(token)
    } yield s"$rel:${n + 1}: $token"
    assert(violations.isEmpty, violations.mkString("\n", "\n", ""))
  }
}
