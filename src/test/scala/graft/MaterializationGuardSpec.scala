package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps materialization and session set-up in their two modules: no
  * file under `src/main/scala` other than `ops/StagePersists.scala` and
  * `LocalSession.scala` may checkpoint, persist, read the persisted-RDD
  * registry or build a session. Likewise only the LM modules build the
  * bigram scoring kernel. Comments are exempt. */
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

  /** Lines of `src/main/scala/graft` outside `allowed` (paths relative
    * to it) whose code contains one of `tokens`. */
  private def violations(tokens: Seq[String], allowed: Set[String]): Seq[String] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(root).filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "StagePersists.scala"))
    for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if !allowed.contains(rel)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      (line, n) <- code(src).linesIterator.zipWithIndex
      token <- tokens if line.contains(token)
    } yield s"$rel:${n + 1}: $token"
  }

  test("only StagePersists and LocalSession materialize or build sessions") {
    val found = violations(Forbidden, Allowed)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only the LM modules build the bigram scoring kernel") {
    // a per-route LM gate scores through ScriptLm.withScores; a gate
    // built by hand in queries/ would fork its projection again
    val found = violations(Seq("BigramScore("), Set("functions/BigramScore.scala",
      "text/ScriptLm.scala", "text/LanguageModel.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
