package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the one session profile, no Spark needed: sessions
  * are built only by `GraftSession` (plus the two specs that test the
  * deploy routes themselves), and no operator re-registers the graft
  * functions — the extension installs them once per session. */
class SessionProfileGuardSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"$dir not found")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally walk.close()
  }

  /** Files under `dirs` containing `pattern`, minus the `allowed` ones. */
  private def offenders(pattern: String, dirs: Seq[String],
                        allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    dirs.flatMap(sources).filter { p =>
      re.findFirstIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .isDefined
    }.map(_.toString).filterNot(allowed).sorted
  }

  test("sessions are built only by GraftSession and the deploy-route specs") {
    val found = offenders("""SparkSession\s*\.\s*builder\s*\(""",
      Seq("src/main/scala", "src/test/scala"),
      Set("src/main/scala/graft/GraftSession.scala",
        "src/test/scala/graft/GraftExtensionsSpec.scala",
        "src/test/scala/graft/SqlDeployCheck.scala"))
    assert(found.isEmpty, s"build sessions with GraftSession(): $found")
  }

  test("the graft functions are registered in src/main only by Graft.init") {
    val found = offenders("""GraftExpressions\s*\.\s*register\s*\(""",
      Seq("src/main/scala"),
      Set("src/main/scala/graft/Graft.scala",
        "src/main/scala/graft/plans/GraftExpressions.scala"))
    assert(found.isEmpty, s"GraftExtensions already installs them: $found")
  }
}
