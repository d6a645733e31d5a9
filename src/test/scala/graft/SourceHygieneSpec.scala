package graft

import org.scalatest.funsuite.AnyFunSuite

/** One of each: the library builds its sessions in [[GraftSession]] and
  * counts jobs and stages in [[graft.obs.JobCensus]] only, so a second
  * hand-built session or listener in `src/main` fails here. */
class SourceHygieneSpec extends AnyFunSuite {

  /** Each `src/main` Scala file's path and code, comments removed. */
  private lazy val sources: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} missing")
    walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      root.toPath.relativize(f.toPath).toString ->
        text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }
  }

  private def filesMatching(re: String): Seq[String] =
    sources.collect { case (path, code) if re.r.findFirstIn(code).nonEmpty => path }
      .sorted

  test("src/main builds a SparkSession only in GraftSession") {
    assert(filesMatching("""SparkSession\s*\.\s*builder\b""") ==
      Seq("graft/GraftSession.scala"))
  }

  test("src/main implements SparkListener only in JobCensus") {
    assert(filesMatching(
      """\b(?:extends|with|new)\s+(?:org\.apache\.spark\.scheduler\.)?""" +
        """SparkListener(?:Interface)?\b""") == Seq("graft/obs/JobCensus.scala"))
  }
}
