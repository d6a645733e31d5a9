package graft

import org.scalatest.funsuite.AnyFunSuite

/** One of each: the library builds its sessions in [[GraftSession]],
  * counts jobs and stages in [[graft.obs.JobCensus]], reads parquet
  * schemas in [[graft.sources.GraftData]], names staged fixtures in
  * [[Stage]] and ties SQL names to expressions in [[GraftExtensions]]
  * only, so a second copy of any of these in `src/main` fails here. */
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

  test("src/main sets the parquet nanosAsLong read only in GraftSession") {
    assert(filesMatching("""parquet\.nanosAsLong|LEGACY_PARQUET_NANOS_AS_LONG""") ==
      Seq("graft/GraftSession.scala"))
  }

  test("src/main infers a parquet schema only in GraftData") {
    assert(filesMatching("""\bread(?:Stream)?\s*\.\s*parquet\s*\(""") ==
      Seq("graft/sources/GraftData.scala"))
  }

  test("src/main binds graft expressions directly, never by function name") {
    assert(filesMatching(
      """\b(?:call_function|createOrReplaceTempFunction|functionRegistry)\b""").isEmpty)
  }

  test("src/main computes staging digests only in Stage") {
    // a digest in a file that stages something names a staged artifact
    assert(filesMatching("""\b(?:MessageDigest|DigestUtils)\b""")
      .intersect(filesMatching("""\bStage\b""")) == Seq("graft/Stage.scala"))
  }
}
