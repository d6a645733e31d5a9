package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Writable scratch root for runtime-staged artifacts (stream-replay
  * dirs, reader fixtures, metrics dumps). Resolution order:
  *
  *  1. `SPARK_GRAFT_STAGE_DIR` env override (explicit deploys),
  *  2. `<cwd>/target` when present-or-creatable and writable — the
  *     usual sbt-checkout case, keeping artifacts out of /tmp where the
  *     oracle side expects to re-read them across processes,
  *  3. `<java.io.tmpdir>/graft-stage` as the fallback, so the library
  *     still runs from a read-only install dir.
  *
  * Every artifact a query derives from its input tables goes through
  * [[fixture]], which builds it once per source state.
  */
object Stage {
  lazy val root: Path = {
    val candidates =
      sys.env.get("SPARK_GRAFT_STAGE_DIR").map(Paths.get(_)).toSeq ++
        Seq(Paths.get("target").toAbsolutePath,
          Paths.get(sys.props("java.io.tmpdir"), "graft-stage"))
    candidates.find { p =>
      try { Files.createDirectories(p); Files.isWritable(p) }
      catch { case _: Throwable => false }
    }.getOrElse(Paths.get(sys.props("java.io.tmpdir")))
  }

  /** `<root>/<sub>`, created. */
  def dir(sub: String): Path = {
    val p = root.resolve(sub)
    Files.createDirectories(p)
    p
  }

  /** Absolute path string for a staged file `<root>/<sub>/<name>`
    * (parent created, file itself left to the caller). */
  def path(sub: String, name: String): String =
    dir(sub).resolve(name).toString

  /** One lock per fixture path: threads of one JVM build a fixture once. */
  private val building = new ConcurrentHashMap[Path, AnyRef]()

  /** The fixture at `<root>/<sub>/<name>` — a file or a directory that
    * `build` derives from the tables of `srcDir` — built once per key
    * and reused while the key holds.
    *
    * The key is the absolute source dir, `params`, and the size and
    * modification time of every `*.parquet` entry of `srcDir`, so a table
    * regenerated in place rebuilds the fixture. It is kept, one field a
    * line with the source dir first, in the marker `<path>.src`; the
    * fixture is fresh when its path exists and the marker holds its key.
    *
    * `build` writes the fixture at the path it is given, a private temp
    * sibling; that is moved into place atomically (a stale fixture is
    * first moved aside), and the marker is written last. `name` defaults
    * to a digest of the source dir and `params`, for fixtures nothing
    * outside the query reads by name. Returns the fixture's path. */
  def fixture(sub: String, srcDir: String, params: String = "",
      name: String = "")(build: Path => Unit): Path = {
    val src = Paths.get(srcDir).toAbsolutePath.normalize()
    val key = (Seq(src.toString, params) ++ sourceState(src)).mkString("\n")
    val target = dir(sub).resolve(
      if (name.nonEmpty) name else digest(s"$src#$params"))
    val marker = Paths.get(s"$target.src")
    def fresh = Files.exists(target) && Files.exists(marker) &&
      new String(Files.readAllBytes(marker), UTF_8) == key
    if (!fresh) building.computeIfAbsent(target, _ => new AnyRef).synchronized {
      if (!fresh) {
        val tmp = sibling(target, "tmp")
        try {
          build(tmp)
          require(Files.exists(tmp), s"fixture build wrote nothing at $tmp")
          if (Files.exists(target)) {
            val old = sibling(target, "old")
            Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            deleteTree(old)
          } else Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        } finally deleteTree(tmp)
        val mtmp = sibling(marker, "tmp")
        Files.write(mtmp, key.getBytes(UTF_8))
        Files.move(mtmp, marker, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    target
  }

  /** Run `write` on a scratch directory (a Spark write coalesced to one
    * part), then move its one `part-*<ext>` file to `to`. */
  def singlePart(to: Path, ext: String)(write: String => Unit): Unit = {
    val parts = sibling(to, "parts")
    try {
      write(parts.toString)
      val part = Option(parts.toFile.listFiles()).toSeq.flatten
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
        .getOrElse(sys.error(s"no part-*$ext file written under $parts"))
      Files.move(part.toPath, to, StandardCopyOption.REPLACE_EXISTING)
    } finally deleteTree(parts)
  }

  /** `name size mtime` of each file under the `*.parquet` entries of
    * `src` (a table may be a file or a directory), in name order. */
  private def sourceState(src: Path): Seq[String] =
    Option(src.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .flatMap(t => walk(t.toPath).filter(Files.isRegularFile(_)))
      .map(f => s"${src.relativize(f)} ${Files.size(f)} " +
        Files.getLastModifiedTime(f).toMillis)

  /** `p` and everything under it, parents first; links are not followed. */
  private def walk(p: Path): Seq[Path] = {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.sortBy(_.toString) finally st.close()
  }

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .take(6).map("%02x".format(_)).mkString

  private def sibling(p: Path, tag: String): Path =
    p.resolveSibling(s"${p.getFileName}.$tag-${java.util.UUID.randomUUID()}")

  /** Delete `p` and everything under it; a link is deleted, not its
    * target (a staged stream dir links to its source table). */
  private def deleteTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS))
      walk(p).reverse.foreach(Files.delete)
}
