package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Shared filesystem helpers.
  *
  * `deleteTree` is the ONE recursive delete (store teardown, artifact-cache
  * cleanup, Verify's stale-output drop all used to carry private copies).
  * The walk is materialized and its stream closed BEFORE deleting: the
  * open stream holds a directory fd. `strict = true` propagates any
  * failure (a store teardown must not half-succeed silently);
  * `strict = false` is best-effort cleanup that tolerates missing dirs and
  * per-file races.
  *
  * `tempDir` and `reapOnExit` hand scratch dirs to a single JVM shutdown
  * reaper, so gates, tools and tests leave nothing behind in
  * java.io.tmpdir. Deletion is best-effort: a crash leaks one run's dirs,
  * not an unbounded accumulation.
  */
object Fs {
  def deleteTree(dir: Path, strict: Boolean = false): Unit =
    if (strict || Files.exists(dir)) {
      val s = Files.walk(dir)
      val paths = try s.iterator().asScala.toSeq finally s.close()
      if (strict) paths.reverse.foreach(Files.delete)
      else paths.reverse.foreach(f =>
        try Files.deleteIfExists(f) catch { case _: Exception => () })
    }

  /** A fresh directory under java.io.tmpdir, removed at JVM exit. */
  def tempDir(prefix: String): Path = reapOnExit(Files.createTempDirectory(prefix))

  /** Register `p` (created now or later) for deletion at JVM exit. */
  def reapOnExit(p: Path): Path = { reaper; reaped.add(p); p }

  private val reaped = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val reaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => reaped.forEach(p =>
      try deleteTree(p) catch { case _: Exception => () })))
}
