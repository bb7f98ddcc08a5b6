package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

/**
 * Per-user scratch root for content-fingerprinted caches (PQ
 * codebooks, Bloom filter bytes, fixture round-trip dirs, the embedded
 * Derby gate database). A bare world-writable `/tmp/graft_*` path is a
 * pre-creation attack surface on a shared host: another user can plant
 * a dir with a `_SUCCESS` marker and the correctness gate would load
 * it blindly. The root here is `$TMPDIR/graft_cache_<user>` created
 * `rwx------`, and the path is re-verified on EVERY `root` call (`def`,
 * not a lazy val — the state can change under a long-lived driver):
 * it must be a real directory (not a symlink — `NOFOLLOW_LINKS`
 * everywhere, or a planted link would redirect every cache to an
 * attacker-chosen location while the followed-link owner check still
 * passes) owned by the current user.
 */
object CacheDirs {

  /** Recursive delete that NEVER follows symlinks: a symlink (even to
    * a directory) is unlinked, not traversed — staged stream-source
    * dirs deliberately contain symlinks into the shared read-only
    * dataset, and `File.isDirectory` would happily recurse THROUGH
    * such a link into the link target. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (!Files.isSymbolicLink(f.toPath) && f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private val tempWork = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val tempHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempWork.forEach(p => deleteRecursively(p.toFile))
    }))

  /** A fresh per-invocation work dir, for gate queries whose result
    * DataFrame lazily reads files the query itself produced (streaming
    * sinks, job destinations): it cannot be deleted when the query fn
    * returns. The innermost `Checkpoints.scoped` block open on this
    * thread owns it and deletes it on exit, so repeated runs in one
    * JVM (bench, verify) do not pile dirs up; a dir made with no scope
    * open is removed by ONE JVM shutdown hook. */
  def tempWorkDir(prefix: String): Path = {
    require(prefix.startsWith("graft_") && !prefix.startsWith("graft_cache_"),
      s"temp work dir prefix '$prefix' must start with graft_ (and not graft_cache_)")
    val p = Files.createTempDirectory(prefix)
    if (!graft.operators.Checkpoints.ownDir(p)) { tempHook; tempWork.add(p) }
    p
  }

  /** The temp work dirs present now: the `graft_*` entries of the JVM's
    * temp dir, the cache root aside. Two listings, before and after a
    * run, show the dirs the run left behind. */
  def tempWorkDirs(): Set[String] =
    Option(new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp")).list())
      .fold(Set.empty[String])(_.filter(n => n.startsWith("graft_") &&
        !n.startsWith("graft_cache_")).toSet)

  /** Owner-only cache root; created on first use, re-verified on every
    * call (verification, not creation, is the defense — creation can
    * be lost to a racing pre-creation). */
  def root: String = {
    val user = sys.props.getOrElse("user.name", "unknown")
    val p: Path = Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_cache_$user")
    if (!Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      try Files.createDirectory(p, PosixFilePermissions.asFileAttribute(
        PosixFilePermissions.fromString("rwx------")))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    require(!Files.isSymbolicLink(p),
      s"cache root $p is a symlink — refusing to follow a planted redirection")
    require(Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS),
      s"cache root $p exists but is not a directory")
    val owner = Files.getOwner(p, LinkOption.NOFOLLOW_LINKS).getName
    require(owner == user,
      s"cache root $p is owned by '$owner', not '$user' — refusing to " +
        "serve caches from a directory another user controls")
    p.toString
  }
}
