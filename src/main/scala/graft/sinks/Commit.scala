package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/**
 * The one commit protocol for a write that must never be seen half
 * done: stage the output beside its destination, then publish it.
 *
 *  - Staging: `_<d>_stage_<uuid8>` beside destination `d`, removed
 *    afterwards on success and failure ([[stage]]).
 *  - Publish: [[publish]] replaces `d` rename-aside: `d` moves to
 *    `_<d>_old_<uuid8>`, the staged copy moves in, the aside goes.
 *    [[append]] joins the staged files into `d` instead, and
 *    [[publishIfAbsent]] publishes a cache only when `d` is missing.
 *    A snapshot pointer is a one-file destination, published the same
 *    way.
 *  - Repair: a publish that died between its renames leaves an aside.
 *    [[repair]] settles it by one rule: a lone aside of a missing
 *    destination is restored, an aside next to a live destination is
 *    dropped, and two or more asides of one missing destination fail
 *    with their names (which copy is right is not decidable here).
 *    Every step that maintains a destination runs it once, before it
 *    reads or publishes (`publish` and `replace` take that as given;
 *    `publishIfAbsent` runs it itself), so a crashed publish is never
 *    taken for a missing destination or a first load. A reader that
 *    only reads, beside a running writer, renames nothing: it reads
 *    through [[committed]].
 *
 * Spark's file discovery skips a name that starts with `_` only when
 * it has no `=`, so a staged or aside name spells `=` as `~e` (and
 * `~` as `~t`): the aside of hive leaf `k=0` is `_k~e0_old_<uuid8>`,
 * invisible to a read of the partition root. The repair also knows
 * every aside name earlier builds wrote: `_<d>_old_<8hex>` with a raw
 * `=`, the legacy visible `<d>_old_<8hex>`, `<d>__old`, and
 * `_stale_bucket_<b>` (a `_bucket=<b>` aside). A legacy visible name
 * beside a live destination may be a user's own copy
 * (`orders_old_20241231`), so the repair only restores one and leaves
 * dropping it to the age-gated `Maintenance.vacuum`. These names are a
 * reserved namespace next to a destination.
 *
 * One maintainer per destination at a time is assumed, as for any
 * rename-based commit. An overwrite needs room for the old and the
 * new copy until the aside is dropped.
 */
object Commit {

  private def uuid8 = java.util.UUID.randomUUID().toString.take(8)

  private def hide(name: String) = "_" + name.replace("~", "~t").replace("=", "~e")

  private def unhide(name: String) = "~[te]".r.replaceAllIn(name, m =>
    if (m.matched == "~e") "=" else "~")

  // `stage` and `old` are written now; the other markers are the
  // staging names of earlier builds, kept for `leftover`
  private val Leftover = "^(_?)(.+)_(old|stage|merge|compact|load|dedup|anon|wap)_[0-9a-f]{8}$".r
  private val StaleBucket = "^_stale_bucket_(\\d+)$".r

  /** The destination name a staged or aside name beside it belongs
    * to, and whether it is an aside; None for any other name. */
  private[graft] def leftover(name: String): Option[(String, Boolean)] = name match {
    case Leftover(h, base, kind) => Some((if (h.isEmpty) base else unhide(base), kind == "old"))
    case StaleBucket(b) => Some((s"_bucket=$b", true))
    case s"${base}__old" if base.nonEmpty => Some((base, true))
    case _ => None
  }

  // visible (legacy) aside names count only beside a named
  // destination: among the children of a hive root they could be
  // partition values
  private def asideOf(name: String, visible: Boolean): Option[String] =
    leftover(name).collect { case (d, true) if visible || name.startsWith("_") => d }

  /** The asides of `dest` in its parent directory, any naming. */
  def strandedSiblings(fs: FileSystem, dest: Path): Seq[String] = {
    val parent = dest.getParent
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq.map(_.getPath.getName)
      .filter(asideOf(_, visible = true).contains(dest.getName))
  }

  /** Settles a crashed publish of `dest` (see the object doc). One
    * listing of the parent directory. */
  def repair(fs: FileSystem, dest: Path): Unit = {
    val asides = strandedSiblings(fs, dest)
    if (asides.nonEmpty) settle(fs, dest.getParent, dest.getName, asides, fs.exists(dest))
  }

  /** [[repair]] for every destination directly under `dir` (the bucket
    * directories of a state sink, the leaves of a hive level) from
    * one listing of `dir`; returns `dir`'s children after the repair. */
  def repairChildren(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val children = fs.listStatus(dir).toSeq
    val names = children.map(_.getPath.getName).toSet
    val asides = names.toSeq.flatMap(n => asideOf(n, visible = false).map(_ -> n))
    asides.groupMap(_._1)(_._2).foreach { case (d, as) => settle(fs, dir, d, as, names(d)) }
    if (asides.isEmpty) children else fs.listStatus(dir).toSeq
  }

  private def settle(fs: FileSystem, dir: Path, d: String, asides: Seq[String],
                     live: Boolean): Unit =
    if (live) asides.filter(_.startsWith("_")).foreach(a => fs.delete(new Path(dir, a), true))
    else if (asides.size == 1) move(fs, new Path(dir, asides.head), new Path(dir, d))
    else throw stranded(new Path(dir, d), asides)

  private def stranded(dest: Path, asides: Seq[String]) = new IllegalStateException(
    s"$dest is missing and ${asides.sorted.mkString(", ")} each hold an earlier copy " +
      s"of it: publishes crashed more than once. Rename the right one back to " +
      s"${dest.getName} and remove the others before re-running")

  /** Where `dest`'s committed copy is, for a reader that must rename
    * nothing: `dest` itself, or the lone aside of a missing `dest` (a
    * publish between its renames, or one that crashed there); None
    * when there is neither. Two or more asides fail as in [[repair]]. */
  def committed(fs: FileSystem, dest: Path): Option[Path] =
    if (fs.exists(dest)) Some(dest)
    else strandedSiblings(fs, dest) match {
      case Seq() => None
      case Seq(a) => Some(new Path(dest.getParent, a))
      case asides => throw stranded(dest, asides)
    }

  /** Renames `from` to `to`, failing when the file system refuses. */
  def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IllegalStateException(s"could not move $from to $to")

  /** Runs `body` on a fresh staging path beside `dest` and removes
    * whatever is left there afterwards, on success and on failure. */
  def stage[A](fs: FileSystem, dest: Path)(body: Path => A): A = {
    require(dest.getParent != null, s"cannot stage beside a filesystem root: $dest")
    val staged = new Path(dest.getParent, s"${hide(dest.getName)}_stage_$uuid8")
    try body(staged)
    finally if (fs.exists(staged)) fs.delete(staged, true)
  }

  /** Moves `staged` into `dest`'s place, rename-aside: the previous
    * `dest` stays addressable as its aside until the new copy is in,
    * so a crash at any step leaves a state [[repair]] settles. The
    * caller has repaired `dest`. */
  def publish(fs: FileSystem, staged: Path, dest: Path): Unit = {
    val aside = new Path(dest.getParent, s"${hide(dest.getName)}_old_$uuid8")
    val had = fs.exists(dest)
    if (had) move(fs, dest, aside)
    if (!fs.rename(staged, dest)) {
      if (had) repair(fs, dest)
      throw new IllegalStateException(s"could not move $staged to $dest")
    }
    if (had) fs.delete(aside, true)
  }

  /** Writes a staged copy with `write` and publishes it in `dest`'s
    * place; as for [[publish]], the caller has repaired `dest`. */
  def replace[A](fs: FileSystem, dest: Path)(write: Path => A): A =
    stage(fs, dest) { staged =>
      val out = write(staged)
      publish(fs, staged, dest)
      out
    }

  /** Moves `staged` to `dest` only while `dest` is missing; false when
    * `dest` was there. A rename onto a directory that appeared in
    * between nests the staged copy inside it and still succeeds, so
    * that copy is taken back out. */
  def moveIfAbsent(fs: FileSystem, staged: Path, dest: Path): Boolean =
    !fs.exists(dest) && {
      move(fs, staged, dest)
      val nested = new Path(dest, staged.getName)
      if (fs.exists(nested)) { fs.delete(nested, true); false } else true
    }

  /** Joins the files of `staged` into `dest`, keeping `dest`'s own;
    * hive subdirectories merge. Data files move first and `_SUCCESS`
    * last, only where `dest` has none, as Spark's own append commit
    * leaves them. A failed move takes back what this append moved, so
    * `dest` is left as it was. A missing `dest` is published whole. */
  def append(fs: FileSystem, staged: Path, dest: Path): Unit =
    if (!fs.exists(dest)) publish(fs, staged, dest)
    else {
      def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap(st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      val (markers, data) = walk(staged).partition(_.getName == "_SUCCESS")
      def bare(p: Path) = Path.getPathWithoutSchemeAndAuthority(fs.makeQualified(p)).toString
      val root = bare(staged) + "/"
      val seen = scala.collection.mutable.Set(dest)
      val made = scala.collection.mutable.ArrayBuffer.empty[Path]
      val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
      // the directories above `p` this append creates, deepest first
      def missing(p: Path): List[Path] =
        if (!seen.add(p) || fs.exists(p)) Nil else p :: missing(p.getParent)
      try (data ++ markers).foreach { f =>
        val to = new Path(dest, bare(f).stripPrefix(root))
        if (f.getName != "_SUCCESS" || !fs.exists(to)) {
          val dirs = missing(to.getParent)
          if (dirs.nonEmpty) { fs.mkdirs(dirs.head); made ++= dirs }
          move(fs, f, to)
          moved += to
        }
      } catch {
        case NonFatal(e) =>
          moved.foreach(fs.delete(_, false))
          made.foreach(fs.delete(_, true))
          throw e
      }
    }

  /** Publishes a cache at `dest` unless it is there already: `write`
    * fills a staging path, which moves into place only if `dest` is
    * still missing. A concurrent run that published first wins; its
    * content is the same (caches are pure functions of their inputs).
    * Returns `dest`. */
  def publishIfAbsent(spark: SparkSession, dest: String)(write: String => Unit): String = {
    val d = new Path(dest)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) {
      repair(fs, d)
      stage(fs, d) { staged =>
        write(staged.toString)
        moveIfAbsent(fs, staged, d)
      }
    }
    dest
  }
}
