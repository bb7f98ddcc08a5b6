package graft.operators

import graft.sinks.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Versioned snapshot tier: every write lands in a fresh `v=N`
 * directory and a tiny `_current` pointer file names the live
 * version — the minimal form of the snapshot isolation every lake
 * table format provides. Both are published by `graft.sinks.Commit`:
 *
 *  - data is IMMUTABLE once written (a new version is a new
 *    directory; nothing rewrites in place), so a reader that
 *    resolved a version keeps a consistent view for the whole scan
 *    even while writers land newer versions. A version is staged and
 *    renamed into place only while `v=N` is missing, so a crashed
 *    write leaves no `v=N` and two writers never replace each
 *    other's version (the later one fails);
 *  - the pointer is a one-file destination published rename-aside.
 *    Between the two renames of a pointer publish `_current` is
 *    missing and the previous pointer is its lone aside; a reader
 *    then reads the aside (`Commit.committed`) and renames nothing,
 *    so it sees the old or the new version, and a crash there leaves
 *    the old one live. The writers (`write`, `rollback`, `expire`)
 *    repair the pointer before they use it. A crash between the data
 *    and the pointer publish leaves the previous version live and the
 *    new `v=N` unreferenced, for `expire` to collect.
 *
 * Time travel is then just `read(root, Some(version))`, and rollback
 * is `setCurrent(root, olderVersion)` — no data movement in either.
 *
 * Scale posture: versions add metadata (one directory entry + one
 * small file per commit), never copies of unchanged data written by
 * OTHER versions — callers who want delta-sized commits compose this
 * with the merge/compact operators to produce each version's
 * content. `expire` bounds storage by retiring all but the last k
 * versions (the current one is never eligible).
 */
object Snapshots {

  private val VersionRx = "^v=(\\d+)$".r

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** All committed version numbers under `root`, ascending. */
  def versions(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionRx(n) => Some(n.toLong)
          case _ => None
        }
    }.flatten.sorted

  /** The live version from the `_current` pointer, or from its aside
    * while a pointer publish is between its renames (or crashed
    * there); None before the first commit. Renames nothing. A pointer
    * naming a missing directory fails loudly (manual surgery, not a
    * state this tier produces). */
  def currentVersion(fs: FileSystem, root: Path): Option[Long] = {
    val ptr = new Path(root, "_current")
    def at(p: Path): Option[Long] =
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    // a publish that moves on between the listing and the open drops
    // the aside only after its new pointer is in
    val v = at(ptr).orElse(Commit.committed(fs, ptr).flatMap(at)).orElse(at(ptr))
    v.foreach(v => require(fs.exists(new Path(root, s"v=$v")),
      s"snapshot pointer at $root names v=$v but that directory is missing — " +
        "restore the directory or point _current at an existing version"))
    v
  }

  private def setCurrent(fs: FileSystem, root: Path, v: Long): Unit = {
    val ptr = new Path(root, "_current")
    Commit.repair(fs, ptr)
    Commit.replace(fs, ptr) { staged =>
      val out = fs.create(staged, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Commit `df` as the next version and move the pointer. Returns
    * the committed version number. */
  def write(df: DataFrame, root: String, format: String = "parquet"): Long = {
    val (fs, rootPath) = fsFor(df.sparkSession, root)
    val next = versions(fs, rootPath).lastOption.getOrElse(0L) + 1
    val dir = new Path(rootPath, s"v=$next")
    Commit.stage(fs, dir) { staged =>
      df.write.format(format).save(staged.toString)
      if (!Commit.moveIfAbsent(fs, staged, dir)) throw new IllegalStateException(
        s"$dir was committed by another writer meanwhile; a version is never replaced")
    }
    setCurrent(fs, rootPath, next)
    next
  }

  /** Read the live version, or a pinned one (time travel). */
  def read(spark: SparkSession, root: String, version: Option[Long] = None,
           format: String = "parquet"): DataFrame = {
    val (fs, rootPath) = fsFor(spark, root)
    val v = version.orElse(currentVersion(fs, rootPath)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $root"))
    val dir = new Path(rootPath, s"v=$v")
    require(fs.exists(dir), s"snapshot v=$v does not exist at $root " +
      s"(have: ${versions(fs, rootPath).mkString(", ")})")
    spark.read.format(format).load(dir.toString)
  }

  /** Roll back (or forward) the live pointer without touching data. */
  def rollback(spark: SparkSession, root: String, version: Long): Unit = {
    val (fs, rootPath) = fsFor(spark, root)
    require(fs.exists(new Path(rootPath, s"v=$version")),
      s"cannot roll back to missing v=$version at $root")
    setCurrent(fs, rootPath, version)
  }

  /** Retire all but the newest `keepLast` versions. The CURRENT
    * version is never deleted even if it is old (after a rollback,
    * the live version may not be the newest). Returns deleted
    * version numbers. */
  def expire(spark: SparkSession, root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val (fs, rootPath) = fsFor(spark, root)
    Commit.repair(fs, new Path(rootPath, "_current"))
    val all = versions(fs, rootPath)
    val cur = currentVersion(fs, rootPath)
    val victims = all.dropRight(keepLast).filterNot(cur.contains)
    victims.filter(v => fs.delete(new Path(rootPath, s"v=$v"), true))
  }
}
