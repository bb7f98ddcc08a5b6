package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the `crashfs` scheme. While
  * [[CrashFs.failing]] runs its body, the n-th rename, create, delete
  * or listing that matches the predicate throws [[CrashFs.Injected]]
  * instead of running, as if the process died there;
  * [[CrashFs.counting]] counts the matching calls instead, and
  * [[CrashFs.before]] runs an action ahead of each of them (another
  * process acting in that window). */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.hit(CrashFs.Op("create", f, f))
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.hit(CrashFs.Op("rename", src, dst))
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.hit(CrashFs.Op("delete", f, f))
    super.delete(f, recursive)
  }
  // plain statuses: the raw local ones look their permissions up
  // through a `file:` URI, which fails under this scheme
  override def getFileStatus(f: Path): FileStatus = CrashFs.plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    CrashFs.hit(CrashFs.Op("list", f, f))
    super.listStatus(f).map(CrashFs.plain)
  }
}

object CrashFs {
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)

  final case class Op(kind: String, src: Path, dst: Path)

  /** Not an IOException, so no retry takes it for a transient fault. */
  final class Injected(op: Op) extends IllegalStateException(s"injected crash at $op")

  /** `act` runs before each matching call, with its 1-based number. */
  private final case class Rule(matches: Op => Boolean, act: (Op, Int) => Unit) {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
  }
  private val rule = new java.util.concurrent.atomic.AtomicReference[Rule]()

  private def hit(op: Op): Unit = Option(rule.get).foreach { r =>
    if (r.matches(op)) r.act(op, r.seen.incrementAndGet())
  }

  private def withRule[A](spark: SparkSession, r: Rule)(body: => A): (A, Int) = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val outer = rule.getAndSet(r)
    try (body, r.seen.get) finally rule.set(outer)
  }

  /** Runs `body` with the `n`-th call matching `matches` failing. */
  def failing[A](spark: SparkSession, n: Int)(matches: Op => Boolean)(body: => A): A =
    withRule(spark, Rule(matches, (op, i) => if (i == n) throw new Injected(op)))(body)._1

  /** Runs `body` and returns its result and its calls matching `matches`. */
  def counting[A](spark: SparkSession)(matches: Op => Boolean)(body: => A): (A, Int) =
    withRule(spark, Rule(matches, (_, _) => ()))(body)

  /** Runs `body`, running `action` before each call matching `matches`
    * goes ahead; the action's own calls do not match again. */
  def before[A](spark: SparkSession)(matches: Op => Boolean)(action: Op => Unit)(body: => A): A =
    withRule(spark, Rule(matches, (op, _) => on(spark)(action(op))))(body)._1

  /** Runs `body` with `crashfs` registered and nothing failing. */
  def on[A](spark: SparkSession)(body: => A): A = counting(spark)(_ => false)(body)._1

  /** A rename that publishes or restores: one outside Spark's own
    * output committer. */
  def commitRename(op: Op): Boolean = op.kind == "rename" &&
    !Seq(op.src, op.dst).exists(p => p.toString.contains("/_temporary/") ||
      p.toString.contains(".spark-staging"))
}
