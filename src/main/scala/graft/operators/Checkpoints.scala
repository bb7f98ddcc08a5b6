package graft.operators

import java.nio.file.Path

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/**
 * The one owner of what a run checkpoints. A `localCheckpoint()`ed
 * frame is a persisted RDD outside the cache manager, so
 * `spark.catalog.clearCache()` does NOT free it; without an owner its
 * blocks stay until the driver GCs the frame (ADVICE r15).
 *
 * Every checkpoint in graft goes through [[Checkpointed.checkpointed]],
 * which records the frame's RDD in the innermost [[scoped]] block open
 * on the current thread; `CacheDirs.tempWorkDir` records its dir in
 * the same scope. When the block exits (also by an exception) it
 * unpersists each recorded RDD that is still persisted, once, and
 * deletes its dirs. The runners open the scopes: a bench, verify or
 * dev run of one query (`Bench.isolated`), a `JobRunner.run`, and a
 * streaming batch body. Operators never free the frames they return;
 * the runner that consumes a frame owns it.
 *
 * A scope belongs to its thread and is not inherited: `JobApi` runs
 * jobs concurrently on one SparkContext, so a job's scope frees only
 * what its own thread checkpointed, and a pooled thread never carries
 * a scope it did not open. A checkpoint made with no scope open has no
 * owner and lives until the frame is garbage-collected.
 *
 * [[free]] remains for state rotations: once a frame's successor has
 * materialized (a loop's round k replacing round k−1, or a loop
 * input's co-partitioned copy replacing its first checkpoint), nothing
 * reads the old blocks again — the new checkpoint truncated the
 * lineage — so loop storage stays at two live state frames instead of
 * one per round.
 */
object Checkpoints {

  private final class Scope {
    val rdds = mutable.ArrayBuffer.empty[RDD[_]]
    val dirs = mutable.ArrayBuffer.empty[Path]
  }

  // a plain ThreadLocal, not an inheritable one: Spark's pooled threads
  // would otherwise carry the scope of whichever thread created them
  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Runs `body`; afterwards (also on failure) unpersists every frame
    * checkpointed and deletes every temp work dir made on this thread
    * inside it, nested scopes excepted. A frame `body` returns must be
    * consumed inside the scope. */
  def scoped[A](body: => A): A = {
    val scope = new Scope
    open.set(scope :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      scope.rdds.filter(_.getStorageLevel != StorageLevel.NONE)
        .foreach(_.unpersist(blocking = false))
      scope.dirs.foreach(d => graft.CacheDirs.deleteRecursively(d.toFile))
    }
  }

  implicit final class Checkpointed(private val df: DataFrame) extends AnyVal {
    /** `df.localCheckpoint(eager)`, owned by the innermost open scope. */
    def checkpointed(eager: Boolean = true): DataFrame = {
      val cp = df.localCheckpoint(eager)
      open.get.headOption.foreach(_.rdds ++= rdds(cp))
      cp
    }
  }

  /** Records `dir` for deletion when the innermost open scope exits;
    * false when no scope is open. */
  private[graft] def ownDir(dir: Path): Boolean = open.get match {
    case scope :: _ => scope.dirs += dir; true
    case Nil => false
  }

  /** Unpersists the RDD blocks behind every `LogicalRDD` in `df`'s
    * analyzed plan — for a checkpointed frame (or a projection over
    * one) that is exactly its own truncated-lineage RDD. Each RDD is
    * unpersisted once, and not at all when already freed: a plan that
    * joins a frame with itself holds its RDD several times, and Spark
    * posts an unpersist event and logs a lineage warning per call.
    * Only call once NOTHING will read the frame again: a
    * localCheckpointed RDD cannot be recomputed after its blocks are
    * dropped. */
  def free(df: DataFrame): Unit =
    rdds(df).filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.distinctBy(_.id)
}
