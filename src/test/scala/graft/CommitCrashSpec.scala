package graft

import graft.job.JobRunner
import graft.model._
import graft.operators.{Maintenance, Snapshots}
import graft.sinks.Commit
import graft.streaming.EventStreams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash table of the commit protocol: every site that publishes
  * through `graft.sinks.Commit`, failed at each of its publish and
  * restore renames in turn. Each cell checks that the destination, as
  * a repairing reader sees it, is the whole state before or after the
  * operation, that no staging directory is left, and that a rerun
  * converges to the state after. */
class CommitCrashSpec extends SparkTestBase {

  private def lfs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One site: `setup` lays down the state before, `op` is the
    * operation under test (it throws when it fails), `state` reads the
    * destination as a reader does, repair first. */
  private case class Site(name: String, setup: String => Unit, op: String => Unit,
                          state: String => Seq[String], perBucket: Boolean = false)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The repairing read of a parquet destination `d` under `w`. */
  private def parquetAt(d: String)(w: String): Seq[String] = {
    val p = new Path(s"$w/$d")
    Commit.repair(lfs, p)
    if (lfs.exists(p)) rows(spark.read.parquet(p.toString)) else Nil
  }

  private def completed(r: JobRunner.JobResult): Unit =
    if (r.status != JobRunner.Completed) throw new IllegalStateException(r.message)

  private def csv(w: String, name: String, lines: String*): String = {
    val f = java.nio.file.Paths.get(w, s"$name.csv")
    java.nio.file.Files.write(f, ("id,name" +: lines).mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def load(w: String, src: String, mode: String): Unit = completed(JobRunner.run(spark,
    JobConfig(jobId = s"crash-load-$mode", steps = List("LOAD"),
      source = SourceConfig("CSV", ConnectionDetails(path = Some(src), includeHeader = Some(true))),
      destination = Some(DestinationConfig("PARQUET",
        ConnectionDetails(path = Some(s"crashfs://$w/d")), saveMode = mode)),
      mappings = List(FieldMapping("id", "id", destFieldType = "LONG", isDestNullable = false),
        FieldMapping("name", "name")),
      errorHandling = ErrorHandling("ROUTE_TO_FILE", Some(s"$w/errors")))))

  /** A job over the parquet destination `crashfs://<w>/d`. */
  private def step(w: String, name: String, params: Map[String, String],
                   src: String = "d"): Unit = completed(JobRunner.run(spark, JobConfig(
    jobId = s"crash-$name", steps = List(name),
    source = SourceConfig("PARQUET", ConnectionDetails(path = Some(s"$w/$src"))),
    destination = Some(DestinationConfig("PARQUET", ConnectionDetails(path = Some(s"crashfs://$w/d")))),
    mappings = List(FieldMapping("k", "k", destFieldType = "LONG"),
      FieldMapping("ver", "ver", destFieldType = "LONG"), FieldMapping("v", "v")),
    transformation = Transformation("NONE", parameters = params))))

  private val kvSchema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, ver BIGINT, v STRING")
  private def kv(from: Long, to: Long, ver: Long, v: String) =
    spark.range(from, to).selectExpr("id AS k", s"CAST($ver AS BIGINT) AS ver", s"'$v' AS v")

  /** Adds `df` to the stream source `<w>/src` as one file. */
  private def feed(w: String, i: Int, df: DataFrame): Unit = {
    df.coalesce(1).write.parquet(s"$w/feed$i")
    val part = new java.io.File(s"$w/feed$i").listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(w, "src"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(w, "src", s"f$i.parquet"))
  }

  private def upsert(w: String): Unit = EventStreams.upsertStream(spark,
    spark.readStream.schema(kvSchema).parquet(s"$w/src"), s"crashfs://$w/d",
    keys = Seq("k"), versionCol = "ver", checkpoint = s"$w/ckpt", nBuckets = 2)

  private val merge = Map("mergeStrategy" -> "KEEP_LATEST", "mergeKeys" -> "k", "versionColumn" -> "ver")

  private val sites = Seq(
    Site("LOAD overwrite",
      w => load(w, csv(w, "a", "1,a", "2,b"), "overwrite"),
      w => load(w, csv(w, "b", "3,c", "x,bad", "4,d"), "overwrite"),
      parquetAt("d")),
    Site("LOAD append",
      w => load(w, csv(w, "a", "1,a", "2,b"), "overwrite"),
      w => load(w, csv(w, "b", "3,c", "x,bad", "4,d"), "append"),
      parquetAt("d")),
    Site("MERGE_STRATEGY",
      w => { kv(0, 6, 1, "a").write.parquet(s"$w/b1"); step(w, "MERGE_STRATEGY", merge, "b1") },
      w => { if (!lfs.exists(new Path(s"$w/b2"))) kv(3, 9, 2, "b").write.parquet(s"$w/b2")
             step(w, "MERGE_STRATEGY", merge, "b2") },
      parquetAt("d")),
    Site("COMPACT_DESTINATION",
      w => kv(0, 40, 1, "a").repartition(4).write.parquet(s"$w/d"),
      w => step(w, "COMPACT_DESTINATION", Map.empty),
      parquetAt("d")),
    Site("compactPartitioned",
      w => kv(0, 40, 1, "a").withColumn("p", col("k") % 2).repartition(2)
        .write.partitionBy("p").parquet(s"$w/d"),
      w => Maintenance.compactPartitioned(spark, s"crashfs://$w/d"),
      w => { Commit.repairChildren(lfs, new Path(s"$w/d")); rows(spark.read.parquet(s"$w/d")) }),
    Site("DEDUP_DESTINATION",
      w => kv(0, 6, 1, "a").union(kv(0, 3, 2, "b")).write.parquet(s"$w/d"),
      w => step(w, "DEDUP_DESTINATION", Map("dedupKeyColumns" -> "k", "dedupOrderColumn" -> "ver")),
      parquetAt("d")),
    Site("ANONYMIZE_DESTINATION",
      w => kv(0, 4, 1, "mail a@b.example now").write.parquet(s"$w/d"),
      w => step(w, "ANONYMIZE_DESTINATION", Map("scrubColumns" -> "v")),
      parquetAt("d")),
    Site("Commit.replace (write-audit-publish)",
      w => kv(0, 4, 1, "a").write.parquet(s"$w/d"),
      w => { Commit.repair(lfsFor(w), new Path(s"crashfs://$w/d"))
             Commit.replace(lfsFor(w), new Path(s"crashfs://$w/d"))(st =>
               kv(0, 8, 2, "b").write.parquet(st.toString)) },
      parquetAt("d")),
    Site("Snapshots.write",
      // through crashfs only: it keeps no checksum files beside the
      // pointer a local write would leave
      w => Snapshots.write(kv(0, 4, 1, "a"), s"crashfs://$w/d"),
      w => Snapshots.write(kv(0, 8, 2, "b"), s"crashfs://$w/d"),
      w => rows(Snapshots.read(spark, s"crashfs://$w/d"))),
    Site("Commit.publishIfAbsent (cache)",
      _ => (),
      w => Commit.publishIfAbsent(spark, s"crashfs://$w/d")(kv(0, 4, 1, "a").write.parquet(_)),
      parquetAt("d")),
    Site("upsertStream bucket publish",
      w => { feed(w, 0, kv(0, 20, 1, "a")); upsert(w); feed(w, 1, kv(10, 30, 2, "b")) },
      upsert,
      w => { Commit.repair(lfs, new Path(s"$w/d")); Commit.repairChildren(lfs, new Path(s"$w/d"))
             rows(spark.read.parquet(s"$w/d")) },
      perBucket = true),
    Site("sketchRollupStream",
      w => { feed(w, 0, kv(0, 20, 1, "a")); sketch(w); feed(w, 1, kv(10, 30, 2, "b")) },
      sketch,
      w => { Commit.repair(lfs, new Path(s"$w/d"))
             rows(spark.read.parquet(s"$w/d")
               .selectExpr("v", "CAST(round(theta_sketch_estimate(sk)) AS BIGINT) AS est")) }))

  private def sketch(w: String): Unit = EventStreams.sketchRollupStream(spark,
    spark.readStream.schema(kvSchema).parquet(s"$w/src"), s"crashfs://$w/d",
    groupCols = Seq("v"), valueCol = "k", checkpoint = s"$w/ckpt")

  private def lfsFor(w: String) =
    new Path(s"crashfs://$w").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Names under `w` a publish leaves only when it did not finish. */
  private def leftovers(w: String, asides: Boolean): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(w))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.contains("_stage_") || (asides && Commit.leftover(n).nonEmpty))
    finally s.close()
  }

  /** With `perBucket`, each `_bucket` of `mid` holds that bucket's
    * rows before or after (a tick publishes bucket by bucket). */
  private def consistent(site: Site, mid: Seq[String], pre: Seq[String], post: Seq[String]) =
    if (!site.perBucket) mid == pre || mid == post
    else {
      def byBucket(s: Seq[String]) = s.groupBy(_.split(',').last)
      val (m, a, b) = (byBucket(mid), byBucket(pre), byBucket(post))
      (m.keySet ++ b.keySet).forall(k => m.get(k) == a.get(k) || m.get(k) == b.get(k))
    }

  sites.foreach { site =>
    test(s"a crash at any commit rename of ${site.name} leaves a whole state and reruns") {
      CrashFs.on(spark) {
        val clean = tmpDir("graft_commit_clean_")
        site.setup(clean)
        val (_, renames) = CrashFs.counting(spark)(CrashFs.commitRename)(site.op(clean))
        val post = site.state(clean)
        assert(renames >= 1, s"${site.name} published nothing")
        (1 to renames).foreach { n =>
          val w = tmpDir("graft_commit_cell_")
          site.setup(w)
          val pre = site.state(w)
          val e = intercept[Exception](CrashFs.failing(spark, n)(CrashFs.commitRename)(site.op(w)))
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("injected crash")), s"rename $n: $e")
          assert(leftovers(w, asides = false).isEmpty, s"rename $n left staging behind")
          val mid = site.state(w)
          assert(consistent(site, mid, pre, post),
            s"rename $n of $renames left neither state:\n mid  $mid\n pre  $pre\n post $post")
          site.op(w)
          assert(site.state(w) == post, s"rerun after rename $n of $renames")
          assert(leftovers(w, asides = true).isEmpty, s"rerun after rename $n left ${leftovers(w, true)}")
        }
      }
    }
  }

  test("a failed snapshot pointer publish leaves the previous version live; a rerun commits") {
    CrashFs.on(spark) {
      val root = s"${tmpDir("graft_snap_crash_")}/s"
      assert(Snapshots.write(kv(0, 4, 1, "a"), s"crashfs://$root") == 1L)
      intercept[Exception](CrashFs.failing(spark, 1)(op =>
          op.kind == "rename" && op.dst.getName == "_current") {
        Snapshots.write(kv(0, 8, 2, "b"), s"crashfs://$root")
      })
      assert(Snapshots.read(spark, root).count() == 4, "the previous version must stay readable")
      val v = Snapshots.write(kv(0, 8, 2, "b"), s"crashfs://$root")
      assert(Snapshots.read(spark, root).count() == 8 && Snapshots.read(spark, root, Some(v)).count() == 8)
      assert(Snapshots.expire(spark, root, keepLast = 1).nonEmpty)
      assert(Snapshots.read(spark, root).count() == 8, "expire must keep the live version")
    }
  }

  test("a reader beside a snapshot pointer publish renames nothing and sees the old or the new version") {
    CrashFs.on(spark) {
      val root = s"crashfs://${tmpDir("graft_snap_reader_")}/s"
      Snapshots.write(kv(0, 4, 1, "a"), root)
      // a reader runs between the writer's two pointer renames and
      // again between its rename-in and the drop of the old pointer
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val v = CrashFs.before(spark)(op =>
          (op.kind == "rename" && op.dst.getName == "_current") ||
            (op.kind == "delete" && Commit.leftover(op.src.getName).contains(("_current", true)))) {
        op =>
          val (n, renames) = CrashFs.counting(spark)(_.kind == "rename")(
            Snapshots.read(spark, root).count())
          assert(renames == 0, s"a reader renamed at ${op.kind}")
          seen += op.kind -> n
      } {
        Snapshots.write(kv(0, 8, 2, "b"), root)
      }
      assert(seen == Seq("rename" -> 4L, "delete" -> 8L))
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(v == 2L && Snapshots.currentVersion(fs, new Path(root)) == Some(2L))
      assert(Snapshots.read(spark, root).count() == 8)
    }
  }

  test("a snapshot version is never replaced: a write whose v=N appeared meanwhile fails") {
    CrashFs.on(spark) {
      val local = s"${tmpDir("graft_snap_race_")}/s"
      val root = s"crashfs://$local"
      Snapshots.write(kv(0, 4, 1, "a"), root)
      // another writer publishes v=2 just before this one moves its copy in
      val other = java.nio.file.Paths.get(local, "v=2")
      val e = intercept[IllegalStateException](CrashFs.before(spark)(op =>
          op.kind == "rename" && op.dst.getName == "v=2") { _ =>
        java.nio.file.Files.createDirectories(other)
        java.nio.file.Files.write(other.resolve("theirs"), Array[Byte](1))
      } {
        Snapshots.write(kv(0, 8, 2, "b"), root)
      })
      assert(e.getMessage.contains("never replaced"), e.getMessage)
      assert(new java.io.File(other.toString).list().toSeq == Seq("theirs"))
      assert(leftovers(local, asides = true).isEmpty)
      assert(Snapshots.read(spark, root).count() == 4, "the failed write moved no pointer")
    }
  }

  test("a failed snapshot write adds no version, and rolling back to it is refused") {
    CrashFs.on(spark) {
      val root = s"${tmpDir("graft_snap_write_crash_")}/s"
      Snapshots.write(kv(0, 4, 1, "a"), s"crashfs://$root")
      intercept[Exception](CrashFs.failing(spark, 1)(op =>
          op.kind == "create" && op.src.getName.startsWith("part-")) {
        Snapshots.write(kv(0, 8, 2, "b"), s"crashfs://$root")
      })
      assert(Snapshots.versions(lfs, new Path(root)) == Seq(1L))
      intercept[IllegalArgumentException](Snapshots.rollback(spark, root, 2L))
      assert(Snapshots.read(spark, root).count() == 4)
    }
  }

  test("a hive leaf whose compaction crashed at its swap-in stays invisible to reads of the root") {
    CrashFs.on(spark) {
      val root = s"${tmpDir("graft_leaf_crash_")}/p"
      kv(0, 40, 1, "a").withColumn("p", col("k") % 2).repartition(2)
        .write.partitionBy("p").parquet(root)
      intercept[Exception](CrashFs.failing(spark, 1)(op => op.kind == "rename" &&
          op.dst.getName == "p=0" && op.src.getName.startsWith("_")) {
        Maintenance.compactPartitioned(spark, s"crashfs://$root")
      })
      // the moved-aside leaf is hidden: the read succeeds without it
      assert(spark.read.parquet(root).count() == 20)
      Maintenance.compactPartitioned(spark, s"crashfs://$root")
      assert(spark.read.parquet(root).agg(count(lit(1)), sum("k")).head() ==
        org.apache.spark.sql.Row(40L, (0L until 40L).sum))
    }
  }
}
