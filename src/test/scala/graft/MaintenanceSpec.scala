package graft

import graft.operators.Maintenance
import graft.job.JobRunner
import graft.model._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def fragmented(dir: String, n: Int = 24): Unit =
    spark.range(0, 3000).select(col("id"), (col("id") * 7 % 100).as("v"))
      .repartition(n).write.mode("overwrite").parquet(dir)

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("compaction merges small files losslessly into the computed count") {
    val dir = tmpDir("graft_compact_") + "/t"
    fragmented(dir)
    val before = Maintenance.dataFiles(fs, new Path(dir))
    assert(before.size == 24)
    val bytes = before.map(_.getLen).sum
    // target = half the bytes -> exactly 2 output files
    val stats = Maintenance.compact(spark, dir, targetFileBytes = (bytes + 1) / 2)
    assert(stats.filesBefore == 24 && stats.filesAfter == 2 && stats.rows == 3000)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3000)
    assert(back.agg(sum("id"), sum("v")).head() ==
      spark.range(0, 3000).select(col("id"), (col("id") * 7 % 100).as("v"))
        .agg(sum("id"), sum("v")).head())
  }

  test("sortCols range-clusters: per-file ranges on the sort key are disjoint") {
    val dir = tmpDir("graft_compact_") + "/t"
    fragmented(dir)
    val bytes = Maintenance.dataFiles(fs, new Path(dir)).map(_.getLen).sum
    val stats = Maintenance.compact(spark, dir,
      targetFileBytes = (bytes + 3) / 4, sortCols = Seq("id"))
    assert(stats.filesAfter >= 2, s"want multiple clustered files, got $stats")
    // each output file carries a disjoint id range (this is what makes
    // row-group min/max stats selective for id predicates)
    val ranges = Maintenance.dataFiles(fs, new Path(dir)).map { f =>
      val r = spark.read.parquet(f.getPath.toString).agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ => ()
    }
  }

  test("missing destination with a stranded _old_ sibling is restored, then compacted") {
    val root = tmpDir("graft_compact_")
    val dir = s"$root/t"
    fragmented(dir, 4)
    // simulate a swap that died between its two renames (hidden
    // rollback naming: _<dest>_old_<id>)
    assert(fs.rename(new Path(dir), new Path(s"$root/_t_old_dead1234")))
    val stats = Maintenance.compact(spark, dir)
    assert(stats.filesBefore == 4 && stats.filesAfter == 1 && stats.rows == 3000, stats.toString)
    assert(spark.read.parquet(dir).agg(sum("id")).head().getLong(0) == (0L until 3000L).sum)
    assert(new java.io.File(root).list().toSet == Set("t"), "the aside must be gone")
    // two asides of one missing destination: which is right is not
    // decidable, so the run fails and names both
    assert(fs.rename(new Path(dir), new Path(s"$root/_t_old_dead1234")))
    fs.mkdirs(new Path(s"$root/_t_old_beef5678"))
    val e = intercept[IllegalStateException](Maintenance.compact(spark, dir))
    assert(e.getMessage.contains("_t_old_dead1234") && e.getMessage.contains("_t_old_beef5678"))
  }

  test("compactPartitioned compacts each hive leaf in place; layout and data preserved") {
    val root = tmpDir("graft_compact_") + "/p"
    spark.range(0, 4000).select(col("id"), (col("id") % 2).as("k"), (col("id") * 3 % 11).as("v"))
      .repartition(6).write.partitionBy("k").parquet(root)
    val beforeSum = spark.read.parquet(root).agg(sum("id"), sum("v")).head()
    val results = Maintenance.compactPartitioned(spark, root)
    assert(results.size == 2, s"two leaves expected: $results")
    results.foreach { case (_, st) =>
      assert(st.filesBefore > 1 && st.filesAfter == 1, st.toString) }
    val after = spark.read.parquet(root)
    assert(after.count() == 4000)
    assert(after.agg(sum("id"), sum("v")).head() == beforeSum)
    assert(after.columns.toSet == Set("id", "v", "k"), "partition column must survive")
    // second pass: every leaf already compact -> nothing to rewrite
    assert(Maintenance.compactPartitioned(spark, root).isEmpty)
  }

  test("compactPartitioned with sortCols range-clusters even a single-file leaf") {
    // VERDICT r9 item 7: count-skipping applies only to the plain
    // compaction contract — with sortCols a lone UNSORTED file still
    // needs the range rewrite, matching flat compact's behavior
    val root = tmpDir("graft_compact_") + "/p1"
    spark.range(0, 4000).select((col("id") * 2654435761L % 4000).as("id"),
        lit(0).as("k"))
      .coalesce(1).write.partitionBy("k").parquet(root)
    val leaf = new Path(s"$root/k=0")
    assert(Maintenance.dataFiles(fs, leaf).size == 1, "fixture must be a single file")
    val bytes = Maintenance.dataFiles(fs, leaf).map(_.getLen).sum
    // no sortCols: the single-file leaf is skipped entirely
    assert(Maintenance.compactPartitioned(spark, root,
      targetFileBytes = (bytes + 3) / 4).isEmpty)
    // sortCols: the leaf is rewritten into range-clustered files
    val results = Maintenance.compactPartitioned(spark, root,
      targetFileBytes = (bytes + 3) / 4, sortCols = Seq("id"))
    assert(results.size == 1, s"single leaf expected: $results")
    val ranges = Maintenance.dataFiles(fs, leaf).map { f =>
      val r = spark.read.parquet(f.getPath.toString).agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size >= 2, s"want multiple clustered files, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ => ()
    }
    assert(spark.read.parquet(root).count() == 4000)
  }

  test("compact refuses hive-partitioned roots and empty/missing dirs") {
    val root = tmpDir("graft_compact_")
    val part = s"$root/p"
    spark.range(0, 100).withColumn("k", col("id") % 2)
      .write.partitionBy("k").parquet(part)
    val e = intercept[IllegalArgumentException](Maintenance.compact(spark, part))
    assert(e.getMessage.contains("leaf"))
    intercept[IllegalArgumentException](Maintenance.compact(spark, s"$root/absent"))
  }

  test("zValue matches a plain-Scala bit interleave; zOrdered files carry disjoint z ranges") {
    def ref(xs: Seq[Long], bits: Int): Long =
      (for { (x, ci) <- xs.zipWithIndex; b <- 0 until bits }
        yield ((x >> b) & 1L) << (b * xs.size + ci)).sum
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L), (512L, 7L), (345L, 678L))
    val got = rows.toDF("x", "y")
      .withColumn("zv", Maintenance.zValue(Seq(col("x"), col("y")), bits = 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == ref(Seq(x, y), 10), s"interleave mismatch at ($x,$y)") }
    // three dimensions, and the range guard
    val z3 = Seq((1L, 2L, 4L)).toDF("a", "b", "c")
      .select(Maintenance.zValue(Seq(col("a"), col("b"), col("c")), bits = 4))
      .head().getLong(0)
    assert(z3 == ref(Seq(1L, 2L, 4L), 4))
    intercept[IllegalArgumentException](Maintenance.zValue(Seq(col("a"), col("b")), bits = 32))
    // layout: 4 z-clustered partitions hold disjoint z ranges
    val dir = tmpDir("graft_z_") + "/t"
    val df = spark.range(0, 4096).select((col("id") % 64).as("x"), (col("id") / 64).as("y"))
    Maintenance.zOrdered(df, Seq("x", "y"), nOut = 4, bits = 6).write.parquet(dir)
    val ranges = Maintenance.dataFiles(fs, new Path(dir)).map { f =>
      val r = spark.read.parquet(f.getPath.toString)
        .select(Maintenance.zValue(Seq(col("x"), col("y")), 6).as("zv"))
        .agg(min("zv"), max("zv")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping z ranges: $ranges")
      case _ => ()
    }
  }

  test("legacy visible swap leftovers are still repaired and vacuumed (upgrade path)") {
    val root = tmpDir("graft_legacy_")
    val dir = s"$root/t"
    fragmented(dir, 2)
    // legacy naming: <dest>_old_<8hex> (builds before the hidden scheme)
    assert(fs.rename(new Path(dir), new Path(s"${dir}_old_deadbeef")))
    val stats = Maintenance.compact(spark, dir)
    assert(stats.filesBefore == 2 && stats.rows == 3000, stats.toString)
    assert(!fs.exists(new Path(s"${dir}_old_deadbeef")), "the aside must be gone")
    // beside a live destination a visible name may be a user's own
    // copy: the repair leaves it, only the age-gated vacuum drops it
    val visible = Seq("t_old_20241231", "t__old")
    visible.foreach(n => fs.mkdirs(new Path(s"$root/$n")))
    assert(Maintenance.compact(spark, dir).skipped)
    assert(visible.forall(n => fs.exists(new Path(s"$root/$n"))), "the repair dropped a visible name")
    fs.mkdirs(new Path(s"${dir}_merge_cafe0123"))
    assert(Maintenance.vacuum(fs, new Path(dir), olderThanMs = -1000).toSet ==
      visible.toSet + "t_merge_cafe0123")
  }

  test("compactPartitioned lists the partition level once, however many leaves it compacts") {
    CrashFs.on(spark) {
      val root = tmpDir("graft_compact_") + "/p"
      spark.range(0, 400).withColumn("k", col("id") % 8)
        .repartition(2).write.partitionBy("k").parquet(root)
      val (results, listings) = CrashFs.counting(spark)(op =>
          op.kind == "list" && op.src.getName == "p") {
        Maintenance.compactPartitioned(spark, s"crashfs://$root")
      }
      assert(results.size == 8 && results.forall(!_._2.skipped), results.toString)
      assert(listings == 1, s"the level of 8 leaves was listed $listings times")
      assert(spark.read.parquet(root).agg(sum("id")).head().getLong(0) == (0L until 400L).sum)
    }
  }

  test("compactPartitioned restores a leaf lost mid-swap and compacts it") {
    val root = tmpDir("graft_compact_") + "/p"
    spark.range(0, 100).withColumn("k", col("id") % 2)
      .repartition(2).write.partitionBy("k").parquet(root)
    assert(fs.rename(new Path(s"$root/k=0"), new Path(s"$root/_k=0_old_deadbeef")))
    val results = Maintenance.compactPartitioned(spark, root).toMap
    assert(results.keySet.exists(_.endsWith("k=0")) && results.values.map(_.rows).sum == 100,
      s"both leaves, the restored one included, must be compacted: $results")
    assert(spark.read.parquet(root).agg(sum("id")).head().getLong(0) == (0L until 100L).sum)
    assert(!fs.exists(new Path(s"$root/_k=0_old_deadbeef")), "the aside must be gone")
  }

  test("vacuum removes aged swap leftovers only while the destination is healthy") {
    val root = tmpDir("graft_vacuum_")
    val dir = s"$root/t"
    fragmented(dir, 2)
    // the staging and aside names written now, and every staging
    // marker an earlier build wrote
    val leftovers = Set("_t_stage_abcd0123", "_t_old_aaaa1111", "_t_merge_bbbb2222",
      "_t_compact_cccc3333", "_t_load_dddd0000", "_t_dedup_eeee5555", "_t_anon_ffff6666",
      "_t_wap_0123abcd")
    leftovers.foreach(n => fs.mkdirs(new Path(s"$root/$n")))
    // fresh leftovers survive the age gate (an in-flight swap's staging)
    assert(Maintenance.vacuum(fs, new Path(dir)).isEmpty)
    // aged leftovers go
    val gone = Maintenance.vacuum(fs, new Path(dir), olderThanMs = -1000)
    assert(gone.toSet == leftovers)
    // with the destination MISSING, an _old_ sibling is the only copy:
    // vacuum must refuse to touch anything
    fs.mkdirs(new Path(s"$root/_t_old_dddd4444"))
    assert(fs.delete(new Path(dir), true))
    assert(Maintenance.vacuum(fs, new Path(dir), olderThanMs = -1000).isEmpty)
    assert(fs.exists(new Path(s"$root/_t_old_dddd4444")), "sole-copy _old_ must survive")
  }

  test("VACUUM_DESTINATION job step clears aged swap debris from the config surface") {
    val root = tmpDir("graft_vacstep_")
    val dir = s"$root/t"
    fragmented(dir, 2)
    fs.mkdirs(new Path(s"$root/_t_merge_abcd1234"))
    val cfg = graft.model.JobConfig(
      jobId = "vac-1",
      steps = List("VACUUM_DESTINATION"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dir))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dir)))),
      mappings = List(graft.model.FieldMapping("id", "id", "NUMBER", "LONG")),
      transformation = graft.model.Transformation("NONE",
        parameters = Map("retentionHours" -> "-1")))
    val res = JobRunner.run(spark, cfg)
    assert(res.status == JobRunner.Completed, res.message)
    assert(!fs.exists(new Path(s"$root/_t_merge_abcd1234")), "aged debris must be vacuumed")
    assert(fs.exists(new Path(dir)), "destination untouched")
  }

  test("hilbert curve: unit-step locality and real file skipping under zone maps") {
    // the defining curve property: consecutive indices are adjacent
    // cells (|dx| + |dy| = 1) — Morton order violates this at every
    // quadrant boundary
    val b = 4; val n = 1 << b
    val grid = spark.range(0, n.toLong * n)
      .selectExpr(s"id % $n AS qx", s"id div $n AS qy")
      .withColumn("hv", Maintenance.hilbertValue(col("qx"), col("qy"), bits = b))
    val cells = grid.collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until n.toLong * n).toSeq,
      "hilbert index must be a bijection onto [0, n^2)")
    cells.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve step ($x1,$y1)->($x2,$y2) is not a unit move")
    }
    // layout payoff: hilbert-clustered files + zone maps skip files
    // for a range predicate on either clustered column
    val dir = tmpDir("graft_hilbert_") + "/t"
    Maintenance.hilbertOrderedAuto(
      spark.range(0, 8000).selectExpr("id AS a", "(id * 37) % 8000 AS b"),
      "a", "b", nOut = 8, bits = 10).write.parquet(dir)
    val manifest = Maintenance.statsManifest(spark.read.parquet(dir), Seq("a", "b"))
    val pruned = Maintenance.prunedPaths(manifest, "a", lit(100L), lit(600L))
    assert(pruned.size < 8, s"expected file skipping, read ${pruned.size}/8")
    val got = Maintenance.skippingRead(spark, dir, manifest, "a", lit(100L), lit(600L))
      .count()
    assert(got == 501)
  }

  test("DEDUP_DESTINATION job step rewrites with a deterministic keeper, ties included") {
    val root = tmpDir("graft_dedupstep_")
    val dir = s"$root/t"
    import spark.implicits._
    Seq((1L, "a", 3L, "x"), (1L, "a", 1L, "y"), (1L, "a", 1L, "b"),
        (2L, "b", 5L, "z")).toDF("k1", "k2", "ver", "payload")
      .write.parquet(dir)
    val cfg = graft.model.JobConfig(
      jobId = "dedup-1",
      steps = List("DEDUP_DESTINATION"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dir))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dir)))),
      mappings = List(graft.model.FieldMapping("k1", "k1", "NUMBER", "LONG")),
      transformation = graft.model.Transformation("NONE",
        parameters = Map("dedupKeyColumns" -> "k1,k2", "dedupOrderColumn" -> "ver")))
    val res = graft.job.JobRunner.run(spark, cfg)
    assert(res.status == graft.job.JobRunner.Completed, res.message)
    val got = spark.read.parquet(dir).orderBy("k1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    // key (1,a): ver ties at 1 — the (ver, payload) struct-min picks
    // "b" over "y" deterministically; the ver=3 row loses outright
    assert(got == Seq((1L, "a", 1L, "b"), (2L, "b", 5L, "z")), got.toString)
    // a typo'd KEY column must fail with the step's contract message
    // (not a later unresolved-column AnalysisException), and must not
    // touch the destination
    val bad = cfg.copy(jobId = "dedup-2",
      transformation = graft.model.Transformation("NONE",
        parameters = Map("dedupKeyColumns" -> "k1,nope", "dedupOrderColumn" -> "ver")))
    val r2 = graft.job.JobRunner.run(spark, bad)
    r2.status match {
      case graft.job.JobRunner.Failed(msg) =>
        assert(msg.contains("dedupKeyColumns not in destination schema: nope"), msg)
      case s => fail(s"expected Failed on typo'd key column, got $s")
    }
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("autoSkippingRead dispatches ranges to zone maps, points to blooms, absent manifests to plain scans") {
    val dir = tmpDir("graft_autoskip_") + "/t"
    // clustered on id so the zone maps are real; bloom on v
    Maintenance.zOrdered(
      spark.range(0, 8000).selectExpr("id", "id % 1000 AS v"),
      Seq("id", "id"), nOut = 8, bits = 13).write.parquet(dir)
    Maintenance.statsManifest(spark.read.parquet(dir), Seq("id"))
      .coalesce(1).write.parquet(s"$dir/_manifest")
    Maintenance.bloomManifest(spark.read.parquet(dir), "id", expectedPerFile = 2000L)
      .coalesce(1).write.parquet(s"$dir/_bloom_manifest")
    val r = Maintenance.autoSkippingRead(spark, dir,
      Maintenance.RangePred("id", 100L, 200L))
    assert(r.orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).filter(col("id").between(100, 200)).orderBy("id").collect().toSeq)
    val e = Maintenance.autoSkippingRead(spark, dir,
      Maintenance.EqualityPred("id", Seq(4567L)))
    assert(e.collect().map(_.getLong(0)).toSeq == Seq(4567L))
    // no manifest covers v: both shapes fall back to plain scans, still correct
    val fb = Maintenance.autoSkippingRead(spark, dir,
      Maintenance.EqualityPred("v", Seq(7L)))
    assert(fb.count() == spark.read.parquet(dir).filter(col("v") === 7).count())
    val fb2 = Maintenance.autoSkippingRead(spark, dir,
      Maintenance.RangePred("v", 1L, 3L))
    assert(fb2.count() == spark.read.parquet(dir).filter(col("v").between(1, 3)).count())
  }

  test("incremental manifest == full rebuild after appends and deletes; only new files scanned") {
    val dir = tmpDir("graft_incmani_") + "/t"
    spark.range(0, 4000).selectExpr("id").repartition(4).write.parquet(dir)
    val m0 = Maintenance.statsManifest(spark.read.parquet(dir), Seq("id"))
      .persist() // freeze: a lazy manifest would see the append below
    m0.count()
    // append two files, delete one original (a compaction-ish rewrite)
    spark.range(4000, 6000).selectExpr("id").repartition(2)
      .write.mode("append").parquet(dir)
    val victim = Maintenance.dataFiles(fs, new Path(dir))
      .map(_.getPath).find(p => {
        val rows = spark.read.parquet(p.toString)
        rows.agg(max("id")).head().getLong(0) < 4000
      }).get
    fs.delete(victim, false)
    // Spark's shared file-status cache still lists the deleted file;
    // any rewrite-in-place must invalidate it (table formats do this
    // via their own snapshot listing)
    spark.catalog.refreshByPath(dir)
    def keyed(m: org.apache.spark.sql.DataFrame) = m.collect().map { r =>
      (new Path(r.getAs[String]("file")).getName,
        r.getAs[Long]("n_rows"), r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))
    }.toSet
    val inc = Maintenance.statsManifestIncremental(spark, dir, m0, Seq("id"))
    val full = Maintenance.statsManifest(spark.read.parquet(dir), Seq("id"))
    assert(keyed(inc) == keyed(full),
      s"incremental must equal the rebuild:\ninc=${keyed(inc)}\nfull=${keyed(full)}")
    // no-change fast path: nothing fresh -> the kept rows verbatim
    val again = Maintenance.statsManifestIncremental(spark, dir, full, Seq("id"))
    assert(keyed(again) == keyed(full))
    m0.unpersist()
  }

  test("snapshots: pinned reads, rollback without data movement, expire spares current") {
    import graft.operators.Snapshots
    val root = tmpDir("graft_snap_") + "/t"
    val v1 = Snapshots.write(spark.range(0, 100).selectExpr("id", "id AS v"), root)
    val v2 = Snapshots.write(spark.range(0, 100).selectExpr("id", "id * 2 AS v"), root)
    val v3 = Snapshots.write(spark.range(0, 50).selectExpr("id", "id * 3 AS v"), root)
    assert((v1, v2, v3) == (1L, 2L, 3L))
    // live = newest; time travel pins an old consistent view
    assert(Snapshots.read(spark, root).agg(sum("v")).head().getLong(0) ==
      (0 until 50).map(_ * 3L).sum)
    assert(Snapshots.read(spark, root, Some(1L)).agg(sum("v")).head().getLong(0) ==
      (0 until 100).map(_.toLong).sum)
    // rollback is a pointer move: v2 becomes live, data untouched
    Snapshots.rollback(spark, root, 2L)
    assert(Snapshots.read(spark, root).count() == 100)
    // expire keeps the newest keepLast AND the (older) current version
    val gone = Snapshots.expire(spark, root, keepLast = 1)
    assert(gone == Seq(1L), s"expected only v1 retired, got $gone")
    assert(Snapshots.versions(fs, new Path(root)) == Seq(2L, 3L))
    assert(Snapshots.read(spark, root).count() == 100, "current survived expire")
    // a pointer naming a deleted directory fails loudly
    fs.delete(new Path(s"$root/v=2"), true)
    val e = intercept[IllegalArgumentException](Snapshots.read(spark, root))
    assert(e.getMessage.contains("missing"), e.getMessage)
  }

  test("ORC directories compact through the same path") {
    val dir = tmpDir("graft_compact_") + "/t"
    spark.range(0, 2000).select(col("id"), (col("id") % 9).as("v"))
      .repartition(8).write.orc(dir)
    val stats = Maintenance.compact(spark, dir, format = "orc")
    assert(stats.filesBefore == 8 && stats.filesAfter == 1 && stats.rows == 2000)
    assert(spark.read.orc(dir).count() == 2000)
  }

  test("LOAD then COMPACT_DESTINATION chains; an already-compact destination skips the rewrite") {
    val root = tmpDir("graft_compact_")
    val src = s"$root/src"
    val dest = s"$root/dest"
    fragmented(src)
    val mappings = List(
      FieldMapping("id", "id", "NUMBER", "LONG", isDestNullable = false),
      FieldMapping("v", "v", "NUMBER", "LONG"))
    val cfg = JobConfig(
      jobId = "load-compact-1",
      steps = List("LOAD", "COMPACT_DESTINATION"),
      source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
      destination = Some(DestinationConfig("PARQUET", ConnectionDetails(path = Some(dest)))),
      mappings = mappings,
      transformation = Transformation("NONE"))
    val res = JobRunner.run(spark, cfg)
    assert(res.status == JobRunner.Completed, res.message)
    assert(res.stepsRun.contains("COMPACT_DESTINATION"), res.stepsRun.toString)
    assert(Maintenance.dataFiles(fs, new Path(dest)).size == 1,
      "default 128 MiB target must compact the tiny load to one file")
    assert(spark.read.parquet(dest).count() == 3000)
    // second maintenance pass on the now-compact destination: skipped
    // (written = 0, files untouched)
    val names = Maintenance.dataFiles(fs, new Path(dest)).map(_.getPath.getName).toSet
    val res2 = JobRunner.run(spark, cfg.copy(jobId = "compact-again",
      steps = List("COMPACT_DESTINATION")))
    assert(res2.status == JobRunner.Completed, res2.message)
    assert(res2.recordsWritten == 0, "already-compact destination must skip the rewrite")
    assert(Maintenance.dataFiles(fs, new Path(dest)).map(_.getPath.getName).toSet == names)
    // [LOAD, COMPACT, VALIDATE_LOAD] with a load that lands already
    // compact: the skipped rewrite must NOT clobber the LOAD count,
    // or the validation fails with written=0
    spark.range(0, 3000).select(col("id"), (col("id") * 7 % 100).as("v"))
      .coalesce(1).write.parquet(s"$root/src1")
    val res3 = JobRunner.run(spark, cfg.copy(jobId = "load-compact-validate",
      steps = List("LOAD", "COMPACT_DESTINATION", "VALIDATE_LOAD"),
      source = SourceConfig("PARQUET", ConnectionDetails(path = Some(s"$root/src1")))))
    assert(res3.status == JobRunner.Completed, res3.message)
    assert(res3.recordsWritten == 3000, "skipped compact must preserve the LOAD count")
  }

  test("compact skips at-target dirs but still splits oversized files") {
    val dir = tmpDir("graft_compact_") + "/t"
    spark.range(0, 2000).coalesce(1).write.parquet(dir)
    val bytes = Maintenance.dataFiles(fs, new Path(dir)).map(_.getLen).sum
    // already exactly at target (1 file, nOut=1): skip
    val st = Maintenance.compact(spark, dir)
    assert(st.skipped && st.filesAfter == 1)
    // target smaller than the single file: SPLIT into more files
    val split = Maintenance.compact(spark, dir, targetFileBytes = (bytes + 2) / 3)
    assert(!split.skipped && split.filesAfter == 3 && split.rows == 2000, split.toString)
  }

  test("stats manifest prunes files; skipping read equals the full scan") {
    val dir = tmpDir("graft_skip_") + "/t"
    // range-clustered on id: 8 files with disjoint id ranges
    Maintenance.zOrdered(
      spark.range(0, 8000).selectExpr("id", "id % 97 AS v"),
      Seq("id", "v"), nOut = 8, bits = 13).write.parquet(dir)
    val manifest = Maintenance.statsManifest(spark.read.parquet(dir), Seq("id", "v"))
    assert(manifest.count() == 8)
    // a tight id range must skip most files...
    val paths = Maintenance.prunedPaths(manifest, "id", lit(100), lit(200))
    assert(paths.nonEmpty && paths.size < 8, s"expected a real skip, read ${paths.size}/8")
    // ...and the pruned read must equal the full scan with the filter
    val pruned = Maintenance.skippingRead(spark, dir, manifest, "id", lit(100), lit(200))
      .orderBy("id").collect().toSeq
    val full = spark.read.parquet(dir)
      .filter(col("id").between(100, 200)).orderBy("id").collect().toSeq
    assert(pruned == full)
    // empty selection: schema survives, result is empty, nothing read
    val none = Maintenance.skippingRead(spark, dir, manifest, "id", lit(-50), lit(-10))
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 0)
  }

  test("skippingRead fails loudly on a stale manifest (appended file uncovered)") {
    val dir = tmpDir("graft_skipstale_") + "/t"
    spark.range(0, 1000).selectExpr("id", "id % 5 AS v").coalesce(1).write.parquet(dir)
    // persist the manifest (a lazily recomputed one would see the
    // append and mask the staleness this test is about)
    Maintenance.statsManifest(spark.read.parquet(dir), Seq("id"))
      .write.parquet(s"$dir/_manifest")
    val persisted = spark.read.parquet(s"$dir/_manifest")
    spark.range(1000, 1200).selectExpr("id", "id % 5 AS v")
      .coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Maintenance.skippingRead(spark, dir, persisted, "id", lit(0), lit(5000))
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("bloom manifest prunes hash-scattered files where zone maps are blind; read equals full scan") {
    val dir = tmpDir("graft_bloom_") + "/t"
    // hash-scattered on id: every file's [min,max] spans the domain
    spark.range(0, 8000).selectExpr("id", "id % 97 AS v")
      .repartition(8, col("id")).write.parquet(dir)
    val manifest = Maintenance.bloomManifest(spark.read.parquet(dir), "id",
      expectedPerFile = 2000L)
    assert(manifest.count() == 8)
    // min/max skipping is structurally useless on this layout
    val zones = Maintenance.statsManifest(spark.read.parquet(dir), Seq("id"))
    assert(Maintenance.prunedPaths(zones, "id", lit(123), lit(123)).size == 8,
      "fixture must defeat zone maps or the test proves nothing")
    // ...but the bloom homes each key to few files, never losing one
    val probes: Seq[Any] = Seq(123L, 4567L)
    val paths = Maintenance.bloomPrunedPaths(manifest, "id", probes)
    assert(paths.nonEmpty && paths.size < 8, s"expected a real skip, read ${paths.size}/8")
    val pruned = Maintenance.bloomSkippingRead(spark, dir, manifest, "id", probes)
      .orderBy("id").collect().toSeq
    val full = spark.read.parquet(dir)
      .filter(col("id").isin(123L, 4567L)).orderBy("id").collect().toSeq
    assert(pruned == full && full.size == 2)
    // absent key: either no file fires (empty short-circuit) or only
    // false-positive files are read — the row filter still yields zero
    assert(Maintenance.bloomSkippingRead(spark, dir, manifest, "id",
      Seq(999999L)).count() == 0)
  }

  test("bloomSkippingRead fails loudly on a stale manifest (appended file uncovered)") {
    val dir = tmpDir("graft_bloomstale_") + "/t"
    spark.range(0, 1000).selectExpr("id").coalesce(1).write.parquet(dir)
    Maintenance.bloomManifest(spark.read.parquet(dir), "id", expectedPerFile = 1000L)
      .write.parquet(s"$dir/_bloom_manifest")
    val persisted = spark.read.parquet(s"$dir/_bloom_manifest")
    spark.range(1000, 1200).selectExpr("id").coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Maintenance.bloomSkippingRead(spark, dir, persisted, "id", Seq(5L))
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("zOrderedAuto rescales imbalanced domains so BOTH columns skip") {
    // x spans [0, 1e9), y spans [0, 100): raw bit-interleave would let
    // x's high bits own the curve and y ranges would prune nothing
    val df = spark.range(0, 20000).selectExpr("id * 50000 AS x", "id % 100 AS y")
    val dir = tmpDir("graft_zauto_") + "/t"
    Maintenance.zOrderedAuto(df, Seq("x", "y"), nOut = 16, bits = 12).write.parquet(dir)
    assert(spark.read.parquet(dir).count() == 20000)
    val manifest = Maintenance.statsManifest(spark.read.parquet(dir), Seq("x", "y"))
    // a ~5%-wide range on EACH dimension must skip most files
    val px = Maintenance.prunedPaths(manifest, "x", lit(0L), lit(50000000L))
    val py = Maintenance.prunedPaths(manifest, "y", lit(0L), lit(4L))
    assert(px.size < 12 && py.size < 12, s"both dims must skip: x=${px.size}/16, y=${py.size}/16")
  }

  test("INDEX_DESTINATION job step writes hidden bucketed token postings") {
    import spark.implicits._
    val root = tmpDir("graft_index_")
    val dir = s"$root/dest"
    Seq((1L, "alpha beta alpha"), (2L, "beta gamma"), (3L, "alpha"))
      .toDF("id", "body").write.parquet(dir)
    val cfg = JobConfig(
      jobId = "index-1",
      steps = List("INDEX_DESTINATION"),
      source = SourceConfig("PARQUET", ConnectionDetails(path = Some(dir))),
      destination = Some(DestinationConfig("PARQUET", ConnectionDetails(path = Some(dir)))),
      mappings = Nil,
      transformation = Transformation("NONE", parameters = Map(
        "indexIdColumn" -> "id", "indexTextColumn" -> "body")))
    val res = JobRunner.run(spark, cfg)
    assert(res.status == JobRunner.Completed, res.message)
    // postings are DISTINCT (token, id) pairs
    val postings = spark.read.parquet(s"$dir/_token_index")
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(postings == Set(("alpha", 1L), ("beta", 1L), ("beta", 2L),
      ("gamma", 2L), ("alpha", 3L)), postings.toString)
    // the hidden child is invisible to a plain destination read
    assert(spark.read.parquet(dir).count() == 3)
    // 64-bucket layout: every data file carries a bucket suffix
    val files = new java.io.File(s"$dir/_token_index").listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getName)
    assert(files.nonEmpty && files.forall(_.contains("_000")),
      s"expected bucketed file names, got ${files.take(3).mkString(",")}")
    // after a publish that crashed after moving the destination aside,
    // the step restores the destination and indexes it again
    assert(fs.rename(new Path(dir), new Path(s"$root/_dest_old_deadbeef")))
    val again = JobRunner.run(spark, cfg.copy(jobId = "index-2"))
    assert(again.status == JobRunner.Completed, again.message)
    assert(spark.read.parquet(s"$dir/_token_index").count() == postings.size)
    assert(!fs.exists(new Path(s"$root/_dest_old_deadbeef")), "the aside must be gone")
  }

  test("COMPACT_DESTINATION job step compacts the configured destination") {
    val root = tmpDir("graft_compact_")
    val dir = s"$root/dest"
    fragmented(dir)
    val bytes = Maintenance.dataFiles(fs, new Path(dir)).map(_.getLen).sum
    val cfg = JobConfig(
      jobId = "compact-1",
      steps = List("COMPACT_DESTINATION"),
      source = SourceConfig("PARQUET", ConnectionDetails(path = Some(dir))),
      destination = Some(DestinationConfig("PARQUET", ConnectionDetails(path = Some(dir)))),
      mappings = Nil,
      transformation = Transformation("NONE", parameters = Map(
        "targetFileBytes" -> ((bytes + 1) / 2).toString, "sortColumns" -> "id")))
    val res = JobRunner.run(spark, cfg)
    assert(res.status == JobRunner.Completed, res.message)
    assert(res.recordsWritten == 3000)
    assert(Maintenance.dataFiles(fs, new Path(dir)).size == 2)
    assert(spark.read.parquet(dir).count() == 3000)
  }
}
