package graftbench

import scala.collection.mutable

/** One timed benchmark op as the harness saw it. */
final case class OpRec(id: Long, client: Int, start: Double, end: Double, traced: Boolean,
                       rows: Long, inputBytes: Long, errors: Seq[String],
                       filesWritten: Long = 0L, persistedMb: Double = 0.0) {
  def ms: Double = end - start
}

/**
 * Turns the tracer's spans and listener records into per-layer
 * metrics and a per-module account of op wall time.
 *
 * Each stage belongs to the module of the first `graft.<module>.`
 * frame in its call site. A stage with no graft frame (an adaptive
 * query stage, which Spark submits from a `CompletableFuture` thread)
 * takes the call site of the SQL execution it runs for; failing that,
 * the module of the innermost span that was open when it was submitted.
 * Each stage belongs to the op whose Spark job group it carries, else
 * to the op that was running when it was submitted.
 */
object TraceAnalysis {
  private val Frame = """(?m)^\s*(?:at\s+)?graft\.(model|job|sources|types|operators|functions|sinks|streaming)\.""".r

  def moduleOfDetails(details: String): Option[String] =
    Frame.findFirstMatchIn(details).map(_.group(1)).map {
      case "functions" => "operators" // kernels that operators call
      case m => m
    }

  private def fallbackModule(s: Span): String = s.name match {
    case "op" => "job"
    case _ => s.module
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  final case class OpView(op: OpRec, spans: Seq[Span], stages: Seq[(StageRec, String)],
                          jobs: Int, progress: Seq[ProgressRec])

  def views(t: Tracer, ops: Seq[OpRec]): Seq[OpView] = {
    val traced = ops.filter(_.traced)
    val spansByOp = t.spans.toArray(Array.empty[Span]).toSeq.groupBy(_.op)
    def opAt(time: Double): Option[OpRec] =
      traced.filter(o => o.start <= time && time <= o.end).sortBy(-_.start).headOption
    def opOf(group: Option[String], time: Double): Option[Long] =
      group.flatMap(t.opOfGroup).filter(id => traced.exists(_.id == id))
        .orElse(opAt(time).map(_.id))
    def innermost(opId: Long, time: Double): Option[Span] =
      spansByOp.getOrElse(opId, Nil).filter(s => s.start <= time && time <= s.end)
        .sortBy(s => (-s.start, s.ms)).headOption
    val stagesByOp = t.stages.values.toSeq.flatMap { s =>
      opOf(s.group, s.submitted).map { id =>
        val module = moduleOfDetails(s.details)
          .orElse(s.execution.flatMap(t.executionDetails.get).flatMap(moduleOfDetails))
          .orElse(innermost(id, s.submitted).map(fallbackModule)).getOrElse("job")
        id -> (s, module)
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val jobsByOp = t.jobs.toSeq.flatMap(j => opOf(j.group, j.submitted)).groupBy(identity)
    traced.map { o =>
      val streamSpans = spansByOp.getOrElse(o.id, Nil).filter(_.module == "streaming")
      val prog = t.progress.toSeq.filter(p => p.triggerStart >= o.start - 1 && p.triggerStart <= o.end)
      OpView(o, spansByOp.getOrElse(o.id, Nil), stagesByOp.getOrElse(o.id, Nil),
        jobsByOp.get(o.id).map(_.size).getOrElse(0), if (streamSpans.isEmpty) Nil else prog)
    }
  }

  /** Op wall split by module: while stages run, time goes to their
    * modules in equal shares; otherwise to the innermost open span. */
  def wallByModule(v: OpView): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val iv = v.stages.map { case (s, m) =>
      (math.max(s.submitted, v.op.start), math.min(s.completed, v.op.end), m)
    }.filter(x => x._2 > x._1)
    val cuts = (Seq(v.op.start, v.op.end) ++ iv.flatMap(x => Seq(x._1, x._2))).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val active = iv.filter(x => x._1 <= mid && mid < x._2).map(_._3)
        if (active.nonEmpty) active.foreach(m => out(m) += (b - a) / active.size)
        else {
          val inner = v.spans.filter(s => s.start <= mid && mid <= s.end)
            .sortBy(s => (-s.start, s.ms)).headOption
          out(inner.map(fallbackModule).getOrElse("job")) += b - a
        }
      case _ =>
    }
    out.toMap
  }

  /** Self time per module: each span's length minus what its children cover. */
  def selfByModule(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      (if (s.name == "op") "bench" else s.module) -> (s.ms - unionMs(kids))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def perLayer(t: Tracer, ops: Seq[OpRec], cores: Int, castProbeS: Double,
               overheadShare: Double): (Map[String, Double], Seq[OpView]) = {
    val vs = views(t, ops)
    val n = math.max(1, vs.size).toDouble
    def stagesOf(m: String) = vs.flatMap(_.stages).filter(_._2 == m).map(_._1)
    def busyS(m: String) = stagesOf(m).map(_.taskMs).sum / 1000.0 / n
    val allStages = vs.flatMap(_.stages).map(_._1)
    val src = stagesOf("sources")
    val srcWall = src.map(_.wallMs).sum
    val inRows = vs.map(_.op.rows).sum.toDouble
    val inBytes = vs.map(_.op.inputBytes).sum.toDouble
    val driverMs = vs.map { v =>
      val covered = unionMs(v.stages.map { case (s, _) =>
        (math.max(s.submitted, v.op.start), math.min(s.completed, v.op.end)) })
      v.op.ms - covered
    }.sum / n
    def spanMs(name: String) = vs.flatMap(_.spans).filter(_.name == name).map(_.ms).sum / n
    def phaseMs(k: String) = vs.flatMap(_.progress).map(_.durations.getOrElse(k, 0L)).sum / n
    val startMs = vs.flatMap { v =>
      val ups = v.spans.filter(_.name == "EventStreams.upsertStream")
      if (ups.isEmpty || v.progress.isEmpty) None
      else Some(v.progress.map(_.triggerStart).min - ups.map(_.start).min)
    }
    val unionWall = unionMs(vs.map(v => (v.op.start, v.op.end)))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val m = Map(
      "model.parse_ms" -> spanMs("JobConfig.fromJson"),
      "job.driver_ms" -> driverMs,
      "job.spark_jobs" -> vs.map(_.jobs).sum / n,
      "sources.busy_s" -> busyS("sources"),
      "sources.scan_parallelism" -> ratio(src.map(_.taskMs).sum.toDouble, srcWall),
      "sources.read_amplification" -> ratio(allStages.map(_.inRecords).sum.toDouble, inRows),
      "types.cast_s" -> castProbeS,
      "operators.busy_s" -> busyS("operators"),
      "operators.shuffle_mb" -> stagesOf("operators").map(_.shuffleWrite).sum / 1e6 / n,
      "operators.spill_mb" -> stagesOf("operators").map(_.spillDisk).sum / 1e6 / n,
      "sinks.busy_s" -> busyS("sinks"),
      "sinks.files_written" -> vs.map(_.op.filesWritten).sum / n,
      "sinks.write_amplification" -> ratio(allStages.map(_.outBytes).sum.toDouble, inBytes),
      "streaming.start_ms" -> (if (startMs.isEmpty) 0.0 else startMs.sum / startMs.size),
      "streaming.latest_offset_ms" -> phaseMs("latestOffset"),
      "streaming.planning_ms" -> phaseMs("queryPlanning"),
      "streaming.add_batch_ms" -> phaseMs("addBatch"),
      "streaming.wal_commit_ms" -> phaseMs("walCommit"),
      "streaming.read_back_s" -> spanMs("read_back") / 1000.0,
      "spark.tasks" -> allStages.map(_.tasks).sum / n,
      "spark.task_cpu_s" -> allStages.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> allStages.map(_.gcMs).sum / 1000.0 / n,
      "spark.cores_busy" -> ratio(allStages.map(_.taskMs).sum.toDouble, unionWall * cores),
      "spark.persisted_mb" -> vs.lastOption.map(_.op.persistedMb).getOrElse(0.0),
      "trace.overhead_share" -> overheadShare,
      "trace.ops" -> vs.size.toDouble
    )
    (m, vs)
  }

  /** Per-op detail for the trace file. */
  def describe(vs: Seq[OpView]): Seq[Map[String, Any]] = vs.map { v =>
    Map(
      "op" -> v.op.id, "client" -> v.op.client, "wall_ms" -> v.op.ms,
      "wall_by_module_ms" -> wallByModule(v),
      "span_self_ms_by_module" -> selfByModule(v.spans),
      "spans" -> v.spans.sortBy(_.start).map(s => Map("name" -> s.name, "module" -> s.module,
        "start_ms" -> (s.start - v.op.start), "ms" -> s.ms)),
      "spark_jobs" -> v.jobs,
      "stages" -> v.stages.sortBy(_._1.submitted).map { case (s, m) => Map(
        "stage" -> s.stageId, "module" -> m, "name" -> s.name,
        "start_ms" -> (s.submitted - v.op.start), "wall_ms" -> s.wallMs, "tasks" -> s.tasks,
        "task_ms" -> s.taskMs, "records_read" -> s.inRecords, "bytes_written" -> s.outBytes,
        "shuffle_write_bytes" -> s.shuffleWrite) },
      "stream_progress" -> v.progress.map(p => Map("batch" -> p.batchId, "durations_ms" -> p.durations))
    )
  }
}
