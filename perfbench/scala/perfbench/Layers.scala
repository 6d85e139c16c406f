package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, from the [[Trace]] queues. Jobs
  * belong to the op whose id they carry (a local property, inherited by
  * streaming threads); planning records and micro-batches belong to the
  * op whose wall-clock window contains their start. Work done outside
  * the timed ops (set-up, correctness checks) is left out. Counts and
  * times are per pass; ratios and percentiles are over the whole run. */
object Layers {
  /** Engine modules reported one by one; any other module's jobs land
    * in `other`. */
  val Modules: Seq[String] = Seq(
    "bench.sink", "Tables", "ext.Similarity", "ext.Dedup", "queries.SimilarityQueries",
    "queries.StreamingQueries", "spark.stream", "spark", "other")

  val StreamPhases: Seq[(String, String)] = Seq(
    "add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
    "get_batch" -> "getBatch", "latest_offset" -> "latestOffset",
    "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")

  def compute(ops: Seq[Main.Op], cores: Int, passes: Int,
      spansOut: Option[String]): Map[String, (Double, String)] = {
    val perPass = passes.toDouble
    val opById = ops.map(o => o.id -> o).toMap
    def opAt(t: Long): Option[Main.Op] = ops.find(o => t >= o.startMs && t <= o.endMs)

    val execModule = Trace.execStarts.asScala.map(e => e.id -> e.module).toMap
    val jobs = Trace.jobs.asScala.toSeq.filter(_.op.exists(opById.contains)).map { j =>
      if (j.module != "spark") j
      else j.copy(module = j.execId.flatMap(execModule.get).getOrElse(j.module))
    }
    val jobEnd = Trace.jobEnds.asScala.map(e => e.id -> e).toMap
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val stages = Trace.stages.asScala.toSeq.filter(s => stageJob.contains(s.id))
    val tasks = Trace.tasks.asScala.toSeq.filter(t => stageJob.contains(t.stage))
    val plans = Trace.plans.asScala.toSeq.flatMap(p => opAt(p.start).map(p -> _))
    val batches = Trace.batches.asScala.toSeq.flatMap(b => opAt(b.start).map(b -> _))
    val execEnd = Trace.execEnds.asScala.toMap
    val execs = Trace.execStarts.asScala.toSeq.flatMap(e => opAt(e.start).map(e -> _))

    val wallMs = ops.map(o => (o.seconds * 1000).toDouble).sum
    // op wall time covered by no job: driver-side planning, scheduling
    // gaps and the engine's own driver code
    val gapMs = ops.map { o =>
      val iv = jobs.filter(_.op.contains(o.id)).map { j =>
        (math.max(j.start, o.startMs), math.min(jobEnd.get(j.id).map(_.end).getOrElse(o.endMs), o.endMs))
      }.filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var cur = (Long.MinValue, Long.MinValue)
      iv.foreach { case (s, e) =>
        if (s > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (s, e) }
        else cur = (cur._1, math.max(cur._2, e))
      }
      if (cur._2 > cur._1) covered += cur._2 - cur._1
      math.max(0.0, o.seconds * 1000 - covered)
    }.sum

    def sumT(f: Trace.Task => Long): Double = tasks.map(f).sum.toDouble
    val busyMs = tasks.map(t => math.max(0L, t.finish - t.launch)).sum.toDouble

    val byModule = jobs.groupBy(j => if (Modules.contains(j.module)) j.module else "other")
    val moduleMetrics = Modules.flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      val ids = js.flatMap(_.stages).toSet
      val run = tasks.filter(t => ids.contains(t.stage)).map(_.runMs).sum / 1000.0
      val wall = js.map(j => jobEnd.get(j.id).map(_.end - j.start).getOrElse(0L)).sum / 1000.0
      Seq(s"exec.by_module.$m.jobs" -> (js.size / perPass, "count/pass"),
        s"exec.by_module.$m.task_run_s" -> (run / perPass, "s/pass"),
        s"exec.by_module.$m.wall_s" -> (wall / perPass, "s/pass"))
    }

    val bs = batches.map(_._1)
    val bDur = bs.map(_.durationMs.toDouble).sorted.toIndexedSeq
    val lastPerQuery = bs.groupBy(_.query).values.map(_.maxBy(_.start)).toSeq
    val streamMetrics = Seq(
      "stream.batches" -> (bs.size / perPass, "count/pass"),
      "stream.empty_batch_frac" -> (if (bs.isEmpty) 0.0 else bs.count(_.inputRows == 0).toDouble / bs.size, "ratio"),
      "stream.input_rows" -> (bs.map(_.inputRows).sum / perPass, "rows/pass"),
      "stream.rows_per_s" -> (if (bDur.sum > 0) bs.map(_.inputRows).sum / (bDur.sum / 1000) else 0.0, "rows/s"),
      "stream.batch_p50_ms" -> (if (bDur.isEmpty) 0.0 else Stats.median(bDur), "ms"),
      "stream.batch_tail_ms" -> (if (bDur.isEmpty) 0.0 else Stats.tail(bDur)._2, "ms"),
      "stream.state_commit_ms" -> (bs.map(_.stateCommitMs).sum / perPass, "ms/pass"),
      "stream.state_rows" -> (lastPerQuery.map(_.stateRows).sum / perPass, "rows/pass"),
      "stream.state_bytes" -> (lastPerQuery.map(_.stateBytes).sum / perPass, "B/pass")) ++
      StreamPhases.map { case (name, key) =>
        s"stream.${name}_ms" -> (bs.map(_.phases.getOrElse(key, 0L)).sum / perPass, "ms/pass")
      }

    spansOut.foreach { path =>
      val lines = Seq.newBuilder[String]
      def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long,
          attrs: (String, String)*): Unit =
        lines += Json.obj(Seq("id" -> Json.str(id), "parent" -> (if (parent == null) "null" else Json.str(parent)),
          "kind" -> Json.str(kind), "name" -> Json.str(name), "start_ms" -> s.toString,
          "end_ms" -> e.toString) ++ attrs: _*)
      ops.foreach(o => span(s"op-${o.id}", null, "op", o.query, o.startMs, o.endMs,
        "pass" -> o.pass.toString, "ok" -> o.error.isEmpty.toString))
      execs.foreach { case (e, o) =>
        span(s"sql-${e.id}", s"op-${o.id}", "sql_execution", e.description.take(120), e.start,
          execEnd.getOrElse(e.id, e.start))
      }
      jobs.foreach { j =>
        val parent = j.execId.filter(id => execs.exists(_._1.id == id)).map(id => s"sql-$id")
          .getOrElse(s"op-${j.op.get}")
        span(s"job-${j.id}", parent, "job", j.module, j.start, jobEnd.get(j.id).map(_.end).getOrElse(j.start),
          "module" -> Json.str(j.module))
      }
      stages.foreach { s =>
        span(s"stage-${s.id}.${s.attempt}", s"job-${stageJob(s.id).id}", "stage", s.name.take(120),
          s.start, s.end, "tasks" -> s.tasks.toString)
      }
      batches.foreach { case (b, o) =>
        span(s"batch-${b.query}-${b.start}", s"op-${o.id}", "micro_batch", b.query, b.start,
          b.start + b.durationMs, "input_rows" -> b.inputRows.toString)
      }
      plans.foreach { case (p, o) =>
        span(s"plan-${o.id}-${p.start}", s"op-${o.id}", "planning", p.func, p.start, p.end,
          "analysis_ms" -> p.analysisMs.toString, "optimizer_ms" -> p.optimizerMs.toString,
          "physical_ms" -> p.physicalMs.toString)
      }
      Files.write(Paths.get(path), lines.result().asJava)
    }

    (Seq(
      "tables.records_read" -> (sumT(_.recordsRead) / perPass, "rows/pass"),
      "tables.bytes_read" -> (sumT(_.bytesRead) / perPass, "B/pass"),
      "plan.executions" -> (plans.size / perPass, "count/pass"),
      "plan.analysis_s" -> (plans.map(_._1.analysisMs).sum / 1000.0 / perPass, "s/pass"),
      "plan.optimizer_s" -> (plans.map(_._1.optimizerMs).sum / 1000.0 / perPass, "s/pass"),
      "plan.physical_s" -> (plans.map(_._1.physicalMs).sum / 1000.0 / perPass, "s/pass"),
      "driver.gap_s" -> (gapMs / 1000.0 / perPass, "s/pass"),
      "exec.jobs" -> (jobs.size / perPass, "count/pass"),
      "exec.stages" -> (stages.size / perPass, "count/pass"),
      "exec.tasks" -> (tasks.size / perPass, "count/pass"),
      "exec.task_run_s" -> (sumT(_.runMs) / 1000.0 / perPass, "s/pass"),
      "exec.task_cpu_s" -> (sumT(_.cpuNs) / 1e9 / perPass, "s/pass"),
      "exec.task_gc_s" -> (sumT(_.gcMs) / 1000.0 / perPass, "s/pass"),
      "exec.slot_busy_frac" -> (if (wallMs > 0) busyMs / (wallMs * cores) else 0.0, "ratio"),
      "exec.shuffle_write_bytes" -> (sumT(_.shuffleWrite) / perPass, "B/pass"),
      "exec.shuffle_read_bytes" -> (sumT(_.shuffleRead) / perPass, "B/pass"),
      "exec.shuffle_fetch_wait_s" -> (sumT(_.fetchWaitMs) / 1000.0 / perPass, "s/pass"),
      "exec.spill_bytes" -> (sumT(_.spill) / perPass, "B/pass"),
      "exec.failed_tasks" -> (tasks.count(_.failed) / perPass, "count/pass")) ++
      moduleMetrics ++ streamMetrics).toMap
  }
}
