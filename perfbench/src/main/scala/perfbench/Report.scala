package perfbench

import java.io.File

/** Turns a run's operations and spans into metrics and writes
  * `result.json` (and `spans.json` for a traced run).
  */
object Report {
  /** Tail percentile of write and read latency on `lakehouse_dml`: the
    * highest whole percentile that keeps at least ten samples beyond it
    * at the workload's sample counts (see `BENCHMARK.json`).
    */
  val TailPct = 75
  /** Layer-sum tolerance (milliseconds) for a job or micro-batch against
    * its operation's span: Spark stamps events in whole milliseconds.
    */
  val ClockTolMs = 1.0

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The time of one pass, from per-operation minima: every operation
    * name's fastest latency in the run times how often it runs per pass,
    * summed. A pass runs each catalog entry once, and a lakehouse round
    * each statement shape once per table. The minimum, because host
    * interference and JIT warm-up only ever add time.
    */
  def passTime(ops: Seq[OpRec]): Double = {
    val passes = ops.map(_.pass).distinct.size.max(1)
    ops.groupBy(_.name).values.map { os =>
      os.map(_.wall / 1000).min * os.size / passes
    }.sum
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def write(c: Main.Conf, r: Main.RunResult, setupS: Double): Unit = {
    val timed = r.ops.filter(o => o.pass >= 0 && !o.traced)
    val untraced = r.passes.filterNot(_.traced)
    val e2e = Seq[(String, Double, String)](
      ("setup_s", setupS, "s"),
      ("run_s", passTime(timed), "s"),
      ("cpu_s", mean(untraced.map(_.cpu)), "s"))
    val writes = timed.filter(_.kind == "write").map(_.wall / 1000)
    val reads = timed.filter(_.kind == "read").map(_.wall / 1000)
    val extra = Seq(("op_p50_s", median(timed.map(_.wall / 1000)), "s"),
      ("pass_wall_s", mean(untraced.map(_.wall)), "s"),
      ("passes", untraced.size.toDouble, "count")) ++ (c.workload match {
      case "lakehouse_dml" => Seq(
        ("write_p50_s", median(writes), "s"),
        (s"write_p${TailPct}_s", pct(writes, TailPct), "s"),
        ("read_p50_s", median(reads), "s"),
        (s"read_p${TailPct}_s", pct(reads, TailPct), "s"),
        ("write_samples", writes.size.toDouble, "count"),
        ("read_samples", reads.size.toDouble, "count"),
        ("final_mismatches", r.sources.getOrElse("final_mismatches", 0.0), "count"))
      case "streaming_entries" => Seq(
        ("microbatch_p50_s", median(BatchListener.synchronized(BatchListener.triggers.toList)), "s"),
        ("microbatch_samples", BatchListener.triggers.size.toDouble, "count"))
      case _ => Seq.empty
    })
    val spans = Tracer.spans
    val (layers, violations) =
      if (c.trace) layerMetrics(c, r, spans) else (Seq.empty, Seq.empty)
    val json = new StringBuilder("{")
    def metrics(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
        .mkString("{", ", ", "}")
    json ++= s"\"workload\": ${Json.str(c.workload)}, \"seed\": ${c.seed}, " +
      s"\"cores\": ${c.cores}, \"trace\": ${c.trace},\n"
    json ++= s"\"end_to_end\": ${metrics(e2e)},\n\"extra\": ${metrics(extra)},\n"
    json ++= s"\"per_layer\": ${metrics(layers)},\n"
    json ++= s"\"layer_sum_violations\": ${violations.map(Json.str).mkString("[", ", ", "]")},\n"
    json ++= s"\"oracles\": {${r.oracles.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")}},\n"
    json ++= "\"ops\": [" + r.ops.map { o =>
      s"""{"id": ${o.id}, "pass": ${o.pass}, "traced": ${o.traced}, "name": ${Json.str(o.name)}, "kind": ${Json.str(o.kind)}, "wall_s": ${Json.num(o.wall / 1000)}, "build_s": ${Json.num(o.build / 1000)}, "result_s": ${Json.num(o.result / 1000)}, "error": ${Json.str(o.error)}}"""
    }.mkString(",\n") + "]}\n"
    Main.writeString(new File(c.out, "result.json"), json.toString)
    if (c.trace) Main.writeString(new File(c.out, "spans.json"),
      spans.map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${Json.str(s.kind)}, "name": ${Json.str(s.name)}, "start": ${Json.num(s.start)}, "end": ${Json.num(s.end)}, "attrs": {${s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}, "tags": {${s.tags.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")}}}"""
      }.mkString("[", ",\n", "]\n"))
  }

  /** Resolves each listener-side span's parent. A job carries its
    * operation's id (the local property) and its SQL execution's id
    * (`spark.sql.execution.id`); it belongs to that execution's span,
    * or, outside SQL, to its operation's build or result span holding
    * its start (clamped into the operation). A SQL execution belongs to
    * the innermost execution enclosing it, else (like a micro-batch) to
    * the build or result span containing its start.
    */
  def link(spans: Seq[Span]): Seq[Span] = {
    val phases = spans.filter(s => s.kind == "build" || s.kind == "result")
    val ops = spans.filter(_.kind == "op").map(o => o.id -> o).toMap
    val sqls = spans.filter(_.kind == "sql")
    val sqlByExec = sqls.flatMap(q => q.tags.get(JobListener.ExecutionId).map(_ -> q.id)).toMap
    def phaseAt(t: Double, op: Long): Long = phases
      .find(p => (op < 0 || p.parent == op) && p.start <= t && t <= p.end)
      .map(_.id).getOrElse(-1L)
    spans.map {
      case s if s.kind == "job" => ops.get(s.parent) match {
        case None => s.copy(parent = -1L)
        case Some(o) => s.copy(parent = s.tags.get(JobListener.ExecutionId)
          .flatMap(sqlByExec.get)
          .getOrElse(phaseAt(math.min(math.max(s.start, o.start), o.end), o.id)))
      }
      case s if s.kind == "sql" =>
        // a nested execution belongs to the innermost one enclosing it
        val outer = sqls.filter(o => o.id != s.id && o.start <= s.start &&
          s.end <= o.end && o.dur > s.dur)
        s.copy(parent = if (outer.isEmpty) phaseAt(s.start, -1L) else outer.minBy(_.dur).id)
      case s if s.kind == "microbatch" =>
        s.copy(parent = phaseAt(s.start, -1L))
      case s => s
    }
  }

  /** For each linked span, the operation it sits under, by span id. */
  def owners(linked: Seq[Span]): Map[Long, Long] = {
    val byId = linked.map(s => s.id -> s).toMap
    def up(s: Span, hops: Int): Option[Long] =
      if (s.kind == "op") Some(s.id)
      else if (hops > 20) None
      else byId.get(s.parent).flatMap(up(_, hops + 1))
    linked.flatMap(s => up(s, 0).map(s.id -> _)).toMap
  }

  /** The layer-sum check over a traced run's spans (all recorded during
    * traced passes); one message per violation.
    *
    * Every job that carries an operation's id, and every micro-batch
    * linked to one, must lie inside the operation's span (all on the wall
    * clock) within [[ClockTolMs]]; then the operation's job union (`spark.job_wall_s`)
    * and the rest (`spark.driver_gap_s`) split its wall time with nothing
    * clipped. Every job, SQL execution and micro-batch must link to an
    * operation, so that no layer's time falls outside the split, and a
    * job's SQL execution must sit under the operation the job names.
    */
  def layerCheck(raw: Seq[Span]): Seq[String] = {
    val ops = raw.filter(_.kind == "op").map(o => o.id -> o).toMap
    val linked = link(raw)
    val owner = owners(linked)
    def outside(s: Span, o: Span): Option[String] =
      if (s.start < o.start - ClockTolMs || s.end > o.end + ClockTolMs)
        Some(f"${s.kind} ${s.name} [${s.start}%.0f, ${s.end}%.0f] outside " +
          f"${o.name}#${o.id} [${o.start}%.0f, ${o.end}%.0f]")
      else None
    val jobs = raw.filter(s => s.kind == "job" && ops.contains(s.parent))
      .flatMap(j => outside(j, ops(j.parent)))
    val batches = linked.filter(_.kind == "microbatch")
      .flatMap(b => owner.get(b.id).flatMap(o => outside(b, ops(o))))
    val unlinked = linked
      .filter(s => Set("job", "sql", "microbatch")(s.kind) && !owner.contains(s.id))
      .map(s => s"${s.kind} ${s.name} links to no operation")
    val crossed = raw.filter(s => s.kind == "job" && ops.contains(s.parent))
      .filter(j => owner.get(j.id).exists(_ != j.parent))
      .map(j => s"${j.name} names operation ${j.parent} but its SQL execution " +
        s"sits under ${owner(j.id)}")
    jobs ++ batches ++ unlinked ++ crossed
  }

  /** Self time per span kind: duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val cov = union(kids.getOrElse(s.id, Nil)
          .map(ch => (math.max(ch.start, s.start), math.min(ch.end, s.end))))
        s.dur - cov
      }.sum / 1000.0
    }
  }

  def layerMetrics(c: Main.Conf, r: Main.RunResult, raw: Seq[Span])
      : (Seq[(String, Double, String)], Seq[String]) = {
    val ops = r.ops.filter(o => o.traced && o.pass >= 0)
    val opIds = ops.map(_.id).toSet
    val spans = link(raw)
    val byId = spans.map(s => s.id -> s).toMap
    val owner = owners(spans)
    def opOf(s: Span): Option[Long] = owner.get(s.id).filter(opIds)
    val jobs = spans.filter(s => s.kind == "job" && opOf(s).nonEmpty)
    val sqls = spans.filter(s => s.kind == "sql" && opOf(s).nonEmpty)
    val batches = spans.filter(s => s.kind == "microbatch" && opOf(s).nonEmpty)
    def jsum(k: String) = jobs.map(_.attrs.getOrElse(k, 0.0)).sum
    val wall = ops.map(_.wall).sum / 1000
    val jobsByOp = jobs.groupBy(j => opOf(j).get)
    // unclipped: the layer-sum check holds every job inside its operation
    val jobWall = ops.map(o =>
      union(jobsByOp.getOrElse(o.id, Nil).map(j => (j.start, j.end))))
    val violations = layerCheck(raw)
    def underStoreWrite(s: Span): Boolean =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
        .takeWhile(_.nonEmpty).take(20).flatten
        .exists(a => a.kind == "sql" && a.attrs.getOrElse("store_write", 0.0) > 0)
    val writeJobs = jobs.filter(underStoreWrite)
    val writers = writeJobs.flatMap(opOf).distinct.size.max(1)
    val readOps = ops.filter(_.kind == "read").map(_.id).toSet
    val readIn = jobs.filter(j => opOf(j).exists(readOps)).map(_.attrs("input_b")).sum
    val nWrites = ops.count(_.kind == "write")
    val mb = 1048576.0
    val firstBatch = batches.groupBy(_.tags("query_id")).values.map { bs =>
      val f = bs.minBy(_.attrs("batch_id"))
      math.max(0.0, f.start - f.attrs("query_start"))
    }
    val lastState = batches.groupBy(_.tags("query_id")).values
      .map(_.maxBy(_.attrs("batch_id")))
    def bsum(k: String) = batches.map(_.attrs.getOrElse(k, 0.0)).sum / 1000
    val untracedRun = passTime(r.ops.filter(o => o.pass >= 0 && !o.traced))
    val self = selfTimes(spans.filter(s => s.kind == "op" && opIds(s.id) ||
      s.kind != "op" && opOf(s).nonEmpty))
    val src = r.sources.withDefaultValue(0.0)
    val m = Seq[(String, Double, String)](
      ("operators.ops", ops.size.toDouble, "count"),
      ("operators.build_s", ops.map(_.build).sum / 1000, "s"),
      ("operators.result_s", ops.map(_.result).sum / 1000, "s"),
      ("plans.executions", sqls.size.toDouble, "count"),
      ("plans.analysis_s", sqls.map(_.attrs("analysis_ms")).sum / 1000, "s"),
      ("plans.optimization_s", sqls.map(_.attrs("optimization_ms")).sum / 1000, "s"),
      ("plans.planning_s", sqls.map(_.attrs("planning_ms")).sum / 1000, "s"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", jsum("stages"), "count"),
      ("spark.tasks", jsum("tasks"), "count"),
      ("spark.failed_tasks", jsum("failed_tasks"), "count"),
      ("spark.job_wall_s", jobWall.sum / 1000, "s"),
      ("spark.driver_gap_s", wall - jobWall.sum / 1000, "s"),
      ("spark.exec_run_s", jsum("run_ms") / 1000, "s"),
      ("spark.exec_cpu_s", jsum("cpu_ns") / 1e9, "s"),
      ("spark.exec_gc_s", jsum("gc_ms") / 1000, "s"),
      ("spark.busy_share", if (wall > 0) jsum("run_ms") / 1000 / (c.cores * wall) else 0.0, "ratio"),
      ("spark.input_mb", jsum("input_b") / mb, "MB"),
      ("spark.shuffle_write_mb", jsum("shuffle_write_b") / mb, "MB"),
      ("spark.shuffle_read_mb", jsum("shuffle_read_b") / mb, "MB"),
      ("spark.spill_mb", jsum("spill_b") / mb, "MB"),
      ("sources.write_jobs", writeJobs.size.toDouble / writers, "count"),
      ("sources.write_input_mb", writeJobs.map(_.attrs("input_b")).sum / mb / writers, "MB"),
      ("sources.files_added", src("files_added") / math.max(nWrites, 1), "count"),
      ("sources.versions", src("versions"), "count"),
      ("sources.live_files", src("live_files"), "count"),
      ("sources.mor_record_parts", src("mor_record_parts"), "count"),
      ("sources.read_input_mb", readIn / mb / math.max(readOps.size, 1), "MB"),
      ("sources.space_amp", src("space_amp"), "ratio"),
      ("sources.compact_s", ops.filter(_.name.startsWith("compact")).map(_.wall).sum / 1000, "s"),
      ("streaming.microbatches", batches.size.toDouble, "count"),
      ("streaming.start_s", firstBatch.sum / 1000, "s"),
      ("streaming.add_batch_s", bsum("add_batch_ms"), "s"),
      ("streaming.query_planning_s", bsum("query_planning_ms"), "s"),
      ("streaming.wal_commit_s", bsum("wal_commit_ms"), "s"),
      ("streaming.commit_offsets_s", bsum("commit_offsets_ms"), "s"),
      ("streaming.latest_offset_s", bsum("latest_offset_ms"), "s"),
      ("streaming.get_batch_s", bsum("get_batch_ms"), "s"),
      ("streaming.state_rows", lastState.map(_.attrs("state_rows")).sum, "count"),
      ("streaming.state_mem_mb", lastState.map(_.attrs("state_mem_b")).sum / mb, "MB"),
      ("streaming.state_commit_s", bsum("state_commit_ms"), "s"),
      ("jvm.heap_peak_mb", Heap.peakBytes / mb, "MB"),
      ("trace.run_s", passTime(ops), "s"),
      ("trace.overhead_frac",
        if (untracedRun > 0) passTime(ops) / untracedRun - 1 else 0.0, "ratio"),
      ("trace.layer_sum_violations", violations.size.toDouble, "count")
    ) ++ Seq("build", "result", "sql", "job", "microbatch").map(k =>
      (s"self.${k}_s", self.getOrElse(k, 0.0), "s"))
    (m, violations)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
