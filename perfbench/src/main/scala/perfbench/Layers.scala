package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never reaches reports 0 (no time spent,
  * no jobs run there). Times are medians per operation, counters and
  * bytes are means per operation.
  */
object Layers {
  import Stats.{mean, median}

  def headlineNames: Seq[String] =
    graft.SparkEntry.registry.filter(_.headline).map(_.name)

  private val zero = Seq(
    "sparql.parse_ms", "planner.plan_ms", "planner.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.core_util", "exec.spill_bytes", "exec.input_bytes",
    "exec.result_rows", "server.residual_ms", "update.parse_ms",
    "update.apply_ms", "update.jobs", "store.writeback_ms",
    "store.reload_ms", "store.bytes_written_per_op", "store.compact_ms",
    "store.compactions", "store.delta_batches", "store.build_s",
    "store.files", "jvm.gc_ms", "jvm.heap_peak_mb", "jvm.peak_rss_mb",
    "trace.overhead_ms")

  private def init(out: ObjectNode): Unit = {
    zero.foreach(out.put(_, 0.0))
    headlineNames.foreach { n =>
      Seq("ms", "jobs", "shuffle_bytes").foreach(k => out.put(s"query.$n.$k", 0.0))
    }
    out.put("jvm.gc_ms", Resources.gcMs.toDouble)
    out.put("jvm.heap_peak_mb", Resources.heapPeakMb)
    out.put("jvm.peak_rss_mb", Resources.peakRssMb)
  }

  /** Mean over templates of (traced − untraced) median latency. */
  private def overhead(samples: Seq[Sample], kind: String): Double = {
    def med(phase: String) = samples
      .filter(s => s.phase == phase && s.kind == kind && s.status > 0)
      .groupBy(_.template).map { case (t, ss) => t -> median(ss.map(_.latNs / 1e6)) }
    val (a, b) = (med("A"), med("B"))
    mean(a.keySet.intersect(b.keySet).toSeq.map(t => b(t) - a(t)))
  }

  private def exec(out: ObjectNode, wallMs: Seq[Double], cs: Seq[Counters],
      cpus: Int): Unit = {
    out.put("exec.jobs", mean(cs.map(_.jobs.toDouble)))
    out.put("exec.stages", mean(cs.map(_.stages.toDouble)))
    out.put("exec.tasks", mean(cs.map(_.tasks.toDouble)))
    out.put("exec.shuffle_write_bytes", mean(cs.map(_.shuffleWrite.toDouble)))
    out.put("exec.shuffle_read_bytes", mean(cs.map(_.shuffleRead.toDouble)))
    out.put("exec.spill_bytes", mean(cs.map(_.spill.toDouble)))
    out.put("exec.input_bytes", mean(cs.map(_.input.toDouble)))
    val wall = wallMs.sum
    out.put("exec.core_util",
      if (wall > 0) cs.map(_.taskMs).sum / (wall * cpus) else 0.0)
  }

  /** `reads`: the replayed reads the read layers are measured on;
    * `batchReads`: those replayed beside updates (live delta batches).
    */
  def sparql(o: Opts, out: ObjectNode, samples: Seq[Sample],
      reads: Seq[SparqlRun.ReadRec], batchReads: Seq[SparqlRun.ReadRec],
      upds: Seq[SparqlRun.UpdRec]): Unit = {
    init(out)
    out.put("sparql.parse_ms", median(reads.map(_.parseMs)))
    out.put("planner.plan_ms", median(reads.map(_.planMs)))
    out.put("planner.jobs", mean(reads.map(_.plan.jobs.toDouble)))
    def both(f: Counters => Double) = reads.map(r => f(r.plan) + f(r.exec))
    out.put("catalyst.analysis_ms", median(both(_.analysisMs)))
    out.put("catalyst.optimization_ms", median(both(_.optimizationMs)))
    out.put("catalyst.planning_ms", median(both(_.planningMs)))
    out.put("exec.ms", median(reads.map(r =>
      (r.execMs - r.exec.optimizationMs - r.exec.planningMs).max(0.0))))
    exec(out, reads.map(_.execMs), reads.map(_.exec), o.cpus)
    out.put("exec.result_rows", mean(reads.map(_.rows.toDouble)))
    // endpoint latency the direct path does not explain: rendering,
    // HTTP and queueing, per template, then the median over templates
    val direct = reads.groupBy(_.template).map { case (t, rs) =>
      t -> median(rs.map(_.totalMs)) }
    val http = samples.filter(s => s.phase == "A" && s.kind == "read" &&
      s.status == 200).groupBy(_.template)
      .map { case (t, ss) => t -> median(ss.map(_.latNs / 1e6)) }
    out.put("server.residual_ms", median(direct.keySet.intersect(http.keySet)
      .toSeq.map(t => http(t) - direct(t))))
    out.put("store.delta_batches", mean(batchReads.map(_.batches.toDouble)))
    if (upds.nonEmpty) {
      out.put("update.parse_ms", median(upds.map(_.parseMs)))
      out.put("update.apply_ms", median(upds.map(_.applyMs)))
      out.put("update.jobs", mean(upds.map(_.apply.jobs.toDouble)))
      out.put("store.writeback_ms",
        median(upds.filterNot(_.compaction).map(_.wbMs)))
      out.put("store.compact_ms", median(upds.filter(_.compaction).map(_.wbMs)))
      out.put("store.reload_ms", median(upds.map(_.reloadMs)))
      out.put("store.bytes_written_per_op", mean(upds.map(_.wb.output.toDouble)))
    }
    out.put("trace.overhead_ms", overhead(samples, "read"))
  }

  /** The store-layer figures measured at the end of the run. */
  def store(out: ObjectNode, store: ObjectNode): Unit = {
    out.put("store.build_s", store.get("build_s").asDouble)
    out.put("store.files", store.get("files").asDouble)
    out.put("store.compactions", store.get("compactions").asDouble)
  }

  final case class QueryRec(name: String, buildMs: Double, execMs: Double,
      build: Counters, exec: Counters)

  def analytics(o: Opts, out: ObjectNode, samples: Seq[Sample],
      qs: Seq[QueryRec], rows: Seq[Long]): Unit = {
    init(out)
    def both(f: Counters => Double) = qs.map(q => f(q.build) + f(q.exec))
    out.put("catalyst.analysis_ms", median(both(_.analysisMs)))
    out.put("catalyst.optimization_ms", median(both(_.optimizationMs)))
    out.put("catalyst.planning_ms", median(both(_.planningMs)))
    out.put("exec.ms", median(qs.map(q =>
      (q.execMs - q.exec.optimizationMs - q.exec.planningMs).max(0.0))))
    val merged = qs.map { q =>
      val c = new Counters
      Seq(q.build, q.exec).foreach { x =>
        c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
        c.taskMs += x.taskMs; c.shuffleWrite += x.shuffleWrite
        c.shuffleRead += x.shuffleRead; c.spill += x.spill; c.input += x.input
      }
      c
    }
    exec(out, qs.map(q => q.buildMs + q.execMs), merged, o.cpus)
    out.put("exec.result_rows", mean(rows.map(_.toDouble)))
    qs.zip(merged).foreach { case (q, c) =>
      out.put(s"query.${q.name}.ms", q.buildMs + q.execMs)
      out.put(s"query.${q.name}.jobs", c.jobs.toDouble)
      out.put(s"query.${q.name}.shuffle_bytes", c.shuffleWrite.toDouble)
    }
    out.put("trace.overhead_ms", overhead(samples, "query"))
  }
}
