package graftbench

/** Totals over a set of spans, joined with the engine work of their job
  * groups.
  */
final case class LayerStats(calls: Int, ms: Double, jobs: Int, tasks: Int, unionMs: Double,
                            fs: FsCounts.Snap, rows: Long, rowsWritten: Long,
                            shuffleBytes: Long, spillBytes: Long, gcMs: Long, cpuNs: Long) {
  private def per(x: Double): Double = if (calls == 0) 0.0 else x / calls
  def msPerCall: Double = per(ms)
  def jobsPerCall: Double = per(jobs.toDouble)
  /** Wall time of the calls outside any of their Spark jobs. */
  def driverMsPerCall: Double = per(ms - unionMs)
  def perCall(x: Double): Double = per(x)
}

object Layers {
  val Mb: Double = 1024.0 * 1024.0

  def stats(spans: Seq[SpanRec], jobs: JobCollector): LayerStats = {
    val aggs = spans.map(s => jobs.get(s.group))
    LayerStats(spans.size, spans.map(_.ms).sum, aggs.map(_.jobs).sum, aggs.map(_.tasks).sum,
      aggs.map(_.unionMs.toDouble).sum, spans.map(_.fs).foldLeft(FsCounts.Zero)(_ + _),
      spans.map(_.rows).sum, aggs.map(_.rowsWritten).sum, aggs.map(_.shuffleBytes).sum,
      aggs.map(_.spillBytes).sum, aggs.map(_.gcMs).sum, aggs.map(_.cpuNs).sum)
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Per-layer metrics every workload reports; a layer the workload does
    * not call reads 0. Workload-specific ones come from
    * [[Workload.layerMetrics]].
    */
  def common(trace: Trace, jobs: JobCollector, loopMs: Double, plainBytesPerRow: Double): Map[String, Double] = {
    val spans = trace.spans.toSeq
    def named(p: String => Boolean) = stats(spans.filter(s => p(s.name)), jobs)
    val publish = named(_.startsWith("publish."))
    val plan = named(_ == "fetch.plan")
    val exec = named(_ == "fetch.exec")
    val intro = named(_ == "fetch.introspect")
    val mutations = named(_.startsWith("mutations."))
    def mut(n: String) = named(_ == s"mutations.$n")
    def kernel(n: String) = {
      val k = named(_ == s"kernels.$n")
      Map(s"kernels.${n}_ms" -> k.msPerCall, s"kernels.${n}_jobs" -> k.jobsPerCall,
        s"kernels.${n}_shuffle_mb" -> k.perCall(k.shuffleBytes / Mb))
    }
    val all = stats(spans, jobs)
    val ops = trace.ops.size.toDouble
    val opMs = trace.ops.map(_.ms).sum
    val writeOps = trace.ops.filter(_.kind == "write").map(_.id).toSet
    val writes = stats(spans.filter(s => writeOps.contains(s.op)), jobs)
    val nWrites = writeOps.size.toDouble
    val fsPerWrite =
      FsCounts.Classes.map(c => s"fs.${c}_ops_per_write" -> ratio(writes.fs.byClass(c), nWrites)) ++
        FsCounts.Kinds.map(k => s"fs.${k}_ops_per_write" -> ratio(writes.fs.byKind(k), nWrites))
    Map(
      "publish.calls" -> publish.calls.toDouble,
      "publish.busy_ms" -> publish.ms,
      "publish.jobs_per_call" -> publish.jobsPerCall,
      "publish.driver_ms_per_call" -> publish.driverMsPerCall,
      "publish.files_per_call" -> publish.perCall(publish.fs.op("create", "data").toDouble),
      "publish.bytes_written_per_row" -> ratio(publish.fs.bytes.toDouble, publish.rows.toDouble),
      "fetch.calls" -> plan.calls.toDouble,
      "fetch.plan_ms" -> plan.msPerCall,
      "fetch.exec_ms" -> exec.msPerCall,
      "fetch.jobs_per_call" -> ratio(plan.jobs + exec.jobs, plan.calls.toDouble),
      "fetch.introspect_ms" -> intro.msPerCall,
      "fetch.list_ops_per_introspect" ->
        intro.perCall((intro.fs.byKind("list") + intro.fs.byKind("status")).toDouble),
      "mutations.calls" -> mutations.calls.toDouble,
      "mutations.merge_ms" -> mut("merge").msPerCall,
      "mutations.delete_ms" -> mut("delete").msPerCall,
      "mutations.update_ms" -> mut("update").msPerCall,
      "mutations.jobs_per_call" -> mutations.jobsPerCall,
      "mutations.driver_ms_per_call" -> mutations.driverMsPerCall,
      "mutations.files_rewritten_per_call" -> mutations.perCall(mutations.fs.op("create", "data").toDouble),
      "spark.jobs_per_op" -> ratio(all.jobs, ops),
      "spark.tasks_per_job" -> ratio(all.tasks, all.jobs),
      "spark.job_union_ms_per_op" -> ratio(all.unionMs, ops),
      "spark.driver_ms_per_op" -> ratio(opMs - all.unionMs, ops),
      "spark.shuffle_mb_per_op" -> ratio(all.shuffleBytes / Mb, ops),
      "spark.spill_mb_per_op" -> ratio(all.spillBytes / Mb, ops),
      "spark.gc_ms_per_op" -> ratio(all.gcMs.toDouble, ops),
      "spark.executor_cpu_ms_per_op" -> ratio(all.cpuNs / 1e6, ops),
      "fs.ops_per_write" -> ratio(writes.fs.total, nWrites),
      "fs.bytes_written_per_user_byte" ->
        ratio(writes.fs.bytes.toDouble, writes.rows * plainBytesPerRow),
      "trace.span_coverage" -> ratio(all.ms, loopMs)
    ) ++ kernel("minhash") ++ kernel("tfidf") ++ kernel("ivf") ++ fsPerWrite
  }
}
