package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContextAccess
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, run one workload's closed loop for
  * `--seconds`, check every result, print the metrics.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --work <dir> --trace-out <file> [--commit <id>] [--source <hash>]`
  *
  * stdout: report lines, then one JSON result line. With `--trace 0` the
  * result holds the end-to-end metrics; with `--trace 1` the per-layer
  * ones, and the spans go to `--trace-out`.
  */
object Main {
  val Workloads: Seq[String] = Seq("incremental_load", "versioned_upsert", "corpus_curation")

  /** Set-up repeats table seeding this many times and reports the median. */
  private val SeedReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")

    val calib = calibrate(cpus)
    val setup0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps 1000 jobs and SQL executions by default,
      // so the driver heap would grow with the number of ops a run makes
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    if (traced) {
      // a `file:` FS cached before the session existed would bypass the conf
      FileSystem.closeAll()
      val fs = FileSystem.get(new java.net.URI("file:///"), sc.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem], s"traced run got ${fs.getClass}")
    }
    val sessionS = (System.nanoTime() - setup0) / 1e9

    val trace = new Trace(sc, traced)
    val ctx = Ctx(spark, trace, seed, work)
    val w: Workload = workload match {
      case "incremental_load" => new IncrementalLoad(ctx)
      case "versioned_upsert" => new VersionedUpsert(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
    }
    val (stageS, _) = timed(w.stage())
    val seedS = (0 until SeedReps).map(r => timed(w.seedTables(r))._1)
    val (warmS, _) = timed((0 until w.warmupRounds).foreach(w.round))
    val setupS = sessionS + stageS + median(seedS) + warmS
    trace.reset()

    val loop0 = System.nanoTime()
    var i = w.warmupRounds
    def elapsed = (System.nanoTime() - loop0) / 1e9
    // closed loop: one round after another until time is up; a round
    // boundary the workload cannot stop at extends the run up to 3x
    while ({ trace.round = i; w.round(i); i += 1; elapsed < seconds || (!w.mayStop(i - 1) && elapsed < 3 * seconds) }) ()
    val loopS = elapsed

    val heapMb = retainedHeapMb()
    val amp = Workload.dirBytes(w.root).toDouble / w.liveDataBytes()
    val (checkS, badResults) = timed(w.check())
    val ops = trace.ops.toSeq
    val failures = trace.errors.toSeq ++ badResults
    val attempted = ops.size
    val failed = math.min(attempted, ops.count(!_.ok) + badResults.size)

    def byKind(k: String) = ops.filter(o => o.kind == k && o.ok).map(_.ms)
    // The median of each call kind (merge_dv, append, ...), combined by
    // geometric mean: a median taken over a mix of kinds would fall in the
    // gap between two of them and jump with a single sample.
    def p50(k: String) = {
      val meds = ops.filter(o => o.kind == k && o.ok).groupBy(_.name).values.map(os => median(os.map(_.ms)))
      if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
    }
    val (writeTail, writeTailLabel) = tail(byKind("write"))
    val (readTail, readTailLabel) = tail(byKind("read"))
    // A run holds too few writes and reads for a tail with ten samples
    // beyond it to be a tail, so the tails are reported, not gated.
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ops.count(_.ok) / loopS, "ops/s"),
      ("write_p50_ms", p50("write"), "ms"),
      ("read_p50_ms", p50("read"), "ms"),
      ("storage_amp", amp, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))

    val out = ArrayBuffer.empty[String]
    out += Json.obj(Seq("stamp" -> Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "mode" -> Json.str(if (traced) "traced" else "untraced"), "nproc" -> cpus.toString,
      "spark" -> Json.str(spark.version), "commit" -> Json.str(a.getOrElse("commit", "unknown")),
      "source" -> Json.str(a.getOrElse("source", "unknown")),
      "calib_s" -> Json.num(calib), "contended" -> (calib > CalibBudgetS).toString))))
    out += f"setup: session ${sessionS}%.3f s, stage ${stageS}%.3f s, seed tables ${seedS.map(s => f"$s%.3f").mkString("/")} s (median of $SeedReps), warm-up ${warmS}%.3f s"
    out += f"loop: ${i - w.warmupRounds}%d rounds after ${w.warmupRounds} warm-up, ${ops.size} ops in ${loopS}%.3f s, kinds ${ops.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}"
    out += f"write_tail_ms $writeTail%.3f ms, $writeTailLabel; read_tail_ms $readTail%.3f ms, $readTailLabel"
    out += "calls: " + ops.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (n, os) =>
      f"$n n=${os.size} p50=${median(os.filter(_.ok).map(_.ms))}%.1f ms" }.mkString(", ")
    // every op's latency, by round: shows how far the JIT still speeds a run up
    out += "ops: " + ops.groupBy(_.round).toSeq.sortBy(_._1).map { case (r, os) =>
      s"r$r " + os.map(o => f"${o.name}=${o.ms}%.0f").mkString(" ") }.mkString(" | ")
    out += f"checks: ${checkS}%.3f s"
    out += f"failed_ratio ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed of $attempted)"
    failures.take(20).foreach(f => out += s"failure: $f")
    out ++= w.report(loopS)
    out += "e2e " + Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) })

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        SparkContextAccess.drain(sc)
        val jobs = trace.jobs.get
        val layer = Layers.common(trace, jobs, loopS * 1000, w.plainBytesPerRow()) ++ w.layerMetrics()
        writeSpans(a("trace-out"), trace, jobs)
        PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    out.foreach(println)
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
  }

  /** The per-layer metrics a traced run prints, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "publish.calls" -> "count", "publish.busy_ms" -> "ms", "publish.jobs_per_call" -> "jobs",
    "publish.driver_ms_per_call" -> "ms", "publish.files_per_call" -> "files",
    "publish.bytes_written_per_row" -> "B/row",
    "fetch.calls" -> "count", "fetch.plan_ms" -> "ms", "fetch.exec_ms" -> "ms",
    "fetch.jobs_per_call" -> "jobs", "fetch.prune_ratio" -> "ratio", "fetch.introspect_ms" -> "ms",
    "fetch.list_ops_per_introspect" -> "ops",
    "versions.resolve_ms" -> "ms", "versions.time_travel_ms" -> "ms",
    "versions.log_reads_per_resolve" -> "ops", "versions.log_bytes_per_commit" -> "B",
    "versions.checkpoints_written" -> "count", "versions.maintenance_ms" -> "ms",
    "versions.bytes_rewritten_per_compact" -> "B",
    "mutations.calls" -> "count", "mutations.merge_ms" -> "ms", "mutations.delete_ms" -> "ms",
    "mutations.update_ms" -> "ms", "mutations.jobs_per_call" -> "jobs",
    "mutations.driver_ms_per_call" -> "ms", "mutations.files_rewritten_per_call" -> "files",
    "mutations.rows_changed_per_row_written" -> "ratio",
    "kernels.minhash_ms" -> "ms", "kernels.minhash_jobs" -> "jobs", "kernels.minhash_shuffle_mb" -> "MB",
    "kernels.tfidf_ms" -> "ms", "kernels.tfidf_jobs" -> "jobs", "kernels.tfidf_shuffle_mb" -> "MB",
    "kernels.ivf_ms" -> "ms", "kernels.ivf_jobs" -> "jobs", "kernels.ivf_shuffle_mb" -> "MB",
    "kernels.minhash_planted_recall" -> "ratio", "kernels.ivf_recall_at_10" -> "ratio",
    "spark.jobs_per_op" -> "jobs", "spark.tasks_per_job" -> "tasks",
    "spark.job_union_ms_per_op" -> "ms", "spark.driver_ms_per_op" -> "ms",
    "spark.shuffle_mb_per_op" -> "MB", "spark.spill_mb_per_op" -> "MB",
    "spark.gc_ms_per_op" -> "ms", "spark.executor_cpu_ms_per_op" -> "ms",
    "fs.ops_per_write" -> "ops", "fs.bytes_written_per_user_byte" -> "ratio") ++
    FsCounts.Classes.map(c => s"fs.${c}_ops_per_write" -> "ops") ++
    FsCounts.Kinds.map(k => s"fs.${k}_ops_per_write" -> "ops") ++
    Seq("trace.span_coverage" -> "ratio")

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The latency at the highest percentile with at least ten samples
    * beyond it, and a label naming that percentile and the sample count.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (if (n == 0) 0.0 else s.last, s"the maximum of $n samples (fewer than 11)")
    else (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n samples (10 beyond it)")
  }

  private def retainedHeapMb(): Double = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks once a GC
    // has collected their handles; give it time before the measured GC
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Layers.Mb
  }

  /** Idle 4-core machines measure ~0.2 s; well above that, another
    * process is taking the CPUs and the run says so in its stamp.
    */
  private val CalibBudgetS = 0.6

  /** Fixed CPU-bound work on `threads` threads, timed before Spark starts. */
  private def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0L
        while (n < 120000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        if (x == 42L) System.err.println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def writeSpans(path: String, trace: Trace, jobs: JobCollector): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    try {
      val t0 = trace.ops.headOption.map(_.startNs).getOrElse(0L)
      def ms(ns: Long) = Json.num((ns - t0) / 1e6)
      for (o <- trace.ops) pw.println(Json.obj(Seq("type" -> Json.str("op"), "id" -> o.id.toString,
        "name" -> Json.str(o.name), "kind" -> Json.str(o.kind), "start_ms" -> ms(o.startNs),
        "end_ms" -> ms(o.endNs), "ok" -> o.ok.toString)))
      for (s <- trace.spans) {
        val j = jobs.get(s.group)
        val fs = for (k <- FsCounts.Kinds; c <- FsCounts.Classes if s.fs.op(k, c) > 0)
          yield s"$k.$c" -> s.fs.op(k, c).toString
        pw.println(Json.obj(Seq("type" -> Json.str("span"), "id" -> s.op.toString,
          "parent" -> Json.str(s.opName), "name" -> Json.str(s.name), "start_ms" -> ms(s.startNs),
          "end_ms" -> ms(s.endNs), "jobs" -> j.jobs.toString, "tasks" -> j.tasks.toString,
          "job_union_ms" -> j.unionMs.toString, "fs" -> Json.obj(fs),
          "bytes_written" -> s.fs.bytes.toString)))
      }
    } finally pw.close()
  }
}

/** Just enough JSON for flat result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
