package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.core.{ColFilter, Fetch, Mutations, Publish, Versions}

/** Change data capture on a versioned `orders` table partitioned by
  * `o_year`. Each round merges (~1% of keys, updates and inserts) and
  * deletes (~0.1%) through deletion vectors, updates ~0.3% of one year
  * copy-on-write, appends new orders, then reads the latest snapshot,
  * three seeded years of it, and the version one round back. Every
  * `Cadence` rounds it compacts and vacuums, so the run covers the drift
  * deletion vectors cause and its repair. The run ends only `Cadence`
  * rounds after a compaction, so every run stops at the same point of
  * that cycle.
  */
final class VersionedUpsert(c: Ctx) extends Workload {
  import c._

  private val BaseRows = 60000L
  private val MergeRows = BaseRows / 100
  private val AppendRows = BaseRows / 100
  private val Cadence = 2
  private val Part = "o_year"
  private val Years = 1995 to 2001

  private var live = ""
  private var keepFrom = 1
  private var lastRound = 0
  // per round: the replay needs its inputs, the checks its results
  private final case class RoundRec(round: Int, version: Int, latestCount: Long)
  private val rounds = ArrayBuffer.empty[RoundRec]
  private val travels = ArrayBuffer.empty[(Int, Int, Long)] // (round read, version, count)
  private val yearReads = ArrayBuffer.empty[(Int, Int, Long)] // (round, year, count)
  private val maintained = ArrayBuffer.empty[(Int, Int)] // (before round, version after compact)

  def root: String = live

  /** Orders with keys `key(id)`; values drawn from stream `salt`. */
  private def orders(ids: DataFrame, key: Column, salt: Long): DataFrame = {
    import Workload.uni
    val s = seed * 7919 + salt
    val date = date_add(lit("1995-01-01").cast("date"), uni(s, 1, 2557).cast("int"))
    ids.select(
      key.as("o_orderkey"),
      (uni(s, 2, 15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (uni(s, 3, 3) + 1).cast("int")).as("o_orderstatus"),
      (uni(s, 4, 50000000) / 100.0).as("o_totalprice"),
      date.as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (uni(s, 5, 5) + 1).cast("int")).as("o_orderpriority"),
      year(date).as(Part))
  }

  private def base: DataFrame = orders(spark.range(BaseRows).toDF(), col("id") + 1, 0)

  /** Round `r`'s merge source: half existing keys (a stride walk, so they
    * are distinct), half new ones.
    */
  private def mergeSource(r: Int): DataFrame = {
    val off = new Random(seed + r).nextInt(BaseRows.toInt)
    val ids = spark.range(MergeRows).toDF()
    val key = when(col("id") < MergeRows / 2, pmod(col("id") * 7919 + off, lit(BaseRows)) + 1)
      .otherwise(lit(1000000000L) + r * 1000000L + col("id"))
    orders(ids, key, 1000 + r)
  }

  private def appendRows(r: Int): DataFrame =
    orders(spark.range(AppendRows).toDF(), lit(2000000000L) + r * 1000000L + col("id"), 2000 + r)

  private def deletePred(r: Int): Column =
    pmod(xxhash64(col("o_orderkey"), lit(seed * 31 + r)), lit(1000)) === 0

  private def updateYear(r: Int): Int = 1995 + new Random(seed * 17 + r).nextInt(7)
  private def updatePred(r: Int): Column =
    col(Part) === updateYear(r) && pmod(xxhash64(col("o_orderkey"), lit(seed * 37 + r)), lit(1000)) < 3
  private val updates: Map[String, Column] = Map(
    "o_totalprice" -> functions.round(col("o_totalprice") * 1.01 + 1, 2),
    "o_orderstatus" -> lit("U"))

  def stage(): Unit = ()

  def seedTables(rep: Int): Unit = {
    live = s"$work/orders_$rep"
    Publish.publishVersioned(spark, base, live, Seq(Part), "overwrite")
    keepFrom = Versions.latestVersion(spark, live).get
  }

  def round(i: Int): Unit = {
    lastRound = i
    if (i > 0 && i % Cadence == 0) {
      trace.op("compact", "maintenance")(trace.span("versions.compact")(Versions.compact(spark, live)))
      trace.op("vacuum", "maintenance") {
        val v = Versions.latestVersion(spark, live).get
        trace.span("versions.vacuum")(Versions.vacuum(spark, live, v, graceMs = 0L))
        keepFrom = v
        maintained += ((i, v))
      }
    }
    trace.op("merge_dv", "write") {
      trace.span("mutations.merge", MergeRows)(Mutations.mergeDv(spark, live, mergeSource(i), Seq("o_orderkey")))
    }
    trace.op("delete_dv", "write")(trace.span("mutations.delete")(Mutations.deleteWhereDv(spark, live, deletePred(i))))
    trace.op("update_cow", "write") {
      trace.span("mutations.update")(Mutations.updateWhere(spark, live, updatePred(i), updates))
    }
    trace.op("append", "write") {
      trace.span("publish.append", AppendRows)(Publish.publishVersioned(spark, appendRows(i), live, Seq(Part), "append"))
    }
    trace.op("read_latest", "read") {
      val df = trace.span("fetch.plan")(Fetch.fetch(spark, live))
      trace.span("fetch.exec")(df.count())
    }.foreach { n =>
      // no other writer: the version the read saw is still the latest
      rounds += RoundRec(i, Versions.latestVersion(spark, live).get, n)
    }
    // years hold equal shares of the orders, so the seed picks which
    // years are read but not how much is read
    for (y <- new Random(seed * 41 + i).shuffle(Years).take(3))
      trace.op("read_year", "read") {
        val df = trace.span("fetch.plan")(Fetch.fetch(spark, live, Seq(ColFilter(Part, "==", Seq(y)))))
        trace.span("fetch.exec")(df.count())
      }.foreach(n => yearReads += ((i, y, n)))
    // one round back for every seed: the version the previous round ended
    // at or, once a vacuum has removed it, the compaction that replaced it
    // (a seeded pick among versions would read many DV-laden files on one
    // seed and a few compacted ones on another)
    val back = rounds.find(r => r.round == i - 1 && r.version >= keepFrom).orElse(
      maintained.lastOption.collect { case (r, v) if r == i && v >= keepFrom => RoundRec(r - 1, v, -1L) })
    for (target <- back) {
      trace.op("time_travel", "read") {
        val n = trace.span("versions.time_travel")(Versions.fetchVersion(spark, live, target.version).count())
        travels += ((target.round, target.version, n))
      }
    }
  }

  // stop only `Cadence` rounds after a compaction, and not before the
  // first timed one: a slow first round must not end the run early
  override def mayStop(i: Int): Boolean = i > Cadence && (i + 1) % Cadence == 0

  def liveDataBytes(): Long = {
    val (files, _) = Versions.snapshotAt(spark, live, Versions.latestVersion(spark, live).get)
    files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(live, f))).sum
  }

  def plainBytesPerRow(): Double = Workload.plainBytesPerRow(base.limit(10000), s"$work/plain")

  /** The same seeded ops on plain DataFrames: the table after each round. */
  private def replay(upTo: Int): IndexedSeq[DataFrame] = {
    val states = ArrayBuffer.empty[DataFrame]
    var s = base.localCheckpoint()
    for (r <- 0 to upTo) {
      val src = mergeSource(r)
      s = s.join(src.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(src)
      s = s.where(!deletePred(r))
      val pred = updatePred(r)
      s = s.select(s.columns.toIndexedSeq.map(n =>
        updates.get(n).map(e => when(pred, e).otherwise(col(n)).as(n)).getOrElse(col(n))): _*)
      s = s.unionByName(appendRows(r)).localCheckpoint()
      states += s
    }
    states.toIndexedSeq
  }

  private lazy val expected: IndexedSeq[DataFrame] = replay(lastRound)

  def check(): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val counts = expected.map(_.count())
    for (r <- rounds if r.latestCount != counts(r.round))
      bad += s"latest read after round ${r.round}: ${r.latestCount} != ${counts(r.round)}"
    for ((r, v, n) <- travels if n != counts(r)) bad += s"time travel to v$v (round $r): $n != ${counts(r)}"
    for ((r, reads) <- yearReads.groupBy(_._1)) {
      val byYear = expected(r).groupBy(Part).count().collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      for ((_, y, n) <- reads if n != byYear.getOrElse(y, 0L))
        bad += s"read of $Part=$y after round $r: $n != ${byYear.getOrElse(y, 0L)}"
    }
    val got = Workload.contentHash(Fetch.fetch(spark, live))
    val exp = Workload.contentHash(expected.last)
    if (got != exp) bad += s"final snapshot $got != replay $exp"
    bad.toSeq
  }

  override def layerMetrics(): Map[String, Double] = {
    val jobs = trace.jobs.get
    val spans = trace.spans.toSeq
    def named(ns: String*) = spans.filter(s => ns.contains(s.name))
    val resolve = Layers.stats(named("fetch.plan", "versions.time_travel"), jobs)
    val travel = Layers.stats(named("versions.time_travel"), jobs)
    val commits = Layers.stats(spans.filter(s => s.name.startsWith("mutations.") ||
      s.name == "publish.append" || s.name == "versions.compact"), jobs)
    val compact = Layers.stats(named("versions.compact"), jobs)
    val maint = Layers.stats(named("versions.compact", "versions.vacuum"), jobs)
    val all = Layers.stats(spans, jobs)
    // rows each mutation changes, counted on the replayed table
    val loopRounds = trace.ops.map(_.name).count(_ == "merge_dv")
    val firstRound = lastRound - loopRounds + 1
    val changed = (firstRound until firstRound + loopRounds).map { r =>
      val before = if (r == 0) base else expected(r - 1)
      val afterMerge = before.join(mergeSource(r).select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(mergeSource(r))
      MergeRows + afterMerge.where(deletePred(r)).count() +
        afterMerge.where(!deletePred(r)).where(updatePred(r)).count()
    }.sum
    val mut = Layers.stats(spans.filter(_.name.startsWith("mutations.")), jobs)
    Map(
      "versions.resolve_ms" -> resolve.msPerCall,
      "versions.time_travel_ms" -> travel.msPerCall,
      "versions.log_reads_per_resolve" -> resolve.perCall(resolve.fs.op("open", "log").toDouble),
      "versions.log_bytes_per_commit" -> commits.perCall(commits.fs.bytes("log").toDouble),
      "versions.checkpoints_written" -> all.fs.checkpoints.toDouble,
      "versions.maintenance_ms" -> Layers.ratio(maint.ms, compact.calls),
      "versions.bytes_rewritten_per_compact" -> compact.perCall(compact.fs.bytes("data").toDouble),
      "mutations.rows_changed_per_row_written" -> Layers.ratio(changed.toDouble, mut.rowsWritten.toDouble))
  }

  override def report(loopSec: Double): Seq[String] =
    Seq(s"rounds recorded: ${rounds.size}, compactions: ${maintained.size}, keepFrom v$keepFrom")
}
