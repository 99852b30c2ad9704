package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{ColFilter, Fetch, Publish}

/** The s3parq lifecycle on an unversioned table: `lineitem` rows,
  * hive-partitioned by an int `ship_month` (yyyymm). Each batch asks for
  * the newest month, appends the next one, reads twice with a seeded
  * partition filter, and diffs its months against a downstream copy.
  *
  * The table is seeded with 16 months and grows by one per batch: 24
  * after the warm-up batches, so it crosses Spark's 32-path parallel
  * partition discovery threshold during the timed loop. The seed picks
  * the order of filter shapes (each block of three fetches has one of
  * each), the months of the `==` filters and line values, never the
  * table's size or how many months a filter matches.
  */
final class IncrementalLoad(c: Ctx) extends Workload {
  import c._

  private val RowsPerMonth = 7000
  private val InitialMonths = 16
  private val MaxMonths = 84
  private val RangeMonths = 6
  private val Part = "ship_month"

  private var live = ""
  private var months = 0

  private final case class FetchRec(filter: ColFilter, months: Int, count: Long)
  private val fetches = ArrayBuffer.empty[FetchRec]
  private val maxes = ArrayBuffer.empty[(Int, Option[Any])]
  private val diffs = ArrayBuffer.empty[(Int, Set[Int], Set[Any])]
  // (distinct data files opened, data files in matching partitions)
  private val pruning = ArrayBuffer.empty[(Int, Int)]

  def root: String = live

  def code(m: Int): Int = (1995 + m / 12) * 100 + m % 12 + 1

  /** Months `[m0, m1)` of generated line items. */
  def frame(m0: Int, m1: Int): DataFrame = {
    import Workload.uni
    val m = (col("id") / RowsPerMonth).cast("int")
    spark.range(m0.toLong * RowsPerMonth, m1.toLong * RowsPerMonth, 1, 1).select(
      (col("id") / 4 + 1).as("l_orderkey"),
      (uni(seed, 1, 20000) + 1).as("l_partkey"),
      (uni(seed, 2, 1000) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (uni(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      (uni(seed, 4, 10000000) / 100.0).as("l_extendedprice"),
      (uni(seed, 5, 11) / 100.0).as("l_discount"),
      (uni(seed, 6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (uni(seed, 7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (uni(seed, 8, 2) + 1).cast("int")).as("l_linestatus"),
      make_date(lit(1995) + (m / 12).cast("int"), pmod(m, lit(12)) + 1,
        (uni(seed, 9, 28) + 1).cast("int")).as("l_shipdate"),
      ((lit(1995) + (m / 12).cast("int")) * 100 + pmod(m, lit(12)) + 1).as(Part))
  }

  def stage(): Unit = ()

  /** Append latency falls by a quarter over the first ~8 batches of a
    * JVM as the JIT compiles the write path; a batch takes under a second.
    */
  override def warmupRounds: Int = 8

  def seedTables(rep: Int): Unit = {
    live = s"$work/lineitem_$rep"
    Publish.publish(spark, frame(0, InitialMonths), live, Seq(Part), "overwrite")
    months = InitialMonths
  }

  // fetches come in blocks of three, one of each filter shape in a
  // seeded order, so every run reads the same mix of shapes
  private var shapes = List.empty[Int]

  /** The next filter and the op name of its shape. A range always spans
    * the newest `RangeMonths` months: a seeded start would make one run
    * read two months per range and another thirty.
    */
  private def filterFor(rnd: Random): (String, ColFilter) = {
    def pick() = code(rnd.nextInt(months))
    if (shapes.isEmpty) shapes = rnd.shuffle(List(0, 1, 2))
    val shape = shapes.head
    shapes = shapes.tail
    shape match {
      case 0 => ("fetch_eq", ColFilter(Part, "==", Seq(pick())))
      case 1 => ("fetch_in", ColFilter(Part, "==", Seq.fill(3)(pick()).distinct))
      case _ => ("fetch_range", ColFilter(Part, ">=", Seq(code(months - RangeMonths))))
    }
  }

  private def matches(f: ColFilter, v: Int): Boolean = {
    val xs = f.values.map(_.asInstanceOf[Int])
    f.comparison match {
      case "==" => xs.contains(v)
      case ">=" => v >= xs.head
    }
  }

  def round(i: Int): Unit = {
    val rnd = new Random(seed * 1000003L + i)
    trace.op("introspect.max", "meta") {
      val v = trace.span("fetch.introspect")(Fetch.getMaxPartitionValue(spark, live, Part))
      maxes += ((months, v))
    }
    if (months < MaxMonths)
      trace.op("append", "write") {
        trace.span("publish.append", RowsPerMonth)(Publish.publish(spark, frame(months, months + 1), live, Seq(Part), "append"))
        months += 1
      }
    for (_ <- 0 until 2) {
      val (name, f) = filterFor(rnd)
      if (trace.traced) FsCounts.resetOpened()
      trace.op(name, "read") {
        val df = trace.span("fetch.plan")(Fetch.fetch(spark, live, Seq(f)))
        val n = trace.span("fetch.exec")(df.count())
        fetches += FetchRec(f, months, n)
      }
      if (trace.traced) {
        val matching = Workload.parquetFiles(live).count { case (p, _) =>
          (0 until months).exists(m => matches(f, code(m)) && p.contains(s"/$Part=${code(m)}/"))
        }
        pruning += ((FsCounts.openedCount, matching))
      }
    }
    val downstream = (0 until months - 1 - rnd.nextInt(3)).map(code).toSet
    trace.op("introspect.diff", "meta") {
      val d = trace.span("fetch.introspect")(
        Fetch.getDiffPartitionValues(spark, live, Part, downstream.toSeq))
      diffs += ((months, downstream, d.toSet))
    }
  }

  def plainBytesPerRow(): Double = Workload.plainBytesPerRow(frame(0, 1), s"$work/plain")

  def liveDataBytes(): Long = Workload.parquetFiles(live).map(_._2).sum

  def check(): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    // plain parquet read of the same months, no graft code involved
    val plain = spark.read.parquet(live)
    val perMonth = plain.groupBy(Part).count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = (0 until months).map(code).toSet
    if (perMonth.keySet != want) bad += s"published months ${perMonth.keySet.size} != $months"
    val got = Workload.contentHash(plain.select(frame(0, 1).columns.map(col).toIndexedSeq: _*))
    val exp = Workload.contentHash(frame(0, months))
    if (got != exp) bad += s"table content $got != generated $exp"
    for (r <- fetches) {
      val e = (0 until r.months).map(code).filter(matches(r.filter, _)).map(perMonth.getOrElse(_, 0L)).sum
      if (r.count != e) bad += s"fetch ${r.filter} at ${r.months} months: ${r.count} != $e"
    }
    for ((m, v) <- maxes if !v.contains(code(m - 1))) bad += s"max at $m months: $v"
    for ((m, down, d) <- diffs) {
      val e: Set[Any] = (0 until m).map(code).toSet -- down
      if (d != e) bad += s"diff at $m months: $d != $e"
    }
    bad.toSeq
  }

  override def layerMetrics(): Map[String, Double] = {
    Map("fetch.prune_ratio" -> Layers.ratio(pruning.map(_._2).sum, pruning.map(_._1).sum))
  }

  override def report(loopSec: Double): Seq[String] =
    Seq(s"table months at end: $months (started at $InitialMonths)")
}
