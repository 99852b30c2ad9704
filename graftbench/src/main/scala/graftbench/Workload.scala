package graftbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gets: the session, the trace, the seed and a
  * private work directory inside the checkout.
  */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, work: String)

/** A closed-loop client of graft's public functions. The driver calls
  * [[stage]] and [[seedTables]] during set-up, [[warmupRounds]] rounds, then
  * rounds until the run's time is up and [[mayStop]] allows, and finally
  * [[check]] outside the timed section.
  */
trait Workload {
  /** Generate the workload's inputs from the seed. */
  def stage(): Unit
  /** Seed the tables into a fresh root `rep`; the last root stays live. */
  def seedTables(rep: Int): Unit
  def round(i: Int): Unit
  /** Untimed rounds before the loop, so the timed rounds run on a warm JIT. */
  def warmupRounds: Int = 1
  def mayStop(i: Int): Boolean = true
  /** Root of the table whose storage the run reports. */
  def root: String
  /** Bytes of the data files the table's current snapshot reads. */
  def liveDataBytes(): Long
  /** Verify every recorded result; one message per wrong result. */
  def check(): Seq[String]
  /** Bytes per row of the rows this workload hands its writes, as plain
    * snappy parquet: the base of write amplification.
    */
  def plainBytesPerRow(): Double
  /** Workload-specific per-layer numbers, from the finished run. */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Extra report lines (not part of the result line). */
  def report(loopSec: Double): Seq[String] = Nil
}

object Workload {
  /** A seeded 64-bit hash of row `id` for stream `k`: the same seed gives
    * the same value on any partitioning.
    */
  def h(seed: Long, k: Int, id: Column = col("id")): Column = xxhash64(lit(seed), id, lit(k))

  /** Uniform integer in [0, n). */
  def uni(seed: Long, k: Int, n: Long, id: Column = col("id")): Column = pmod(h(seed, k, id), lit(n))

  /** Order-independent content hash of a frame: (rows, sum of row hashes). */
  def contentHash(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def files(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Every byte under `dir`: data, checksums, logs, sidecars. */
  def dirBytes(dir: String): Long = files(dir).map(Files.size).sum

  /** Parquet data files under `dir`, outside graft's `_`-prefixed dirs. */
  def parquetFiles(dir: String): Seq[(String, Long)] = {
    val base = Paths.get(dir)
    files(dir).filter { f =>
      f.getFileName.toString.endsWith(".parquet") &&
        base.relativize(f).iterator().asScala.forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
    }.map(f => (f.toString, Files.size(f)))
  }

  /** Bytes per row of `df` written by Spark's own parquet writer. */
  def plainBytesPerRow(df: org.apache.spark.sql.DataFrame, dir: String): Double = {
    df.write.mode("overwrite").parquet(dir)
    val bytes = parquetFiles(dir).map(_._2).sum
    deleteDir(dir)
    bytes.toDouble / df.count()
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }
}
