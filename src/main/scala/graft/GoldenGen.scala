package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Golden-file generator + the canonical result fingerprint it shares with
  * GoldenSpec.
  *
  * The committed golden file (`src/test/resources/golden_sf0.001.json`) pins
  * every registry query's (row count, sha256 of the sorted canonical rows) at
  * sf0.001. The DuckDB oracle only sees oracled keys — without this file, a
  * silent result drift on a declared-only key (the LSH family, HLL, the
  * decode stub) would pass every gate. GoldenSpec recomputes each
  * fingerprint and fails on any drift.
  *
  * Regeneration (ONLY after an intentional semantic change, with the diff
  * reviewed):
  * {{{
  *   sbt "runMain graft.GoldenGen /root/testdata/sf0.001"
  * }}}
  * then commit the rewritten golden file alongside the operator change.
  */
object GoldenGen {

  val goldenPath = "src/test/resources/golden_sf0.001.json"

  /** Keys whose values come out of a merge-order-sensitive sketch
    * (Greenwald–Khanna partial merges follow nondeterministic shuffle
    * arrival order, so the interpolated quantiles can wobble in the last
    * ulps between runs). Row count is still pinned; the value hash is not.
    */
  val mergeOrderSensitive: Set[String] = Set("agg_approx_percentiles")

  /** Canonical, engine-version-stable rendering of one result value.
    * Doubles/floats render as IEEE hex (`toHexString`) — bit-exact and
    * independent of `Double.toString`'s decimal formatting, which changed
    * across JDK releases (a golden file must not "drift" on a JDK upgrade).
    */
  def render(v: Any): String = v match {
    case null => "\\N"
    case d: java.lang.Double => java.lang.Double.toHexString(d)
    case f: java.lang.Float => java.lang.Float.toHexString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + ":" + render(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  /** (rowCount, sha256 hex) over columns sorted by name and rows sorted by
    * their rendered form — independent of partitioning and output order,
    * exactly like the driver's DuckDB hash compare.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(render).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    (rows.length.toLong, md.digest().map(x => f"$x%02x").mkString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (rows, hash) = fingerprint(fn(spark, sfDir))
      graft.api.Caches.sweepAll(spark)
      System.err.println(s"[golden] $name rows=$rows $hash")
      s"""  "$name": {"rows": $rows, "hash": "$hash"}"""
    }
    Files.writeString(Paths.get(goldenPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    System.err.println(s"[golden] wrote ${entries.size} entries to $goldenPath")
    spark.stop()
  }
}
