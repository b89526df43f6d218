package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session keeps
  * the suite runtime dominated by the queries, not by session startup.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import spark.implicits._

  /** Rows as a sorted set of string tuples — order-insensitive compare
    * (the reference's tests sort-then-compare too, test/test_ops.py:72-84).
    */
  def rowSet(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).map(_.toSeq).toSet

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq,
      s"column mismatch: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    assert(rowSet(a) == rowSet(b))
  }

  /** Hand-rewrite the current version's `_SEGMENTS` of the persisted
    * index at `indexPath` with `header` in place of its format stamp
    * (None: no header at all, the layout builds wrote before the stamp
    * existed).
    */
  def restampSegments(indexPath: String, header: Option[String] = None): Unit = {
    val seg = new org.apache.hadoop.fs.Path(
      graft.sources.IndexIO.resolve(spark, indexPath), "_SEGMENTS")
    val fs = seg.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(seg)
    val entries =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.tail
      finally in.close()
    val out = fs.create(seg, true)
    try out.write((header.toList ++ entries).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }
}
