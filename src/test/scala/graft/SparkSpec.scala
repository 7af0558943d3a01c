package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + the reference's test fixtures (SURVEY §5,
  * FIXTURES.md): F1 "points" (array<struct<x,y>> with an empty list), F2
  * (nulls at both list and element level), F3 (three-level nesting).
  * The differential idiom mirrors the reference's `assert_eq`
  * (/root/reference/src/dask_awkward/lib/testutils.py:29-99): evaluate the
  * Column expression and compare against a hand-computed golden.
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  /** F1 — "points": outer list lengths (3, 0, 2, 1, 3) incl. empty row
    * (reference lib/testutils.py:141-144). */
  def pointsDF: DataFrame = {
    val rows = Seq(
      Seq((1L, 9L), (2L, 8L), (3L, 7L)),
      Seq(),
      Seq((4L, 6L), (5L, 5L)),
      Seq((6L, 4L)),
      Seq((7L, 3L), (8L, 2L), (9L, 1L)))
    rows.zipWithIndex
      .map { case (ps, i) => (i.toLong, ps.map(p => Point(p._1, p._2))) }
      .toDF("row_id", "points")
  }

  /** F2 — doubles with nulls at element and list level
    * (reference tests/conftest.py:130-171). */
  def nullsDF: DataFrame = {
    val data: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (0L, Seq[java.lang.Double](1.0, null, 3.0)),
      (1L, Seq[java.lang.Double]()),
      (2L, null),
      (3L, Seq[java.lang.Double](null, null)),
      (4L, Seq[java.lang.Double](5.0)))
    data.toDF("row_id", "xs")
  }

  /** Collect a single expression column as a list of values, ordered by
    * row_id. */
  def eval1(df: DataFrame, c: org.apache.spark.sql.Column): Seq[Any] =
    df.orderBy("row_id").select(c.as("v")).collect().toSeq.map(_.get(0))

  def seqOf(r: Any): Seq[Any] = r match {
    case null => null
    case s: scala.collection.Seq[_] => s.toSeq
    case other => fail(s"not a seq: $other")
  }
}

case class Point(x: Long, y: Long)
