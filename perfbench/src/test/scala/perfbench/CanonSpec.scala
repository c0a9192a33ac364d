package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The content hash must not depend on row order or partitioning, and
  * must change when any value does.
  */
class CanonSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def frame(rows: Seq[(Long, String, Double, Seq[Double])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "x", "v")
  }

  private val rows = Seq(
    (1L, "a", 0.1 + 0.2, Seq(1.5, -0.0)),
    (2L, null, -0.0, Seq.empty[Double]),
    (3L, "c", 1e30, null),
    (3L, "c", 1e30, null))

  test("hash is stable under row order and partitioning") {
    val base = Canon.rowsAndHash(frame(rows))
    assert(base._1 == 4)
    assert(Canon.rowsAndHash(frame(rows.reverse)) == base)
    assert(Canon.rowsAndHash(frame(rows).repartition(3)) == base)
    assert(Canon.rowsAndHash(frame(rows).select("x", "v", "name", "id")) == base)
  }

  test("last-bit float differences and negative zero do not change it") {
    val base = Canon.rowsAndHash(frame(rows))
    val nudged = rows.map { case (i, n, x, v) =>
      (i, n, if (x == 0.0) 0.0 else x * (1 + 1e-15), v) }
    assert(Canon.rowsAndHash(frame(nudged)) == base)
  }

  test("any changed, dropped or repeated row changes it") {
    val base = Canon.rowsAndHash(frame(rows))._2
    assert(Canon.rowsAndHash(frame(rows.updated(0, (1L, "b", 0.3, Seq(1.5)))))._2 != base)
    assert(Canon.rowsAndHash(frame(rows.updated(1, (2L, "", -0.0, Seq.empty[Double]))))._2 != base)
    assert(Canon.rowsAndHash(frame(rows.take(3)))._2 != base)
    assert(Canon.rowsAndHash(frame(rows :+ rows.head))._2 != base)
  }
}
