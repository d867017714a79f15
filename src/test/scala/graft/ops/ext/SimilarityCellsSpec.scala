package graft.ops.ext

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** `Similarity.cells` — the one nearest-cell assignment under the IVF,
  * SemDedup, ProtoPrune, label-spread and coreset operators — against a
  * driver-side argmax over the same cosine. Small integer components
  * make exact cosine ties common (parallel vectors, vectors equidistant
  * from two centroids, duplicate centroids), so the cent_id tie-break
  * is exercised, not just present.
  */
class SimilarityCellsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val every = 7L

  /** Seeded vectors in {-2..2}^3 minus the zero vector, plus a planted
    * tie: centroids 0 and 7 are the same vector and id 1 is parallel to
    * it (cosine exactly 1.0 against both, the maximum).
    */
  private val rows: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(20261018)
    val planted = Map(0L -> Seq(1.0, 0.0, 0.0), 7L -> Seq(1.0, 0.0, 0.0),
      1L -> Seq(2.0, 0.0, 0.0))
    (0L until 120L).map { id =>
      id -> planted.getOrElse(id, {
        var v = Seq.fill(3)((rnd.nextInt(5) - 2).toDouble)
        while (v.forall(_ == 0.0))
          v = Seq.fill(3)((rnd.nextInt(5) - 2).toDouble)
        v
      })
    }
  }

  // the same arithmetic as VecDot (sequential fold from 0.0) and the
  // cosine over precomputed norms
  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
  private def cos(a: Seq[Double], b: Seq[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  /** id -> its n nearest (cent_id, cosine), ties to the smaller id. */
  private def expected(n: Int): Map[Long, Seq[(Long, Double)]] = {
    val cents = rows.filter(_._1 % every == 0)
    rows.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, cos(v, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(n)
    }.toMap
  }

  private def actual(n: Int): Map[Long, Seq[(Long, Double)]] = {
    val v = Similarity.vectors(rows.toDF("id", "v"), "id", "v")
    Similarity.cells(v, Similarity.centroids(v, every), n)
      .select("id", "cent_id", "cell_cos", "cell_rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._4).map(r => (r._2, r._3))
      }
  }

  test("the fixture plants exact cosine ties at the cell boundary") {
    val all = expected(rows.count(_._1 % every == 0))
    // tie at rank 1 (decided by cent_id for n = 1) ...
    assert(all.values.count(cs => cs(0)._2 == cs(1)._2) >= 5)
    // ... and between rank 2 and rank 3 (decided by cent_id for n = 2)
    assert(all.values.count(cs => cs(1)._2 == cs(2)._2) >= 5)
    assert(all(1L).take(2) == Seq((0L, 1.0), (7L, 1.0)))
  }

  test("cells(n = 1) is the driver-side argmax, ties to the smaller cent_id") {
    val got = actual(1)
    assert(got == expected(1))
    assert(got(1L) == Seq((0L, 1.0)))
  }

  test("cells(n = 2) ranks the two nearest, ties to the smaller cent_id") {
    val got = actual(2)
    assert(got == expected(2))
    assert(got(1L).map(_._1) == Seq(0L, 7L))
  }
}
