package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** [[Similarity.hardNegatives]] — the picked negative is the true
  * max-cosine other-label vector among bucket peers, anchors without an
  * other-label peer vanish, and ties break to the lowest neg_id. */
class HardNegativesSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4

  /** Brute-force reference over ALL pairs restricted to shared buckets. */
  private def reference(rows: Seq[(Long, Int, Seq[Float])], planes: Int)
      : Map[Long, (Long, Double)] = {
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    def bucket(e: Seq[Float]): Long = (0 until planes).map { p =>
      val w = Similarity.planeWeights(p, dim)
      if (e.zip(w).foldLeft(0.0) { case (s, (x, ww)) => s + x.toDouble * ww } > 0)
        1L << p else 0L
    }.sum
    rows.flatMap { case (id, lab, e) =>
      val cands = rows.filter { case (_, lab2, e2) =>
        lab2 != lab && bucket(e2) == bucket(e)
      }.map { case (id2, _, e2) =>
        (id2, dot(e, e2) / math.sqrt(dot(e, e) * dot(e2, e2)))
      }
      if (cands.isEmpty) None
      else Some(id -> cands.minBy { case (nid, c) => (-c, nid) })
    }.toMap
  }

  private lazy val fixture: Seq[(Long, Int, Seq[Float])] = {
    val rnd = new scala.util.Random(21)
    (0L until 60L).map(i =>
      (i, (i % 3).toInt, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
  }

  test("picked negative matches the brute-force bucket-restricted argmax") {
    val df = fixture.toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(df, numPlanes = 2, dim = dim)
      .select("vec_id", "neg_id", "neg_cos")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val ref = reference(fixture, planes = 2)
    got.keySet shouldBe ref.keySet
    got.foreach { case (id, (nid, c)) =>
      nid shouldBe ref(id)._1
      c shouldBe ref(id)._2 +- 1e-12
    }
  }

  test("anchor with no other-label peer in its bucket produces no row") {
    // two labels forced into different half-spaces of plane 0 → no
    // shared bucket across labels at numPlanes=1
    val w0 = Similarity.planeWeights(0, dim)
    val pos = Seq.fill(dim)(0.1f).zip(w0).map { case (_, w) => if (w > 0) 1f else -1f }
    val neg = pos.map(-_)
    val df = Seq((1L, 0, pos), (2L, 0, pos), (3L, 1, neg), (4L, 1, neg))
      .toDF("vec_id", "label", "embedding")
    Similarity.hardNegatives(df, numPlanes = 1, dim = dim).count() shouldBe 0L
  }

  test("cosine ties break to the lowest neg_id") {
    // two identical other-label vectors → equal cosines; collinear with
    // the anchor so all three share every hyperplane side; id 5 < id 9
    val e = Seq(1f, 0f, 0f, 0f); val o = Seq(0.5f, 0f, 0f, 0f)
    val df = Seq((1L, 0, e), (5L, 1, o), (9L, 1, o))
      .toDF("vec_id", "label", "embedding")
    val picked = Similarity.hardNegatives(df, numPlanes = 1, dim = dim)
      .where(col("vec_id") === 1L).select("neg_id").as[Long].head()
    picked shouldBe 5L
  }
}
