package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** [[Similarity.clusterMetrics]] — per-cell inertia vs a brute-force
  * Scala reference under the shared cosine-nearest assignment, exact at
  * the quantized-long level (the q60 fixed-point rule). */
class ClusterMetricsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 6
  private val quantBits = 20

  private lazy val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map { i =>
    i -> (0 until dim).map(j =>
      (math.sin(i * 1.7 + j * 0.9) * (1 + (i % 3))).toFloat)
  }

  private lazy val corpus = vecs.toDF("vec_id", "embedding")

  test("matches the brute-force cosine-nearest inertia, quantized-exact") {
    val isCent: Long => Boolean = id => id % 10 == 3
    val cents = vecs.filter { case (id, _) => isCent(id) }
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }

    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))

    val q = (1L << quantBits).toDouble
    val expected = vecs
      .map { case (_, vf) =>
        val v = vf.map(_.toDouble).toArray
        val nn = dot(v, v)
        // cosine-nearest centroid, ties on centroid id (the shared rule)
        val (cid, cv) = cents.minBy { case (cid2, c) =>
          (-dot(v, c) / math.sqrt(nn * dot(c, c)), cid2)
        }
        val cn = dot(cv, cv)
        cid -> math.floor((nn - 2.0 * dot(v, cv) + cn) * q).toLong
      }
      .groupBy(_._1)
      .map { case (cell, rows) => (cell, rows.size.toLong, rows.map(_._2).sum) }
      .toSet

    val got = Similarity.clusterMetrics(corpus,
        isCentroid = col("vec_id") % 10 === 3, quantBits)
      .select("cell", "n_vectors", "inertia_q").as[(Long, Long, Long)]
      .collect().toSet
    got shouldBe expected
  }

  test("inertia of a centroid-only corpus is zero") {
    val got = Similarity.clusterMetrics(corpus,
        isCentroid = lit(true), quantBits)
      .select("n_vectors", "inertia_q").as[(Long, Long)].collect()
    got.length shouldBe 30
    all(got.map(_._1)) shouldBe 1L
    // every vector is its own nearest centroid at cosine 1; d² = 0
    all(got.map(_._2)) shouldBe 0L
  }
}
