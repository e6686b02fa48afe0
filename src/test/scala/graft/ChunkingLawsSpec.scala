package graft

/** q61 chunking-geometry laws on the real driver table: contiguous
  * chunk ids, exact window sizes, full coverage with the configured
  * overlap — the invariants a RAG pipeline depends on, checked
  * independently of the DuckDB oracle (which pins engine parity, not
  * geometry). Size/stride here mirror the q61 constants. */
class ChunkingLawsSpec extends SparkSpec {
  import spark.implicits._

  private val Size = 40
  private val Stride = 30
  private val dir = "/root/testdata/sf0.001"

  test("chunks are contiguous, fixed-size except the tail, and cover every token") {
    val nToks = graft.Tables.documents(spark, dir)
      .select($"doc_id", org.apache.spark.sql.functions.size(
        graft.functions.TextFns.tokens($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    val chunks = SparkEntry.queries("q61_chunk_windows")(spark, dir)
      .select($"doc_id", $"chunk_idx", $"n_chunk_toks")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    chunks.keySet shouldBe nToks.keySet.filter(nToks(_) > 0)
    chunks.foreach { case (docId, cs) =>
      val n = nToks(docId)
      val kMax = if (n <= Size) 0 else (n - Size + Stride - 1) / Stride
      // contiguous ids 0..kMax
      cs.map(_._2) shouldBe (0L to kMax.toLong)
      // every chunk is full-size except possibly the tail
      cs.init.foreach { case (_, _, sz) => sz shouldBe Size.toLong }
      // the tail ends exactly at the last token (full coverage, no gap)
      val (_, lastK, lastSz) = cs.last
      assert(lastK * Stride + lastSz == n.toLong, s"doc $docId coverage")
      // consecutive chunks overlap by exactly size - stride when full
      if (cs.size > 1) (Size - Stride) should be > 0
    }
  }
}
