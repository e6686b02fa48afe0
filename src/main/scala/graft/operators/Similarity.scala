package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFns

/** Embedding similarity search (builder brief; SURVEY.md §7.2 step 11):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane-LSH bucketed variant as the 100 TB scale path.
  *
  * Scale notes:
  *  - the probe set is broadcast (it is small by construction); the corpus
  *    side is NEVER shuffled for brute force — each corpus partition
  *    scores its rows against the broadcast probes map-side, and only the
  *    per-probe top-k survive into the (tiny) final shuffle. The rank
  *    window partitions by probe id, so there is no global sort;
  *  - the LSH variant buckets corpus AND probes by an 8-bit hyperplane
  *    sign signature: the join is equi on the bucket id (256 buckets →
  *    ~n/256 candidates per probe instead of n). Recall is tuned by the
  *    number of planes (fewer planes → bigger buckets → higher recall);
  *    multi-probe (flipping low-margin bits) is the standard extension;
  *  - all dot products are per-row left folds in double precision
  *    (engine-portable, codegen'd, no UDF).
  */
object Similarity {

  /** Double dot product of two numeric array columns — the native
    * codegen'd [[graft.functions.VecDot]] expression. Bit-identical to
    * [[dotFold]] (same left-fold order, same float→double widening);
    * the HOF fold stays only as the parity-test witness. */
  def dotD(a: Column, b: Column): Column = graft.functions.VecFns.vecDot(a, b)

  /** The higher-order-function formulation dotD replaced (interpreted —
    * `aggregate`/`zip_with` are CodegenFallback). Kept as the
    * independent witness for VecDot's bit-parity spec. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def sqlDotD(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_transform(range(1, ${dim + 1}),
        i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"""

  /** Cosine similarity in double precision: dot / sqrt(|a|²·|b|²). */
  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / sqrt(dotD(a, a) * dotD(b, b))

  def sqlCosine(a: String, b: String, dim: Int): String =
    s"(${sqlDotD(a, b, dim)} / sqrt(${sqlDotD(a, a, dim)} * ${sqlDotD(b, b, dim)}))"

  /** Brute-force cosine top-k: for each probe row, the k nearest corpus
    * rows (excluding self), ranked (cos desc, id asc) for determinism.
    * Norms are precomputed once per row (an interpreted-HOF fold per PAIR
    * would redo each |v|² n times; same left-fold expression, so values —
    * and oracle hashes — are bit-identical). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val cands = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .withColumn("cn", dotD(col("ce"), col("ce")))
    val pr = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .withColumn("pn", dotD(col("pe"), col("pe")))
    cands.join(broadcast(pr), col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        (dotD(col("pe"), col("ce")) / sqrt(col("pn") * col("cn"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= k)
  }

  /** L63 — dimension-truncation recall (Matryoshka-style compression
    * eval): recall@k of exact search over the first `truncDim` embedding
    * components against exact search over the full vector — the number
    * that decides how hard an embedding column can be truncated before
    * retrieval degrades (storage/IO at 100 TB scales linearly with the
    * kept dims). Ranks tie-break on cand_id, so recall is exact, not
    * statistical.
    *
    * 100 TB shape: both searches are the q28 broadcast-probe shape (the
    * corpus never shuffles; probes are a fixed evaluation sample); the
    * intersection join touches k rows per probe per side; the rank
    * windows compile to WindowGroupLimit. */
  def truncatedRecall(corpus: DataFrame, isProbe: Column, k: Int,
                      truncDim: Int): DataFrame = {
    val probes = corpus.filter(isProbe)
    val full = bruteForceTopK(corpus, probes, k)
      .select(col("probe_id"), col("cand_id"))
    val tr = corpus.select(col("vec_id"),
      slice(col("embedding"), 1, truncDim).as("embedding"))
    val trProbes = probes.select(col("vec_id"),
      slice(col("embedding"), 1, truncDim).as("embedding"))
    val trunc = bruteForceTopK(tr, trProbes, k)
      .select(col("probe_id"), col("cand_id"))
    val hits = full.join(trunc, Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    probes.select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), lit(truncDim.toLong).as("trunc_dim"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** L96 — product quantization (PQ) encode: split the `dim`-dim
    * embedding into `m` contiguous subspaces, elect per-subspace
    * codebooks from the same deterministic `isCentroid` rows the IVF
    * family uses (sub-codebook s of elected row j = that row's s-th
    * subvector; id = its vec_id), and assign every vector, per
    * subspace, to its nearest sub-centroid by cosine — the house
    * assignment rule (earliest strict max over id-ascending candidates,
    * the [[graft.functions.NearestCells]] parity contract, applied to
    * the SLICED arrays). Output carries the per-subspace code columns
    * plus the reconstruction `recon` (concatenation of the chosen
    * sub-centroids — the decoded PQ approximation).
    *
    * Why PQ at 100 TB: the compressed representation is m small ids per
    * vector instead of dim floats (64-dim float → 4 longs here; with
    * byte-packed codes, 16× less vector traffic) — the ANN index that
    * SHIPS (codes shuffle/broadcast, raw vectors stay in the scan), and
    * the standard companion of the IVF coarse level (IVF-PQ).
    *
    * 100 TB shape: everything is MAP-SIDE — m sliced nearest-cell
    * kernels + a literal-map lookup per subspace to build `recon`; the
    * codebook is a driver-side artifact (the documented IVF-codebook
    * collect precedent); the corpus never shuffles and is never
    * row-multiplied by K. */
  def pqEncode(corpus: DataFrame, isCentroid: Column, m: Int): DataFrame =
    pqEncodeWith(corpus, collectCentroids(corpus, isCentroid), m)

  /** [[pqEncode]] over an already-collected codebook — lets composites
    * like [[ivfPqRecall]] reuse ONE driver-side centroid collect for
    * both the coarse level and the PQ sub-codebooks. */
  private def pqEncodeWith(corpus: DataFrame,
                           codebook: (Array[Long], Array[Double], Array[Double], Int),
                           m: Int): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = codebook
    require(m >= 1 && dim % m == 0,
      s"pq needs m dividing dim, got m=$m dim=$dim")
    val subDim = dim / m
    val kCells = centIds.length
    def subVec(kk: Int, s: Int): Array[Double] =
      centFlat.slice(kk * dim + s * subDim, kk * dim + (s + 1) * subDim)
    val codeCols = (0 until m).map { s =>
      val flatS = Array.tabulate(kCells)(kk => subVec(kk, s)).flatten
      val normS = Array.tabulate(kCells)(kk =>
        subVec(kk, s).foldLeft(0.0)((a, x) => a + x * x))
      // An all-zero SUBSPACE slice of an elected centroid makes csim NaN
      // for every row in that subspace; the kernel's strict '>' never
      // selects NaN while DuckDB ranks NaN first in a DESC sort — silent
      // oracle divergence. Far more likely than an all-zero full vector
      // (a 16-dim slice of a sparse embedding): reject loudly per
      // subspace, mirroring NearestCellTwoLevel.buildIndex (ADVICE r7).
      require(normS.forall(_ > 0.0),
        s"pq encode: zero-norm sub-centroid in subspace $s (cosine " +
          "undefined); elect centroid rows non-degenerate in every subspace")
      element_at(graft.functions.VecFns.nearestCells(
        slice(col("embedding"), s * subDim + 1, subDim),
        centIds, flatS, normS, subDim, 1), 1).as(s"code_$s")
    }
    val withCodes = corpus.select(
      col("vec_id") +: col("embedding") +: codeCols: _*)
    val reconParts = (0 until m).map { s =>
      val mapLit = typedLit(centIds.zipWithIndex.map { case (id, kk) =>
        id -> subVec(kk, s).toSeq
      }.toMap)
      element_at(mapLit, col(s"code_$s"))
    }
    withCodes.withColumn("recon", flatten(array(reconParts: _*)))
  }

  /** L96 recall arm — ADC-style PQ search: rank candidates for each
    * probe by the cosine of the probe against each candidate's PQ
    * RECONSTRUCTION (dot(p, recon) = Σ_s dot(p_s, chosen sub-centroid) —
    * the asymmetric-distance computation, expressed on the decoded
    * vector so both engines fold in the same order), then measure
    * recall@k against the exact search — the eval every PQ deployment
    * gates its compression config on.
    *
    * 100 TB shape: the q28 broadcast-probe shape (corpus never
    * shuffles; probes are the fixed evaluation sample — the SCALE.md
    * probe contract); per-probe top-k compiles to WindowGroupLimit. In
    * production the scored side ships only (cand_id, m codes) and the
    * dot tables are probe-local — the gate pins the SEMANTICS of that
    * computation via the algebraically identical recon formulation. */
  def pqRecall(corpus: DataFrame, isProbe: Column, isCentroid: Column,
               m: Int, k: Int): DataFrame = {
    val enc = pqEncode(corpus, isCentroid, m)
    val cands = enc.select(col("vec_id").as("cand_id"), col("recon"))
      .withColumn("rr", dotD(col("recon"), col("recon")))
    val probes = corpus.filter(isProbe)
    val pr = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .withColumn("pn", dotD(col("pe"), col("pe")))
    val adc = cands.join(broadcast(pr), col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        (dotD(col("pe"), col("recon")) / sqrt(col("pn") * col("rr"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("cand_id"))
    val exact = bruteForceTopK(corpus, probes, k)
      .select(col("probe_id"), col("cand_id"))
    val hits = adc.join(exact, Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    probes.select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), lit(m.toLong).as("n_subspaces"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** L102 — IVF-PQ search (the production ANN composition: FAISS's
    * default index shape): the coarse quantizer restricts each probe to
    * its `nProbe` nearest cells' candidate lists ([[ivfTopK]]'s
    * machinery), and the candidates are scored by the cosine of the
    * probe against their PQ RECONSTRUCTIONS ([[pqRecall]]'s ADC
    * formulation) — probe work is ~nProbe·n/nCells candidate rows and
    * the scored side needs only (cand_id, cell, m codes): the raw
    * vectors never leave the encode pass. Returns recall@k vs the exact
    * search per probe (the acceptance gate for an IVF-PQ config).
    *
    * 100 TB shape: cell assignment and PQ encode are both map-side
    * kernels over one corpus scan; the candidate join is equi on the
    * cell id with the (tiny, fixed) probe frame broadcast; per-probe
    * top-k compiles to WindowGroupLimit; the exact arm keeps the fixed
    * probe-sample contract. */
  def ivfPqRecall(corpus: DataFrame, isProbe: Column, isCentroid: Column,
                  m: Int, k: Int, nProbe: Int): DataFrame = {
    // ONE driver-side centroid collect serves both the coarse level and
    // the PQ sub-codebooks (they are the same elected rows)
    val codebook = collectCentroids(corpus, isCentroid)
    val (centIds, centFlat, centNorms, dim) = codebook
    def cellsOf(emb: Column, kk: Int): Column =
      graft.functions.VecFns.nearestCells(emb, centIds, centFlat, centNorms, dim, kk)
    val enc = pqEncodeWith(corpus, codebook, m)
      .select(col("vec_id").as("cand_id"), col("recon"),
        element_at(cellsOf(col("embedding"), 1), 1).as("cell"))
      .withColumn("rr", dotD(col("recon"), col("recon")))
    val probes = corpus.filter(isProbe)
    val pr = probes
      .select(col("vec_id").as("probe_id"),
        explode(cellsOf(col("embedding"), nProbe)).as("cell"),
        col("embedding").as("pe"))
      .withColumn("pn", dotD(col("pe"), col("pe")))
    val adc = enc.join(broadcast(pr), Seq("cell"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        (dotD(col("pe"), col("recon")) / sqrt(col("pn") * col("rr"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("cand_id"))
    val exact = bruteForceTopK(corpus, probes, k)
      .select(col("probe_id"), col("cand_id"))
    val hits = adc.join(exact, Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    probes.select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), lit(nProbe.toLong).as("n_probe_cells"),
        lit(m.toLong).as("n_subspaces"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** L103 — codebook persistence: a trained/elected coarse-quantizer
    * codebook is an ARTIFACT (the thing a retrain produces and every
    * downstream assignment job consumes) — save it once, load it
    * everywhere. [[saveCodebook]] writes the elected (vec_id, embedding)
    * rows as one small sorted parquet file; [[loadCodebook]] reads it
    * back; [[assignCells]] runs the standard map-side nearest-cell
    * kernel from ANY codebook frame — elected live or loaded from disk.
    * The q146 gate proves the round trip is bit-exact: assignment from
    * the persisted artifact equals assignment from the live election.
    *
    * 100 TB shape: the artifact is codebook-sized (one file, one
    * driver-side collect — the documented precedent); assignment stays
    * map-side; nothing about persistence touches the corpus. */
  def saveCodebook(corpus: DataFrame, isCentroid: Column, path: String): Unit =
    corpus.filter(isCentroid).select(col("vec_id"), col("embedding"))
      .repartition(1).sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(path)

  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id"), col("embedding"))

  /** Map-side nearest-cell assignment from an explicit codebook frame
    * (live election or [[loadCodebook]] output): (vec_id, cell). */
  def assignCells(corpus: DataFrame, codebook: DataFrame): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroidRows(codebook)
    corpus.select(col("vec_id"),
      element_at(graft.functions.VecFns.nearestCells(col("embedding"),
        centIds, centFlat, centNorms, dim, 1), 1).as("cell"))
  }

  /** Deterministic pseudo-random hyperplane weights for plane p:
    * integers in [-504, 504], identical on both engines. */
  def planeWeights(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(j => ((planeA(p) * (j + 1) + planeB(p)) % 1009 - 504).toDouble)

  def planeA(p: Int): Long = 2L * p * 104729L + 15485867L
  def planeB(p: Int): Long = (p + 1L) * 7927L

  /** 8-bit hyperplane-sign bucket id for an embedding column. Each
    * plane's projection is one codegen'd VecDot against a literal
    * weight array (the weights fold into the plan as a constant). */
  def lshBucket(emb: Column, numPlanes: Int, dim: Int): Column =
    (0 until numPlanes).map { p =>
      val dot = graft.functions.VecFns.vecDot(emb, typedLit(planeWeights(p, dim)))
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def sqlLshBucket(emb: String, numPlanes: Int, dim: Int): String =
    (0 until numPlanes).map { p =>
      val dot = s"""list_reduce(list_transform(range(0, $dim),
          j -> $emb[j + 1]::DOUBLE * (((${planeA(p)} * (j + 1) + ${planeB(p)}) % 1009 - 504))::DOUBLE),
          (x, y) -> x + y)"""
      s"CASE WHEN $dot > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  /** DuckDB mirror of [[planesFor]]: the smallest p in [1, 62] with
    * `n >> p ≤ targetBucket` (bit-shift loop as a min over a range scan
    * — integer-exact, no float log2). `nExpr` is any scalar BIGINT SQL
    * expression (typically `(SELECT count(*) FROM t)`). */
  def sqlPlanesFor(nExpr: String, targetBucket: Long): String =
    s"""(SELECT coalesce(min(range), 62) FROM range(1, 63)
        WHERE ($nExpr >> range) <= $targetBucket)"""

  /** [[sqlLshBucket]] with a RUNTIME plane count: emits `maxPlanes`
    * masked plane terms (`p < planesExpr` guards each), so one static
    * SQL text implements the [[planesFor]]-sized bucket at any corpus
    * size up to targetBucket·2^maxPlanes rows — the oracle-side twin of
    * [[hardNegativesAutoSized]]. Cost is maxPlanes dot folds per row,
    * which is why maxPlanes stays a deliberate ceiling rather than 62. */
  def sqlLshBucketDyn(emb: String, maxPlanes: Int, dim: Int,
                      planesExpr: String): String =
    (0 until maxPlanes).map { p =>
      val dot = s"""list_reduce(list_transform(range(0, $dim),
          j -> $emb[j + 1]::DOUBLE * (((${planeA(p)} * (j + 1) + ${planeB(p)}) % 1009 - 504))::DOUBLE),
          (x, y) -> x + y)"""
      s"CASE WHEN $p < $planesExpr AND $dot > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  /** Embedding-cosine near-duplicate pairs: corpus self-joined WITHIN
    * hyperplane buckets only (equi join on the bucket id — the corpus
    * shuffles once by bucket, candidate pairs are ~n²/2^planes instead of
    * n²), then the exact cosine threshold keeps true near-dups. The
    * embedding-space analog of MinHash-LSH dedup. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         numPlanes: Int, dim: Int): DataFrame = {
    val b = corpus.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      dotD(col("embedding"), col("embedding")).as("nn"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        (dotD(col("a.embedding"), col("b.embedding"))
          / sqrt(col("a.nn") * col("b.nn"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style ANN: a deterministic subset of corpus rows acts as the
    * coarse-quantizer centroid set (a trained k-means would slot in the
    * same place); every vector is assigned to its nearest centroid cell,
    * probes search their `nProbe` nearest cells only. The inverted-file
    * shape: the corpus shuffles once by cell id, probe work is
    * ~nProbe·n/nCells. Complements [[lshTopK]] (hyperplane buckets) as
    * the second scale path the training-data brief names.
    *
    * Cell assignment is MAP-SIDE: centroids are a small driver-side
    * artifact (exactly like a trained k-means codebook), collected once
    * and baked into the codegen'd [[graft.functions.NearestCells]]
    * argmax — the corpus is never row-multiplied by the centroid count
    * and never shuffles for assignment (the r3 formulation paired every
    * vector with every centroid through a full `row_number` shuffle:
    * n×nCells intermediate rows — 4×10¹² at 10⁹ vectors × 4096 cells).
    * The only remaining exchange carries candidate pairs for the final
    * per-probe rank window.
    */
  /** Collect a (small, codebook-sized) centroid subset to the driver as
    * the flat arrays [[graft.functions.NearestCells]] bakes into its
    * codegen — ids ascending (the tie-break order of the rank window the
    * kernel replaced), norms as the same left fold VecDot performs
    * (bit-identical to the oracle's `nn`). Shared by [[ivfTopK]] and
    * [[lloydRefine]]. */
  private def collectCentroids(corpus: DataFrame, isCentroid: Column)
      : (Array[Long], Array[Double], Array[Double], Int) =
    collectCentroidRows(corpus.filter(isCentroid))

  /** [[collectCentroids]] over an already-elected centroid frame — the
    * entry point for PERSISTED codebooks ([[loadCodebook]]): any
    * (vec_id, embedding) table whose row count is codebook-sized. */
  private def collectCentroidRows(centroids: DataFrame)
      : (Array[Long], Array[Double], Array[Double], Int) = {
    val centRows = centroids
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val vec = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
        }.toArray
        (r.getLong(0), vec)
      }.sortBy(_._1)
    require(centRows.nonEmpty, "a nearest-cell assignment needs at least one centroid row")
    val dim = centRows.head._2.length
    val centNorms = centRows.map { case (_, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      acc
    }
    (centRows.map(_._1), centRows.flatMap(_._2), centNorms, dim)
  }

  def ivfTopK(corpus: DataFrame, isProbe: Column, isCentroid: Column,
              k: Int, nProbe: Int): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroids(corpus, isCentroid)
    def cellsOf(emb: Column, kk: Int): Column =
      graft.functions.VecFns.nearestCells(emb, centIds, centFlat, centNorms, dim, kk)
    val e = corpus.select(col("vec_id"), col("embedding"),
      dotD(col("embedding"), col("embedding")).as("nn"))
    val cells = e.select(col("vec_id").as("cand_id"),
      element_at(cellsOf(col("embedding"), 1), 1).as("cell"),
      col("embedding").as("ce"), col("nn").as("cn2"))
    val probeCells = e.filter(isProbe)
      .select(col("vec_id").as("probe_id"),
        explode(cellsOf(col("embedding"), nProbe)).as("cell"),
        col("embedding").as("pe"), col("nn").as("pn"))
    cells.join(broadcast(probeCells), Seq("cell"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cell"), col("cand_id"),
        (dotD(col("pe"), col("ce")) / sqrt(col("pn") * col("cn2"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= k)
  }

  /** One Lloyd (k-means) refinement iteration for the IVF codebook — the
    * "train the coarse quantizer" step ahead of [[ivfTopK]]'s search.
    *
    * Assignment is the same map-side codegen'd nearest-cells argmax the
    * search uses: the corpus is never row-multiplied by the cell count
    * and never shuffles for assignment. The centroid update is a
    * per-(cell, dim) MEAN over component values quantized to
    * `2^-quantBits` fixed point: scaling by an exact power of two is a
    * float-exponent shift (no rounding) and `floor` is engine-identical,
    * so the update sum is exact integer math — immune to the partial-agg
    * ordering that makes raw double sums engine- and partitioning-
    * dependent. The only shuffle carries (cell, dim, quantized-long)
    * triples, pre-combined map-side to ≤ cells×dim rows per task.
    *
    * Returns one row per (cell, dim): member count, exact quantized sum,
    * and the updated component `c_new = (sum_q / n) / 2^quantBits`.
    * Iterating = feeding `c_new` back in as the next centroid table.
    */
  def lloydRefine(corpus: DataFrame, isCentroid: Column,
                  quantBits: Int = 20, twoLevel: Boolean = false): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroids(corpus, isCentroid)
    val q = (1L << quantBits).toDouble
    // twoLevel = the hierarchical-IVF assignment (nearest super, then
    // nearest member cell): per-row cost drops from O(C·dim) to
    // ~O(√C·dim), which is what keeps total Lloyd work ~O(n) when the
    // codebook is elected as a corpus fraction (C ∝ n made the flat
    // assignment the one superlinear curve in the r6 scale audit). The
    // assignment is the standard hierarchical approximation, mirrored
    // rule-for-rule by the q60 oracle; flat stays default for small
    // fixed codebooks (q40/q100/q110).
    val assign =
      if (twoLevel)
        graft.functions.VecFns.nearestCellTwoLevel(
          col("embedding"), centIds, centFlat, centNorms, dim)
      else
        element_at(graft.functions.VecFns.nearestCells(
          col("embedding"), centIds, centFlat, centNorms, dim, 1), 1)
    corpus
      .select(assign.as("cell"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("cell"), col("d"),
        floor(col("x").cast("double") * q).cast("long").as("qx"))
      .groupBy(col("cell"), col("d"))
      .agg(count(lit(1)).as("n_members"), sum(col("qx")).as("sum_q"))
      .select(col("cell"), col("d").cast("long").as("d"),
        col("n_members"), col("sum_q"),
        ((col("sum_q").cast("double") / col("n_members")) / q).as("c_new"))
  }

  /** Bucketed ANN: probes join corpus within their hyperplane bucket only,
    * then exact cosine ranks the (small) candidate set. The scale path:
    * the join key is the bucket id, so the corpus shuffles once by bucket
    * and each probe touches ~n/2^planes rows.
    *
    * `multiProbe = true` turns on Hamming-1 multi-probe: each probe also
    * visits the `numPlanes` buckets one sign-flip away (probe-side only —
    * the corpus is still bucketed once), trading candidates×(planes+1)
    * for recall. Size `numPlanes` to the corpus: ≈ log2(n / target
    * bucket size); measured on the driver data (q73), the 8-plane plain
    * config over a 500-vector corpus leaves ~2-row buckets and ~0 recall,
    * while 3 planes + multi-probe reaches min 0.6 / mean 0.64 recall@5. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              numPlanes: Int, dim: Int, multiProbe: Boolean = false): DataFrame = {
    val cb = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      dotD(col("embedding"), col("embedding")).as("cn"))
    val pb0 = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      dotD(col("embedding"), col("embedding")).as("pn"))
    val pb = if (!multiProbe) pb0 else pb0.select(
      col("probe_id"), col("pe"), col("pn"),
      explode(array(col("bucket") +:
        (0 until numPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*))
        .as("bucket"))
    cb.join(broadcast(pb), Seq("bucket"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("bucket"), col("cand_id"),
        (dotD(col("pe"), col("ce")) / sqrt(col("pn") * col("cn"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= k)
  }

  /** Label-purity diagnostics: score every labeled vector by the cosine
    * margin between its OWN label's centroid and the best other-label
    * centroid — negative margin = the embedding sits closer to another
    * class (a mislabel / boundary candidate, the embedding-level data-
    * quality signal label-noise audits run). Returns one row per vector:
    * (id, label, own_cos, best_other, margin, misaligned).
    *
    * Centroids use the q60 quantized-mean rule (floor to 2^-quantBits
    * fixed point; the per-(label,dim) sum is exact integer math no
    * partial-agg order can perturb), assembled into per-label arrays by
    * an order-pinned sort on the dim index, and broadcast — the corpus
    * never shuffles for the scoring pass; its only exchange is the
    * (label, dim)-keyed map-combined centroid aggregate (≤ labels×dim
    * rows per task). Cosines ride the native left-fold `vec_dot`. */
  def labelPurity(vectors: DataFrame, idCol: Column, labelCol: Column,
                  embCol: Column, quantBits: Int = 20): DataFrame = {
    val q = (1L << quantBits).toDouble
    val cd = vectors
      .select(labelCol.as("c_label"), posexplode(embCol).as(Seq("d", "x")))
      .select(col("c_label"), col("d"),
        floor(col("x").cast("double") * q).cast("long").as("qx"))
      .groupBy(col("c_label"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("sum_q"))
      .select(col("c_label"), col("d"),
        ((col("sum_q").cast("double") / col("n")) / q).as("cd"))
    val cent = cd.groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cd")))),
        s => s.getField("cd")).as("cvec"))
      .select(col("c_label"), col("cvec"),
        dotD(col("cvec"), col("cvec")).as("cn"))
    vectors
      .select(idCol.as("id"), labelCol.as("label"), embCol.as("e"),
        dotD(embCol, embCol).as("vn"))
      .crossJoin(broadcast(cent))
      .select(col("id"), col("label"), col("c_label"),
        (dotD(col("e"), col("cvec")) / sqrt(col("vn") * col("cn"))).as("cos"))
      .groupBy(col("id"), col("label"))
      .agg(max(when(col("c_label") === col("label"), col("cos"))).as("own_cos"),
        max(when(col("c_label") =!= col("label"), col("cos"))).as("best_other"))
      .select(col("id"), col("label"), col("own_cos"), col("best_other"),
        (col("own_cos") - col("best_other")).as("margin"),
        when(col("best_other") > col("own_cos"), 1L).otherwise(0L)
          .as("misaligned"))
  }

  /** Hard-negative mining for contrastive training (L54): per anchor
    * vector, the most-similar vector with a DIFFERENT label among its
    * LSH-bucket peers — the "hardest" in-batch negative, found without
    * an all-pairs scan. Anchors whose bucket holds no other-label
    * vector produce no row (widen by lowering `numPlanes`, the standard
    * recall/cost dial; multi-probe would slot in like [[lshTopK]]'s).
    *
    * 100 TB shape: the corpus shuffles ONCE by bucket id (the bucket
    * equi-join — candidate volume is ~n²/2^planes, never n²); the
    * per-anchor argmax is a rank-1 window that compiles to
    * WindowGroupLimit, so each task keeps one candidate per anchor
    * before the anchor-keyed exchange. Tie-break (cos desc, neg_id
    * asc) makes the pick deterministic. */
  def hardNegatives(vectors: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("label"), col("embedding"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      dotD(col("embedding"), col("embedding")).as("nn"))
    val cand = v.as("a").join(v.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("neg_id"), col("b.label").as("neg_label"),
        (dotD(col("a.embedding"), col("b.embedding"))
          / sqrt(col("a.nn") * col("b.nn"))).as("neg_cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("neg_cos").desc, col("neg_id"))
    cand.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** LSH plane count for a corpus of `n` vectors targeting
    * `targetBucket` rows per bucket: the smallest p with
    * n / 2^p ≤ targetBucket (integer bit-search — no float log2 edge
    * cases), min 1. The q73 sizing rule as a function: candidate volume
    * in any bucketed self-join is ~n·bucketSize, so a FIXED plane count
    * turns quadratic as the corpus grows — the round-5 sf5 curve
    * measured exactly that for a pinned 4-plane config (n²/16 pairs:
    * 1.6 s → 7.7 s → 428 s at 1×/10×/50×; re-sized per this rule the
    * 50× point is linear again, see SCALE.md). */
  def planesFor(n: Long, targetBucket: Long): Int = {
    var p = 1
    while ((n >> p) > targetBucket && p < 62) p += 1
    p
  }

  /** [[hardNegatives]] with the plane count auto-sized from the corpus
    * row count (one cheap count job — the codebook-collect precedent)
    * via [[planesFor]]. */
  def hardNegativesAutoSized(vectors: DataFrame, dim: Int,
                             targetBucket: Long = 125L): DataFrame =
    hardNegatives(vectors, planesFor(vectors.count(), targetBucket), dim)

  /** SemDeDup-style semantic dedup (L55; Abbas et al. 2023,
    * arXiv:2303.09540): cluster-then-prune — assign every vector to its
    * nearest coarse-quantizer cell, connect within-cell pairs whose
    * cosine clears `threshold`, resolve the pair graph to semantic
    * groups, keep the group minimum. Output: every vector with its
    * cell, semantic `group_id` (component min; own id for singletons)
    * and `is_keeper` flag — filtering `is_keeper = 1` IS the deduped
    * corpus.
    *
    * 100 TB shape: cell assignment is the map-side codegen'd
    * [[graft.functions.NearestCells]] argmax (the corpus never shuffles
    * for assignment, never row-multiplies by the cell count); the pair
    * join is cell-bucketed (ONE shuffle on the cell id, ~n²/cells
    * candidates — the paper's reason for clustering first); component
    * resolution is the O(log n) large-star/small-star contraction of
    * [[Dedup.connectedComponents]] over (id, id) edges only. */
  def semanticDedup(vectors: DataFrame, isCentroid: Column,
                    threshold: Double): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroids(vectors, isCentroid)
    val cells = vectors.select(col("vec_id"), col("embedding"),
      dotD(col("embedding"), col("embedding")).as("nn"),
      element_at(graft.functions.VecFns.nearestCells(col("embedding"),
        centIds, centFlat, centNorms, dim, 1), 1).as("cell"))
    val edges = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .where((dotD(col("a.embedding"), col("b.embedding"))
        / sqrt(col("a.nn") * col("b.nn"))) >= threshold)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
    val comp = Dedup.connectedComponents(edges)
      .withColumnRenamed("node", "vec_id")
    cells.select(col("vec_id"), col("cell"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("component"), col("vec_id")).as("group_id"),
        when(coalesce(col("component"), col("vec_id")) === col("vec_id"), 1L)
          .otherwise(0L).as("is_keeper"))
  }

  /** Deterministic auto-sized codebook election: a vector is a centroid
    * iff `xxhash64(vec_id) % targetCell == 0`. Expected cell population
    * is `targetCell` INDEPENDENT of corpus size — the cell count grows
    * linearly with n, so the ~n²/cells within-cell pair join of
    * [[semanticDedup]] stays ~n·targetCell/2 (linear) no matter what n
    * the caller brings. This is the [[planesFor]] lesson applied to the
    * quantizer: a codebook pinned by the caller turns the pair join
    * quadratic as the corpus grows past its design point (the sf5
    * 4-plane incident, SCALE.md).
    *
    * The dial it exposes: the codebook is collected + broadcast
    * ([[collectCentroids]]), so at extreme n the broadcast budget sets a
    * floor on `targetCell` — raising it shrinks the codebook n/targetCell
    * linearly while the pair volume grows only linearly in targetCell.
    * Hash election (not `vec_id % k`) keeps the size law when ids are
    * sparse or clustered. */
  def autoCodebook(targetCell: Long = 125L): Column =
    pmod(xxhash64(col("vec_id")), lit(targetCell)) === 0

  /** [[semanticDedup]] with the codebook auto-elected by
    * [[autoCodebook]] — the scale-safe entry point: cells ∝ n, pair
    * volume ∝ n. */
  def semanticDedupAutoSized(vectors: DataFrame, threshold: Double,
                             targetCell: Long = 125L): DataFrame =
    semanticDedup(vectors, autoCodebook(targetCell), threshold)

  /** L62 — cluster quality metrics: per-cell member count and inertia
    * (sum of squared euclidean distance to the assigned centroid) — the
    * number that tunes the IVF/SemDeDup codebook (elbow curves, split
    * decisions, drift alarms on a retrained quantizer).
    *
    * Assignment is the cosine-nearest rule every other cell operator
    * uses (q40/q60/q93 — one convention, one kernel). The distance is
    * the closed form ‖x‖² − 2·x·c + ‖c‖² from terms already on hand;
    * per-point d² is quantized to 2^-quantBits fixed point before the
    * cell sum (the [[lloydRefine]] rule), so the aggregate is exact
    * integer math — immune to partial-agg ordering.
    *
    * 100 TB shape: assignment is the map-side codegen'd kernel; the
    * centroid payload join is a BROADCAST of the codebook-sized frame;
    * the only exchange carries (cell, count, sum_q) partials map-combined
    * to ≤ cells rows per task. The corpus never shuffles. */
  def clusterMetrics(vectors: DataFrame, isCentroid: Column,
                     quantBits: Int = 20): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroids(vectors, isCentroid)
    val q = (1L << quantBits).toDouble
    val cents = vectors.filter(isCentroid)
      .select(col("vec_id").as("cell"), col("embedding").as("cemb"),
        dotD(col("embedding"), col("embedding")).as("cn"))
    vectors
      .select(col("vec_id"), col("embedding"),
        dotD(col("embedding"), col("embedding")).as("nn"),
        element_at(graft.functions.VecFns.nearestCells(col("embedding"),
          centIds, centFlat, centNorms, dim, 1), 1).as("cell"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("cell"),
        floor((col("nn") - lit(2.0) * dotD(col("embedding"), col("cemb"))
          + col("cn")) * q).cast("long").as("dq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("dq")).as("inertia_q"))
      .select(col("cell"), col("n_vectors"), col("inertia_q"),
        (col("inertia_q").cast("double") / q).as("inertia"),
        ((col("inertia_q").cast("double") / q) / col("n_vectors"))
          .as("mean_sq_dist"))
  }

  /** L69 — cluster-agreement audit (Adjusted Rand Index): how well the
    * quantizer's cell assignment reproduces a ground-truth labeling —
    * the retrain-regression gate for the IVF/SemDeDup codebook (did the
    * new codebook move documents across semantic groups?) and the
    * label-noise probe for weakly-supervised corpora. Complements
    * [[labelPurity]] (majority-vote precision): ARI is symmetric,
    * chance-corrected, and insensitive to cluster-id permutation.
    *
    * Returns ONE row: n, the three pair-concordance sums
    * (`sum_comb_cells` = Σ_ij C(n_ij,2), `sum_comb_truth` = Σ_i C(a_i,2),
    * `sum_comb_assigned` = Σ_j C(b_j,2)) as exact integers, and `ari` =
    * (Σ_ij − E)/(½(Σ_i+Σ_j) − E) with E = Σ_i·Σ_j / C(n,2) — the only
    * float step, computed from exact integer inputs.
    *
    * 100 TB shape: assignment is the map-side [[graft.functions.NearestCells]]
    * kernel (the corpus never shuffles for it); the ONLY data-bearing
    * exchange is the (truth, cell) contingency aggregate, map-combined
    * to ≤ labels·cells rows per task; the row/column/pair sums all
    * derive from that contingency frame (labels·cells rows — re-aggregated
    * without touching the corpus again), and the three resulting scalars
    * cross-join into the final row. C(x,2) products go through
    * DECIMAL(38,0) so Σ_i·Σ_j cannot overflow at corpus scale. */
  def clusterAgreement(vectors: DataFrame, truthCol: Column,
                       isCentroid: Column): DataFrame = {
    val (centIds, centFlat, centNorms, dim) = collectCentroids(vectors, isCentroid)
    val assigned = vectors.select(truthCol.as("truth"),
      element_at(graft.functions.VecFns.nearestCells(col("embedding"),
        centIds, centFlat, centNorms, dim, 1), 1).as("cell"))
    // C(x,2) as exact decimal: x*(x-1)/2 — integral, the /2 is exact.
    def comb2(c: Column): Column =
      (c.cast(DecimalType(38, 0)) * (c - 1) / 2).cast(DecimalType(38, 0))
    // The contingency is consumed THREE times (pair/row/column sums);
    // without pinning it, each consumer re-runs the corpus scan and the
    // nearest-cell kernel (3 scans where 1 suffices — seen in the plan,
    // q27's shuffle-reuse lesson). It is labels·cells rows — checkpoint
    // is O(tiny), the saved scans are O(corpus).
    val cont = assigned.groupBy(col("truth"), col("cell"))
      .agg(count(lit(1)).as("n_ij")).localCheckpoint()
    val sij = cont.agg(sum(comb2(col("n_ij"))).as("sum_comb_cells"),
      sum(col("n_ij")).as("n"))
    val sa = cont.groupBy(col("truth")).agg(sum(col("n_ij")).as("a_i"))
      .agg(sum(comb2(col("a_i"))).as("sum_comb_truth"))
    val sb = cont.groupBy(col("cell")).agg(sum(col("n_ij")).as("b_j"))
      .agg(sum(comb2(col("b_j"))).as("sum_comb_assigned"))
    // Output casts to BIGINT: the comb-sums are ≤ C(n,2) < 2^63 for any
    // n under ~4.3e9 rows *per contingency cell group* — comfortably
    // exact at every gate SF, and the driver's pandas comparator cannot
    // canonicalize DECIMAL(38,0)-vs-HUGEINT consistently. DECIMAL stays
    // strictly internal to the arithmetic above.
    sij.crossJoin(sa).crossJoin(sb)
      .select(col("n").cast("long").as("n"),
        col("sum_comb_cells").cast("long").as("sum_comb_cells"),
        col("sum_comb_truth").cast("long").as("sum_comb_truth"),
        col("sum_comb_assigned").cast("long").as("sum_comb_assigned"),
        ((col("sum_comb_cells").cast("double")
          - col("sum_comb_truth").cast("double")
            * col("sum_comb_assigned") / comb2(col("n")).cast("double"))
          / ((col("sum_comb_truth").cast("double")
              + col("sum_comb_assigned")) / 2
            - col("sum_comb_truth").cast("double")
              * col("sum_comb_assigned") / comb2(col("n")).cast("double")))
          .as("ari"))
  }
}
