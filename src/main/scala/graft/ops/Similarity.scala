package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exact baseline, and a sign-bucket
  * (random hyperplane) LSH variant as the scale path.
  *
  * Scale notes: brute force is a single narrow projection + TakeOrdered —
  * it scans everything but shuffles only k rows per partition. The LSH
  * variant probes one bucket (plus optional Hamming-1 neighbors), turning
  * a 10^10-row scan into a bucket-local scan; planes are derived from a
  * seed so the index is reproducible and needs no stored model.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes: plane p component i =
    * mapped-to-[−1,1) splitmix64(seed, p, i). Shared by index build and
    * query side.
    */
  def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim) { i =>
      val h = graft.fixtures.Fixtures.mix(seed, p.toLong, i.toLong)
      (h.toDouble / Long.MaxValue.toDouble)
    })

  /** Sign-bucket id of an embedding under the seeded hyperplanes: bit p =
    * sign(dot(v, plane_p)). UDF (tight numeric loop over the plane matrix —
    * broadcast via closure).
    */
  def signBucketCol(embedding: Column, dim: Int, nPlanes: Int, seed: Long): Column = {
    val ps = planes(dim, nPlanes, seed)
    val u = udf { (v: Seq[Float]) =>
      var bucket = 0
      var p = 0
      while (p < ps.length) {
        var dot = 0.0
        var i = 0
        val plane = ps(p)
        val n = math.min(v.length, plane.length)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot > 0) bucket |= (1 << p)
        p += 1
      }
      bucket
    }
    u(embedding)
  }

  /** Exact brute-force cosine top-k neighbors of a query vector.
    * Pure Catalyst arithmetic + orderBy().limit(k) — Spark plans it as
    * TakeOrderedAndProject (per-partition top-k, then k·P merge on the
    * driver — no full sort).
    */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    // tight-loop UDF over the previous zip_with/aggregate construction
    // (HOFs are interpreted — see Dedup.cosineCol); same index-order
    // double accumulation and the same dot/(vNorm·qNorm) arithmetic, so
    // the cosine is bit-for-bit unchanged. Length mismatch yields null
    // exactly like zip_with's null padding did.
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qArr = query.toArray
    val cosU = udf { (v: Seq[Float]) =>
      if (v == null || v.length != qArr.length) None
      else {
        var dot = 0.0; var nn = 0.0
        var i = 0
        while (i < qArr.length) {
          val x = v(i).toDouble
          dot += x * qArr(i); nn += x * x
          i += 1
        }
        Some(dot / (math.sqrt(nn) * qNorm))
      }
    }
    embeddings
      .withColumn("cosine", cosU(col("embedding")))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** The probe set for a query vector: its sign bucket plus all Hamming-1
    * neighbor buckets (pure driver-side arithmetic — shared by the ad-hoc
    * and index-backed probes, and by oracle generation).
    */
  def probeBuckets(query: Seq[Double], dim: Int, nPlanes: Int = 8,
      seed: Long = 42L): Seq[Int] = {
    val ps = planes(dim, nPlanes, seed)
    var qBucket = 0
    ps.zipWithIndex.foreach { case (plane, p) =>
      val dot = plane.zip(query).map { case (a, b) => a * b }.sum
      if (dot > 0) qBucket |= (1 << p)
    }
    qBucket +: (0 until nPlanes).map(p => qBucket ^ (1 << p))
  }

  /** Ad-hoc LSH top-k over an in-memory DataFrame: probe the query's bucket
    * and all Hamming-1 neighbors, brute-force within. NOTE: without a
    * stored index this still SCANS every row to evaluate the bucket UDF —
    * it bounds the cosine work, not the I/O. At 10^10 vectors use
    * `writeIndex` + `indexTopK`, which prunes unprobed buckets at the
    * source via partition pruning.
    */
  def lshTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
      dim: Int, nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val probe = probeBuckets(query, dim, nPlanes, seed)
    val bucketed = embeddings.withColumn("bucket",
      signBucketCol(col("embedding"), dim, nPlanes, seed))
    bruteForceTopK(bucketed.filter(col("bucket").isin(probe: _*)), query, k)
  }

  /** Materialize the ANN index: the embeddings table laid out
    * `partitionBy("bucket")`, so a probe reads ONLY the probed buckets'
    * files (PartitionFilters at the scan — the 10^10-vector path; the scan
    * cost is |probed buckets|, not |table|). The planes are seed-derived,
    * so the index needs no stored model — any session can re-derive the
    * query bucket.
    */
  def writeIndex(embeddings: DataFrame, path: String, dim: Int,
      nPlanes: Int = 8, seed: Long = 42L): Unit =
    embeddings
      .withColumn("bucket", signBucketCol(col("embedding"), dim, nPlanes, seed))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Index-backed approximate top-k: partition-pruned read of the probe
    * buckets, brute-force cosine within them.
    */
  def indexTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      query: Seq[Double], k: Int, dim: Int, nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val probe = probeBuckets(query, dim, nPlanes, seed)
    val pruned = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(probe: _*)) // partition filter, not a row filter
    bruteForceTopK(pruned, query, k)
  }

  // ---- IVF (inverted-file) ANN ---------------------------------------------

  /** Deterministic IVF centroids: k seeded pseudo-random directions,
    * L2-normalized (IVF-flat with fixed random centroids — the
    * training-free baseline; cell assignment = nearest centroid by cosine,
    * which for unit centroids is argmax dot).
    */
  def ivfCentroids(dim: Int, k: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(k) { c =>
      val raw = Array.tabulate(dim) { i =>
        graft.fixtures.Fixtures.mix(seed, 7000L + c, i.toLong).toDouble / Long.MaxValue.toDouble
      }
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }

  /** Cell of a vector: argmax over centroid dot products (ties → lowest
    * cell id). Pure function — shared by the executor UDF, the query-side
    * probe and oracle generation.
    */
  def ivfCellOf(v: Seq[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      var dot = 0.0; var i = 0
      val ctr = centroids(c)
      val n = math.min(v.length, ctr.length)
      while (i < n) { dot += v(i) * ctr(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  def ivfCellCol(embedding: Column, dim: Int, k: Int, seed: Long): Column = {
    val cs = ivfCentroids(dim, k, seed)
    udf((v: Seq[Float]) => ivfCellOf(v, cs)).apply(embedding)
  }

  /** The nprobe cells nearest the query (by the same dot ranking). */
  def ivfProbeCells(query: Seq[Double], dim: Int, k: Int, nprobe: Int,
      seed: Long): Seq[Int] = {
    val cs = ivfCentroids(dim, k, seed)
    cs.zipWithIndex
      .map { case (ctr, c) => (c, ctr.zip(query).map { case (a, b) => a * b }.sum) }
      .sortBy { case (c, dot) => (-dot, c) }
      .take(nprobe).map(_._1).toSeq
  }

  /** Materialize the IVF index: embeddings laid out partitionBy(cell) —
    * probes read only the nprobe probed cells' files (partition pruning,
    * like writeIndex/indexTopK). k is the corpus-size knob: cells of
    * ~10³-10⁴ vectors (10^10 vectors want k ≈ 10^6, far beyond the 2^planes
    * granularity sign-bucket LSH offers at small plane counts).
    */
  def writeIvfIndex(embeddings: DataFrame, path: String, dim: Int,
      k: Int = 16, seed: Long = 42L): Unit =
    embeddings
      .withColumn("cell", ivfCellCol(col("embedding"), dim, k, seed))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** IVF top-k: partition-pruned read of the nprobe nearest cells,
    * brute-force cosine within.
    */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      query: Seq[Double], topK: Int, dim: Int, k: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val probe = ivfProbeCells(query, dim, k, nprobe, seed)
    bruteForceTopK(
      spark.read.parquet(indexPath).filter(col("cell").isin(probe: _*)), query, topK)
  }

  /** All-pairs top neighbors per vector within LSH buckets (batch ANN):
    * returns (a, b, cosine) for each vector's nearest `k` bucket-mates.
    */
  def bucketedNeighbors(embeddings: DataFrame, dim: Int, k: Int = 5,
      nPlanes: Int = 8, seed: Long = 42L, maxBucket: Int = 10000,
      corpusSize: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Guard.warnIfUndersized("bucketedNeighbors", corpusSize,
      math.pow(2.0, nPlanes), maxBucket)
    // nPlanes is the primary scale knob (see bucketedNeighborsAuto); the
    // maxBucket cap keeps a hot bucket from making the self-join quadratic
    val bucketed = Par.widen(embeddings).withColumn("bucket",
      signBucketCol(col("embedding"), dim, nPlanes, seed))
    // rank on the 6-decimal-ROUNDED cosine (ties broken by b): raw doubles
    // rank identically in any engine only down to ulp noise — rounding
    // first makes the top-k reproducible across engines (oracle-checkable)
    // at no semantic cost
    val pairs = Dedup.blockedPairs(bucketed, Seq("bucket"), "vec_id",
        Seq("embedding" -> "v"), maxBucket, "bucketedNeighbors")
      .filter(col("a") =!= col("b"))
      .withColumn("cosine", round(Dedup.cosineCol(col("va"), col("vb")), 6))
    val w = Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("a", "b", "cosine")
  }

  /** Corpus-aware batch ANN: counts the corpus once and sizes `nPlanes`
    * via Guard.autoPlanes so the expected bucket stays well under
    * `maxBucket` (see Dedup.embeddingDupPairsAuto).
    */
  def bucketedNeighborsAuto(embeddings: DataFrame, dim: Int, k: Int = 5,
      seed: Long = 42L, maxBucket: Int = 10000, targetBucket: Int = 0): DataFrame = {
    val n = embeddings.count()
    val target = if (targetBucket > 0) targetBucket else math.max(1, maxBucket / 8)
    val nPlanes = Guard.autoPlanes(n, target)
    bucketedNeighbors(embeddings, dim, k, nPlanes, seed, maxBucket, corpusSize = n)
  }
}
